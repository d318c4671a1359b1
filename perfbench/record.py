"""Re-record query_mix's expected per-query results.

  python3 perfbench/run.py --workload query_mix --seed N --seconds 1 --record seen_N.json
  python3 perfbench/record.py --scale full seen_1.json seen_2.json seen_3.json

Each seen file maps query -> [rows, hash] from one run. A query whose
hash agrees across every file is pinned by rows and hash; one whose hash
differs (not bit-deterministic under a row-order change) is pinned by
rows only and listed in "row_count_only". Rows must agree everywhere.
"""

import argparse
import json
import os
import sys

QUERIES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "queries.json")


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--scale", required=True, choices=("full", "tiny"))
    ap.add_argument("seen", nargs="+")
    a = ap.parse_args(argv)
    runs = [json.load(open(p)) for p in a.seen]
    with open(QUERIES) as f:
        record = json.load(f)
    expected, loose = {}, set(record["row_count_only"])
    for q in record["queries"]:
        name = q["name"]
        obs = [r[name] for r in runs]
        rows = {o[0] for o in obs}
        if len(rows) != 1:
            raise SystemExit("%s: row counts differ across runs: %s" % (name, sorted(rows)))
        expected[name] = {"rows": obs[0][0], "hash": obs[0][1]}
        if len({o[1] for o in obs}) != 1:
            loose.add(name)
    record["expected"][a.scale] = expected
    record["row_count_only"] = sorted(loose)
    with open(QUERIES, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print("recorded %d queries (%d row-count only)" % (len(expected), len(loose)))


if __name__ == "__main__":
    main(sys.argv[1:])
