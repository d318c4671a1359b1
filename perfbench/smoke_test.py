"""Smoke test of the benchmark itself, at the tiny input size.

  python3 perfbench/smoke_test.py [workload ...]

For each workload it runs perfbench/run.py once untraced and once traced
on tiny inputs, and checks that the result line has exactly the metric
names and units BENCHMARK.json declares, that every output check passed,
and that the detail line names the workload's per-call metrics. It then
checks that a directory holding only BENCHMARK.json and perfbench/ makes
the benchmark exit non-zero without printing a result.
"""

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402

NAMED = {
    "catalog_many_tables": {"forecast_s", "forecast_unioned_s", "failed_share"},
    "catalog_wide_backtest": {"backtest_s", "backtest_unioned_s", "failed_share"},
    "query_mix": {"query_total_s", "query_p50_s", "failed_share"},
}


def run(cwd, *args):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + list(args),
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=900)
    return p.returncode, p.stdout.splitlines(), p.stderr


def check_workload(spec, workload):
    failures = []
    for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
        rc, out, err = run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
                           "--trace", str(trace), "--scale", "tiny")
        tag = "%s trace=%d" % (workload, trace)
        if rc != 0 or not out:
            failures.append("%s: exit %d\n%s" % (tag, rc, err[-2000:]))
            continue
        res = json.loads(out[-1])
        if set(res) != {"correct", "attempted", "failed", "metrics"}:
            failures.append("%s: result keys %s" % (tag, sorted(res)))
        want = {m["name"]: m["unit"] for m in declared}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            failures.append("%s: metrics %s, declared %s" % (tag, got, want))
        if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
            failures.append("%s: checks failed: %s" % (tag, out[-2][:2000]))
        if trace == 0:
            detail = json.loads(out[-2].split(" ", 1)[1])
            if set(detail["named"]) != NAMED[workload]:
                failures.append("%s: named metrics %s" % (tag, sorted(detail["named"])))
    return failures


def check_bare_directory():
    """Only BENCHMARK.json and perfbench/: must fail without a result."""
    bare = os.path.join(ROOT, ".bench_build", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        rc, out, _ = run(bare, "--workload", "query_mix", "--seed", "1", "--seconds", "1",
                         "--trace", "0")
        if rc == 0 or any(ln.startswith("{") for ln in out):
            return ["bare directory: exit %d, output %s" % (rc, out[-1:])]
        return []
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main(argv):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # every workload run.py knows, gated or not
    workloads = argv or list(gen.WORKLOADS)
    failures = check_bare_directory()
    for w in workloads:
        failures += check_workload(spec, w)
        print("%s: %s" % (w, "ok" if not failures else "FAILED"), flush=True)
    for f in failures:
        print("FAIL " + f)
    print("smoke test %s" % ("failed" if failures else "passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
