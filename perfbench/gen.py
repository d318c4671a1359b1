"""Seeded input generator for the perfbench workloads.

Every input is synthesised here from the workload seed; nothing is read
from outside the output directory. The same (workload, seed, scale)
always yields byte-identical parquet files.

  catalog_many_tables    many narrow daily tables (2-4 metrics each) plus
                         one table for every skip path of ForecastJob
  catalog_wide_backtest  a few wide daily tables (many metric columns)
  query_mix              a TPC-H-shaped fixture set (region .. embeddings)
                         in the layout graft.sources.Fixtures reads

For query_mix the logical content is fixed (built from QUERY_MIX_BASE_SEED)
and the workload seed only permutes each table's row order, so the
committed per-query row counts and consume hashes hold for every seed.

usage: python3 perfbench/gen.py --workload NAME --seed N --out DIR [--scale full|tiny]
"""

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

QUERY_MIX_BASE_SEED = 20240101
EPOCH_1995 = np.datetime64("1995-01-01", "D")

# Input sizes per workload and scale. "tiny" is the smoke-test size.
SIZES = {
    "catalog_many_tables": {
        "full": {"tables": 2, "days": 2500, "keep": 0.96},
        "tiny": {"tables": 3, "days": 200, "keep": 0.96},
    },
    "catalog_wide_backtest": {
        "full": {"tables": 4, "metrics": 8, "days": 1100, "keep": 0.98},
        "tiny": {"tables": 2, "metrics": 3, "days": 160, "keep": 0.98},
    },
    # row counts of the sf0.01 / sf0.001 fixture shapes
    "query_mix": {
        "full": {"customer": 1500, "supplier": 100, "part": 2000,
                 "orders": 15000, "lineitem": 60000, "events": 10000,
                 "users": 150, "documents": 500, "embeddings": 500},
        "tiny": {"customer": 150, "supplier": 10, "part": 200,
                 "orders": 1500, "lineitem": 6000, "events": 1000,
                 "users": 50, "documents": 500, "embeddings": 500},
    },
}

WORKLOADS = tuple(SIZES)


def write(table, out_dir, name):
    pq.write_table(table, os.path.join(out_dir, name + ".parquet"))


def seasonal_series(rng, days, level, weekly, yearly, trend, noise):
    """A daily series with trend, weekly and yearly cycles and noise."""
    t = days.astype(np.float64)
    y = (level + trend * t
         + weekly * np.sin(2 * np.pi * t / 7.0 + rng.uniform(0, 6.28))
         + yearly * np.sin(2 * np.pi * t / 365.25 + rng.uniform(0, 6.28))
         + rng.normal(0.0, noise, len(t)))
    return np.maximum(y, 0.0)


def sparse_days(rng, n_days, keep):
    mask = rng.random(n_days) < keep
    mask[0] = mask[-1] = True
    return np.nonzero(mask)[0]


def date_column(days, kind):
    dates = EPOCH_1995 + days
    if kind == "string":
        return pa.array(np.datetime_as_string(dates, unit="D"), pa.string())
    if kind == "timestamp":
        return pa.array(dates.astype("datetime64[us]"), pa.timestamp("us"))
    return pa.array(dates, pa.date32())


def gen_many_tables(rng, out_dir, size):
    """Narrow tables split on a seed-salted shop key, plus skip-path tables.

    Returns the manifest the benchmark checks against: which tables are
    forecast, their distinct history days, and which are skipped.
    """
    n_tables, n_days, keep = size["tables"], size["days"], size["keep"]
    salt = int(rng.integers(0, 2**31))
    date_kinds = ("string", "date", "timestamp")
    tables = {}
    for i in range(n_tables):
        # the seed-salted key decides the table name, so which shop lands
        # in which table (and its series) changes with the seed
        name = "shop_%02d_%04x" % (i, (salt >> (i % 16)) & 0xFFFF)
        days = sparse_days(rng, n_days, keep)
        n_metrics = 2 + (i % 3)
        level = rng.uniform(50, 500)
        cols = {"date": date_column(days, date_kinds[i % 3])}
        revenue = seasonal_series(rng, days, level * 40, level * 6, level * 9, 0.05, level * 3)
        cols["revenue"] = pa.array(np.round(revenue, 2), pa.float64())
        cols["orders"] = pa.array(np.round(revenue / 40).astype(np.int64), pa.int64())
        if n_metrics >= 3:
            qty = seasonal_series(rng, days, level, level / 8, level / 5, 0.001, level / 10)
            cols["quantity"] = pa.array(np.round(qty).astype(np.int32), pa.int32())
        if n_metrics >= 4:
            disc = seasonal_series(rng, days, 0.05, 0.004, 0.01, 0.0, 0.01)
            cols["discount"] = pa.array(np.round(disc, 4), pa.float64())
        tables[name] = (pa.table(cols), len(days))

    # the bucket_x / x collision: both map to bucket_forecast_x, the job
    # runs bucket_x (sorts first) and reports x as skipped
    days = sparse_days(rng, n_days, keep)
    for name in ("bucket_web", "web"):
        y = seasonal_series(rng, days, 300, 30, 50, 0.02, 20)
        tables[name] = (pa.table({"date": date_column(days, "date"),
                                  "visits": pa.array(np.round(y).astype(np.int64))}),
                        len(days))
    for name, (table, _) in tables.items():
        write(table, out_dir, name)

    skipped = {
        "web": "output name collides with bucket_web",
        "clicks_raw": "no date column",
        "shop_labels": "no numeric metric columns",
        "shop_empty": "empty table",
    }
    write(pa.table({"ts": pa.array(np.arange(50, dtype=np.int64)),
                    "clicks": pa.array(rng.integers(0, 9, 50))}), out_dir, "clicks_raw")
    write(pa.table({"date": date_column(np.arange(20), "string"),
                    "label": pa.array(["l%d" % (d % 3) for d in range(20)])}),
          out_dir, "shop_labels")
    write(pa.table({"date": pa.array([], pa.date32()),
                    "revenue": pa.array([], pa.float64())}), out_dir, "shop_empty")
    forecast = {n: d for n, (_, d) in tables.items() if n != "web"}
    return {"forecast_days": forecast, "skipped": skipped, "backtest": False,
            "tables": len(forecast), "series": sum(
                len(tables[n][0].column_names) - 1 for n in forecast)}


def gen_wide(rng, out_dir, size):
    """Wide tables, one per region, with one metric column per seed-salted
    supplier bucket; every table has the same columns."""
    n_tables, n_metrics = size["tables"], size["metrics"]
    n_days, keep = size["days"], size["keep"]
    buckets = np.sort(rng.permutation(1000)[:n_metrics])
    forecast = {}
    for i in range(n_tables):
        name = "region_%d" % i
        days = sparse_days(rng, n_days, keep)
        cols = {"date": date_column(days, "date")}
        for j in range(n_metrics):
            level = rng.uniform(20, 200)
            y = seasonal_series(rng, days, level, level / 5, level / 3, 0.01, level / 8)
            cols["supp_%03d" % buckets[j]] = pa.array(np.round(y, 2))
        write(pa.table(cols), out_dir, name)
        forecast[name] = len(days)
    return {"forecast_days": forecast, "skipped": {}, "backtest": True,
            "tables": n_tables, "series": n_tables * n_metrics}


VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def gen_fixtures(out_dir, size, seed):
    """TPC-H-shaped fixtures; content from the base seed, row order from `seed`."""
    rng = np.random.default_rng(QUERY_MIX_BASE_SEED)
    n = size
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    def people(prefix, count):
        return {
            prefix + "_name": ["%s#%09d" % ("Customer" if prefix == "c" else "Supplier", i)
                               for i in range(count)],
            prefix + "_nationkey": pa.array(rng.integers(0, 25, count).astype(np.int32)),
            prefix + "_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, count), 2)),
        }

    c = {"c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64))}
    c.update(people("c", n["customer"]))
    segs = np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"])
    c["c_mktsegment"] = segs[rng.integers(0, 5, n["customer"])]
    t["customer"] = pa.table(c)
    s = {"s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64))}
    s.update(people("s", n["supplier"]))
    t["supplier"] = pa.table(s)

    colors = np.array("red blue green small large shiny matte steel".split())
    nouns = np.array("ring widget bolt gear pipe valve spring plate".split())
    types = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
    np_ = n["part"]
    keys = np.arange(np_, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(colors[rng.integers(0, 8, np_)], " "),
                              nouns[rng.integers(0, 8, np_)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
        "p_type": types[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    no = n["orders"]
    odate = EPOCH_1995 + rng.integers(0, 2400, no)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no),
        "o_orderstatus": np.array(["P", "F", "O"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, no)]})

    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, np_, nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array((EPOCH_1995 + 1 + rng.integers(0, 2499, nl))
                               .astype("datetime64[us]"), pa.timestamp("us"))})

    ne = n["events"]
    ts_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ts_us,
                       pa.timestamp("us")),
        "user_id": rng.integers(0, n["users"], ne),
        "event_type": np.array(["view", "click", "signup", "purchase", "error"])[
            rng.integers(0, 5, ne)],
        "value": np.round(np.maximum(rng.exponential(50.0, ne), 0.01), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB),
                                                               int(rng.integers(10, 100)))))
    langs = np.array(["en"] * 3 + ["zh", "es", "de", "fr"])
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), nd)],
        "source": np.char.add("src", rng.integers(0, 20, nd).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})

    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, nv)
    vec = 0.18 * centers[labels] + rng.normal(0.0, 1.0, (nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})

    order_rng = np.random.default_rng(seed)
    for name, table in t.items():
        write(table.take(order_rng.permutation(table.num_rows)), out_dir, name)
    return {"tables": len(t), "rows": {k: v.num_rows for k, v in t.items()}}


def generate(workload, seed, out_dir, scale="full"):
    """Write the workload's inputs into `out_dir` and return its manifest."""
    if workload not in SIZES:
        raise ValueError("unknown workload %r (known: %s)" % (workload, ", ".join(WORKLOADS)))
    os.makedirs(out_dir, exist_ok=True)
    size = SIZES[workload][scale]
    if workload == "query_mix":
        manifest = gen_fixtures(out_dir, size, seed)
    else:
        rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
        gen = gen_many_tables if workload == "catalog_many_tables" else gen_wide
        manifest = gen(rng, out_dir, size)
    manifest.update({"workload": workload, "seed": seed, "scale": scale})
    return manifest


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", default="full", choices=("full", "tiny"))
    a = ap.parse_args(argv)
    print(json.dumps(generate(a.workload, a.seed, a.out, a.scale)))


if __name__ == "__main__":
    main(sys.argv[1:])
