"""perfbench: the repository's benchmark.

Run from the root of a checkout:

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (sizes and reasons in perfbench/WORKLOADS.md):
  catalog_many_tables    ForecastJob over many narrow tables: per-table job overhead
  catalog_wide_backtest  ForecastJob + backtest over a few wide tables: fit kernel
  query_mix              a fixed list of registered SparkEntry queries

The first run in a checkout builds the program and this package with sbt
(perfbench/build.sbt); later runs reuse the build while no source changed.
Inputs are generated from the seed into .bench_build/ and removed after
the run. The last line printed is the result:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The line before it, prefixed "perfbench.detail", carries the named
per-call timings, set-up parts, calibration and any check failures.

Other flags: --scale tiny (smoke-test inputs), --record FILE (query_mix:
write the observed per-query rows and hashes to FILE).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
QUERIES = os.path.join(HERE, "queries.json")

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s"}
PER_LAYER = {
    "job.spark_jobs": "count", "job.jobs_per_table": "jobs/table", "job.driver_gap_s": "s",
    "catalog.load_s": "s", "catalog.load_jobs": "count", "catalog.write_s": "s",
    "catalog.write_jobs": "count", "catalog.files_written": "count",
    "catalog.bytes_written": "bytes",
    "series.probe_s": "s", "series.probe_jobs": "count",
    "forecast.fits": "count", "forecast.fit_ms_per_series": "ms", "forecast.fit_task_s": "s",
    "forecast.shuffle_write_bytes": "bytes", "forecast.pivot_write_s": "s",
    "queries.construct_s": "s", "queries.exec_s": "s", "queries.construct_jobs": "count",
    "queries.exec_jobs": "count", "queries.stages": "count", "queries.tasks": "count",
    "queries.shuffle_write_bytes": "bytes", "queries.spill_bytes": "bytes",
    "spark.gc_s": "s", "host.calib_factor": "ratio", "trace.overhead_share": "ratio",
}
# named per-call metrics printed on the detail line, keyed by op name
NAMED_OPS = {"forecast": "forecast_s", "forecast_unioned": "forecast_unioned_s",
             "backtest": "backtest_s", "backtest_unioned": "backtest_unioned_s"}

# JDK 17 module opens Spark needs outside spark-submit
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads: program and benchmark sources."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(src)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def classpath():
    """Build with sbt unless the last build saw the same sources."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD_DIR, "classpath.stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log("building (sbt) ...")
    t0 = time.time()
    rc, out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"], timeout=840, cwd=HERE, env=env,
                        stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                        stdin=subprocess.DEVNULL, text=True)
    lines = out.splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: build failed")
    cp = [ln.strip() for ln in lines if ln.startswith("/") and ".jar" in ln][-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.0f s" % (time.time() - t0))
    return cp


def write_spec(workload, manifest, path):
    lines = []
    if workload == "query_mix":
        with open(QUERIES) as f:
            record = json.load(f)
        expected = record["expected"][manifest["scale"]]
        for q in record["queries"]:
            e = expected.get(q["name"], {})
            rows = e.get("rows", "-")
            h = "-" if q["name"] in record["row_count_only"] else e.get("hash", "-")
            lines.append("query\t%s\t%s\t%s" % (q["name"], rows, h))
    else:
        lines += ["forecast\t%s\t%d" % kv for kv in sorted(manifest["forecast_days"].items())]
        lines += ["skipped\t%s" % t for t in sorted(manifest["skipped"])]
        lines.append("series\t%d" % manifest["series"])
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def main(argv):
    ap = argparse.ArgumentParser(description="perfbench: the repository benchmark")
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--record", default=None)
    a = ap.parse_args(argv)
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: no program sources next to perfbench/ (build.sbt missing)")

    cp = classpath()
    work = os.path.join(BUILD_DIR, "run-%d-%d" % (os.getpid(), a.seed))
    shutil.rmtree(work, ignore_errors=True)
    inputs, tmp = os.path.join(work, "inputs"), os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        manifest = gen.generate(a.workload, a.seed, inputs, a.scale)
        spec = os.path.join(work, "spec.tsv")
        write_spec(a.workload, manifest, spec)
        cores = max(1, min(4, os.cpu_count() or 1))
        cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC"]
        cmd += [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
        cmd += ["-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
                "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
                "-Dderby.system.home=" + tmp,
                "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
                "-cp", cp, "perfbench.Main",
                "--workload", a.workload, "--input", inputs, "--spec", spec,
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
                "--record", "1" if a.record else "0"]
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
        rc, out = run_child(cmd, timeout=170, cwd=work, env=env, stdout=subprocess.PIPE, text=True)
        lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH ")]
        if rc != 0 or not lines:
            raise SystemExit("perfbench: benchmark JVM exited with %d" % rc)
        res = json.loads(lines[-1][len("PERFBENCH "):])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        metrics = {k: {"value": res["layers"].get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
        print("perfbench.detail " + json.dumps({
            "workload": a.workload, "seed": a.seed, "setup_s": res["setup_s"],
            "problems": res["problems"],
            "inputs": {k: v for k, v in manifest.items() if k != "forecast_days"}}))
        print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        return 0

    named = {NAMED_OPS[k]: {"value": v, "unit": "s"}
             for k, v in res["op_median_s"].items() if k in NAMED_OPS}
    if a.workload == "query_mix":
        named["query_total_s"] = {"value": res["pass_s"], "unit": "s"}
        named["query_p50_s"] = {"value": res["op_p50_s"], "unit": "s",
                                "samples": res["op_samples"]}
    named["failed_share"] = {"value": res["failed"] / max(1, res["attempted"]), "unit": "ratio"}
    detail = {"workload": a.workload, "seed": a.seed, "passes": res["pass_all_s"],
              "pass_cpu_s": res["pass_cpu_s"], "named": named,
              "setup": {k: res[k] for k in ("boot_s", "register_s", "warmup_s")},
              "calib": res["calib"], "problems": res["problems"],
              "inputs": {k: v for k, v in manifest.items() if k != "forecast_days"}}
    print("perfbench.detail " + json.dumps(detail))
    if a.record:
        with open(a.record, "w") as f:
            json.dump(res["seen"], f, indent=1, sort_keys=True)
    metrics = {k: {"value": res[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
