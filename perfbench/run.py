#!/usr/bin/env python3
"""Benchmark of the listens ETL path and of the report and operator
queries, measured end to end and layer by layer.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark program from source (sbt, offline) into perfbench/target; later
runs rebuild only when a source changed. Each run renders its inputs from
the seed under perfbench/work, runs one JVM (local[nproc], one client,
operations one after another), checks every output, and prints one JSON
line last: end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`. It exits non-zero when an output check fails. The full run
record, stamped with host and configuration, goes to
perfbench/results/<workload>-c<cores>-s<seed>-t<trace>.json.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

HEAP = "2g"
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840

# Input sizes per workload.
WORKLOADS = {
    "etl": {"listens": 4000, "users": 40, "files": 4, "dups": 60,
            "corrupt": 8, "ticks": 3, "tick_files": 3, "tick_rows": 40,
            "tick_users": 3, "tick_corrupt": 1},
    "queries": {"tables": {
        "events": 15000, "users": 300, "documents": 250,
        "orders": 3000, "parts": 600, "customers": 300, "suppliers": 30}},
}

# The report surface, then one operator per mechanism later work will
# change: the capped-block self-join (q323), the eager-count cache over the
# shuffled gram multiset (q298), in-row co-occurrence top-k (q104), the
# shared triangle adjacency (q93) and the fixpoint graph loop (q233).
QUERIES = [
    "q10_bronze_flatten", "q11_silver_dedup", "q12_gold_daily", "q13_gold_top3_days",
    "q14_top_users", "q15_first_event", "q16_users_on_date", "q17_distinct_dates",
    "q18_active_7day", "q19_hourly_activity", "q20_monthly_trends", "q21_diversity",
    "q22_user_profile", "q23_daily_profile", "q24_top_types", "q25_running_totals",
    "q323_edit_distance_dups", "q298_dedup_sweep", "q104_item_item_recs",
    "q93_copurchase_triangles", "q233_cheapest_paths"]

END_TO_END = ["setup_s", "pass_s", "op_p50_ms", "rows_per_s", "peak_rss_mib"]
UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_ms": "ms", "rows_per_s": "rows/s",
         "peak_rss_mib": "MiB"}


def die(msg, code=2):
    print(msg, file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def spark_home():
    """SPARK_HOME, else the installation whose bin/ on PATH has the Spark
    jars beside it."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    die("Spark not found: set SPARK_HOME")


def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def build():
    """Compile engine + benchmark when any source changed since the last
    build. Returns the classpath."""
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    home = spark_home()
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline", SBT_OPTS=(
            "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
            + ("-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
               if os.path.exists(os.path.expanduser("~/.sbt/repositories")) else "")))
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
            die("build failed", 3)
        with open(stamp, "w") as fh:
            fh.write(digest)
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    return ":".join([classes, os.path.join(ROOT, "src", "main", "resources")] + jars)


# ------------------------------------------------------------------- data

def render(workload, seed, data):
    cfg = WORKLOADS[workload]
    if workload == "etl":
        gen.day_corpus(seed, data, **cfg)
    else:
        gen.write_tables(seed, data, cfg["tables"])


# --------------------------------------------------------------- run JVM

def run_jvm(cp, args, work, limit):
    opens = [f"java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: with C2 the JIT is still recompiling Spark's planning
    # and scheduling code a minute into a run, and runs of the same input
    # differed by a quarter; C1 settles within the warm-up pass. A fixed
    # heap keeps heap resizing out of the timings.
    cmd = ["java"] + [x for p in opens for x in ("--add-opens", p)] + [
        "-XX:TieredStopAtLevel=1", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.codegen.cache.maxEntries=5000",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "wb") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


# ------------------------------------------------------------- oracle

def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def oracle_failures(rec, data):
    """Compare each verified query's rows with its oracle SQL run in
    DuckDB over the same tables (sorted column names, exact values, row
    order). Returns the list of failures."""
    if "oracle_sql" not in rec:
        return []
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data, "*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    bad = []
    for name, sql in sorted(rec["oracle_sql"].items()):
        if sql is None:
            bad.append(f"{name}: no oracle SQL")
            continue
        try:
            o = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # an oracle error is a failed check
            bad.append(f"{name}: oracle error {e}")
            continue
        s = pq.read_table(os.path.join(rec["verify_dir"], name))
        oc, sc = sorted(o.column_names), sorted(s.column_names)
        if oc != sc:
            bad.append(f"{name}: columns {sc} != {oc}")
            continue
        rows = lambda t: [tuple(_canon(c[i].as_py()) for c in t.select(oc).columns)
                          for i in range(t.num_rows)]
        if o.num_rows != s.num_rows or rows(o) != rows(s):
            bad.append(f"{name}: rows differ ({s.num_rows} vs oracle {o.num_rows})")
    return bad


# ------------------------------------------------------------- metrics

def med(xs):
    return statistics.median(xs) if xs else 0.0


def tail(ms):
    """Highest of p50/p75/p90/p95/p99 with at least ten samples beyond it:
    (ms, percentile, samples beyond), or (0, 0, 0) when none qualifies."""
    xs = sorted(ms)
    best = (0.0, 0, 0)
    for p in (50, 75, 90, 95, 99):
        k = math.ceil(p / 100 * len(xs)) - 1
        if k >= 0 and len(xs) - 1 - k >= 10:
            best = (xs[k], p, len(xs) - 1 - k)
    return best


def end_to_end(rec):
    passes = [p for p in rec["passes"] if not p["traced"]]
    ops = [o[1] for p in passes for o in p["ops"]]
    rows = [p["counts"].get("listen_ingest.rows_in", rec.get("table_rows", 0)) / p["seconds"]
            for p in passes if p["seconds"] > 0]
    return {
        "setup_s": rec["setup_s"],
        "pass_s": med([p["seconds"] for p in passes]),
        "op_p50_ms": med(ops),
        "rows_per_s": med(rows),
        "peak_rss_mib": rec["peak_rss_mib"],
    }


LAYER_COUNTS = [
    "ledger.files_listed", "ledger.files_hashed", "ledger.files_new", "ledger.rows",
    "listen_ingest.rows_in", "listen_ingest.corrupt_rows", "listen_ingest.input_mb",
    "listen_ingest.bronze_rows", "listen_ingest.bronze_files", "listen_ingest.bronze_mb",
    "listen_ingest.silver_rows", "listen_ingest.dup_dropped", "listen_ingest.silver_files",
    "listen_ingest.gold_rows", "listen_ingest.peak_rows",
    "streaming_ingest.batches", "streaming_ingest.rows", "streaming_ingest.files",
    "lake.files_written"]
SPAN_TIMES = {"ledger.tick_s": "ledger", "listen_ingest.read_s": "listen_ingest.read",
              "listen_ingest.bronze_s": "listen_ingest.bronze",
              "listen_ingest.silver_s": "listen_ingest.silver",
              "listen_ingest.gold_s": "listen_ingest.gold",
              "streaming_ingest.s": "streaming_ingest"}


def per_layer(rec):
    traced = [p for p in rec["passes"] if p["traced"]]
    plain = [p for p in rec["passes"] if not p["traced"]]
    n = max(1, len(traced))
    mean = lambda f: sum(f(p) for p in traced) / n
    out = {}
    for m, span in SPAN_TIMES.items():
        out[m] = mean(lambda p: p["self"].get(span, 0.0))
    for m in LAYER_COUNTS:
        out[m] = mean(lambda p: p["counts"].get(m, 0.0))
    out["ledger.useful_ratio"] = (out["ledger.files_new"] / out["ledger.files_hashed"]
                                  if out["ledger.files_hashed"] else 0.0)
    tal = lambda p, layer, k: p["tally"].get(layer, {}).get(k, 0)
    out["ledger.jobs"] = mean(lambda p: tal(p, "ledger", "jobs"))
    out["listen_ingest.silver_shuffle_mb"] = mean(
        lambda p: tal(p, "listen_ingest.silver", "shuffle_bytes")) / 1048576
    out["listen_ingest.bronze_list_tasks"] = mean(
        lambda p: tal(p, "listen_ingest.silver", "list_tasks"))
    out["streaming_ingest.rows_per_s"] = (out["streaming_ingest.rows"] / out["streaming_ingest.s"]
                                          if out["streaming_ingest.s"] else 0.0)
    out["events_pipeline.silver_build_s"] = rec.get("silver_build_s", 0.0)
    by_q = {}
    for p in traced:
        for name, ms, _ in p["ops"]:
            by_q.setdefault(name, []).append(ms)
    for q in QUERIES:
        out[f"query.{q}.ms"] = med(by_q.get(q, []))
    plans = [(s[4] - s[3]) * 1e3 for s in rec["spans"] if s[2] == "query.plan"]
    out["query.plan_ms"] = med(plans)
    total = lambda p, k: sum(t.get(k, 0) for t in p["tally"].values())
    out["spark.jobs"] = mean(lambda p: total(p, "jobs"))
    out["spark.stages"] = mean(lambda p: total(p, "stages"))
    out["spark.tasks"] = mean(lambda p: total(p, "tasks"))
    out["spark.task_s"] = mean(lambda p: total(p, "task_ms")) / 1e3
    cores = rec["host"]["cores"]
    out["spark.busy_ratio"] = mean(lambda p: total(p, "task_ms") / 1e3 / (p["seconds"] * cores))
    out["spark.shuffle_mb"] = mean(lambda p: total(p, "shuffle_bytes")) / 1048576
    out["spark.spill_mb"] = mean(lambda p: total(p, "spill_bytes")) / 1048576
    out["spark.gc_ms"] = mean(lambda p: total(p, "gc_ms"))
    out["spark.peak_task_mem_mb"] = max(
        [t.get("peak_mem_bytes", 0) for p in traced for t in p["tally"].values()] or [0]) / 1048576
    out["trace.pass_s"] = mean(lambda p: p["seconds"])
    out["trace.unattributed_s"] = mean(lambda p: p["seconds"] - sum(p["self"].values()))
    out["trace.overhead_s"] = (med([p["seconds"] for p in traced]) - med([p["seconds"] for p in plain])
                               if traced and plain else 0.0)
    ops = [o[1] for p in rec["passes"] for o in p["ops"]]
    out["ops.tail_ms"], out["ops.tail_pct"], out["ops.tail_n"] = tail(ops)
    out["ops.count"] = len(ops)
    return out


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources not found: run from the root of a full checkout")
    cp = build()
    t0 = time.monotonic()
    cores = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-c{cores}-s{a.seed}-t{a.trace}"
    work = os.path.join(HERE, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    render(a.workload, a.seed, data)
    out = os.path.join(work, "record.json")
    rc = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--data", data, "--work", work, "--out", out,
                      "--cores", str(cores)]
                 + (["--queries", ",".join(QUERIES)] if a.workload == "queries" else []),
                 work, RUN_LIMIT_S - (time.monotonic() - t0))
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(os.path.join(work, "jvm.log"), errors="replace").read()[-4000:])
        die(f"benchmark JVM failed (exit {rc})", 1)
    rec = json.load(open(out))
    import pyarrow.parquet as pq
    rec["table_rows"] = sum(pq.ParquetFile(f).metadata.num_rows
                            for f in glob.glob(os.path.join(data, "*.parquet")))
    oracle = oracle_failures(rec, data)
    checks = rec["failures"]
    ops = [o for p in rec["passes"] for o in p["ops"]]
    attempted = len(ops) + len(rec.get("oracle_sql", {}))
    # a failed check marks its pass's operations failed; checks outside
    # any pass count on their own
    failed = sum(1 for o in ops if not o[2]) + len(oracle)
    if not failed:
        failed = len(checks)
    correct = failed == 0
    e2e = end_to_end(rec)
    layers = per_layer(rec)
    rec.update(oracle_failures=oracle, end_to_end=e2e, per_layer=layers,
               attempted=attempted, failed=failed)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", tag + ".json"), "w") as fh:
        json.dump(rec, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    for msg in oracle + checks:
        print("CHECK FAILED", msg)
    for k, v in e2e.items():
        print(f"{k} {v:.6g} {UNITS[k]}")
    print(f"fail_ratio {failed / max(1, attempted):.6g}")
    metrics = ({k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END} if a.trace == 0
               else {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()})
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


def layer_unit(name):
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_ms") or name.endswith(".ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_pct"):
        return "pct"
    return "count"


if __name__ == "__main__":
    main()
