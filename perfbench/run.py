#!/usr/bin/env python3
"""graft's benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the harness from source (sbt, offline) when the
sources changed, runs one workload in a fresh JVM (one Spark session at
local[nproc], one client, closed loop), checks every output against DuckDB,
prints every metric with its unit, and prints one JSON object as the last
line of standard output. With --trace 0 it reports the end-to-end metrics;
with --trace 1 the per-layer metrics and the tracing overhead.

The fixture is the read-only sf0.01 star schema (override with
GRAFT_BENCH_FIXTURE). Build output, oracle cache, run records and Spark
scratch space go under perfbench/.work and the sbt target directories.
"""
import argparse
import decimal
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(HARNESS, "target", "launch.txt")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
HEAP = "3g"
YOUNG = "1g"
MART_DIMS = {"q23_dim_category": "dim_category", "q24_dim_product": "dim_product"}
RUN_LIMIT_S = 170      # a measured run must end within the 180 s contract
BUILD_LIMIT_S = 800    # the first run in a checkout builds

END_TO_END = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s",
              "op_p50_s": "s", "op_p90_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "queries.build_s": "s", "queries.eager_jobs": "count",
    "driver.action_s": "s", "driver.gap_s": "s",
    "plans.planning_s": "s", "plans.codegen_compiles": "count",
    "plans.codegen_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.task_gc_s": "s",
    "spark.task_deser_s": "s",
    "exchange.shuffle_write_mb": "MB", "exchange.shuffle_read_mb": "MB",
    "exchange.fetch_wait_s": "s", "exchange.spill_mb": "MB",
    "exchange.broadcasts": "count",
    "Tables.scan_s": "s", "Tables.files_read": "count",
    "Checkpoints.persisted_rdds": "count", "Checkpoints.block_read_mb": "MB",
    "Checkpoints.sweep_s": "s", "SharedFrames.cached_mb": "MB",
    "Load.write_s": "s", "Load.bytes_written": "bytes",
    "Load.files_written": "count", "pipelines.audit_s": "s",
    "trace.overhead_s": "s", "trace.overhead_frac": "1"}


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fixture_dir():
    d = os.environ.get("GRAFT_BENCH_FIXTURE") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.01")
    missing = [t for t in TABLES if not os.path.exists(f"{d}/{t}.parquet")]
    if missing:
        fail(2, f"fixture {d} lacks tables {missing}")
    return d


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            f for f in glob.glob(f"{top}/**/*", recursive=True)
            if os.path.isfile(f))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness unless the sources are unchanged
    since the last build in this checkout."""
    stamp = tree_hash([os.path.join(ROOT, "build.sbt"),
                       os.path.join(ROOT, "project", "build.properties"),
                       os.path.join(ROOT, "src", "main"),
                       os.path.join(HARNESS, "build.sbt"),
                       os.path.join(HARNESS, "project", "build.properties"),
                       os.path.join(HARNESS, "src", "main")])
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(LAUNCH) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return stamp
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    if "-Dsbt.offline=true" not in env["SBT_OPTS"]:
        env["SBT_OPTS"] += " -Dsbt.offline=true"
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "launchSpec"], HARNESS, env, out, BUILD_LIMIT_S)
    if rc != 0 or not os.path.exists(LAUNCH):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(3, f"build failed (exit {rc}); log in {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return stamp


def run_bounded(cmd, cwd, env, out, limit):
    """Run `cmd` in its own process group; kill the whole group if it is
    still running after `limit` seconds. Returns the exit code."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, limit))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def java(args, log_name, limit):
    with open(LAUNCH) as fh:
        lines = fh.read().splitlines()
    opts = [o for o in lines[1:] if not o.startswith(("-Xmx", "-Xms", "-Xmn"))]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    # a fixed heap and young generation size, so peak RSS does not depend
    # on when the collector grows the heap or how large it sizes the young
    # generation from measured pause times (which let peak RSS range from
    # 2.6 to 3.6 GB on the graph); no hsperfdata file, which would land
    # outside the checkout
    cmd = ["java", *opts, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", lines[0], "graft.perfbench.Main", *args]
    with open(os.path.join(WORK, log_name), "w") as out:
        return run_bounded(cmd, WORK, env, out, limit)


# ---------------------------------------------------------------- oracle

def canon(v):
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, decimal.Decimal):
        return v.normalize()
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    return v


def digest(table):
    """Row count, column names and types, and an order-independent hash of
    the rows (sum of per-row hashes) of an Arrow table."""
    df = table.to_pandas()
    cols = sorted(df.columns)
    df = df[cols]
    h = 0
    for row in df.itertuples(index=False, name=None):
        b = repr(tuple(canon(v) for v in row)).encode()
        h = (h + int.from_bytes(
            hashlib.blake2b(b, digest_size=8).digest(), "little")) % 2**64
    return {"rows": len(df), "cols": cols,
            "types": [str(df[c].dtype) for c in cols], "hash": h}


def oracle(stamp, fixture):
    """Expected digests for every query of every workload and the mart's
    expected counts, from DuckDB over the fixture; cached per build and
    fixture."""
    sig = [(t, os.path.getsize(f"{fixture}/{t}.parquet"),
            os.path.getmtime(f"{fixture}/{t}.parquet")) for t in TABLES]
    key = hashlib.sha256(json.dumps(
        [stamp, tree_hash([__file__]), fixture, sig]).encode()).hexdigest()
    cache = os.path.join(WORK, "oracle.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            got = json.load(fh)
        if got.get("key") == key:
            return got
    dump = os.path.join(WORK, "oracle_sql.json")
    if java(["--dump-oracle", dump], "oracle-jvm.log",
            RUN_LIMIT_S - (time.monotonic() - START)) != 0:
        fail(4, "could not read the oracle SQL from the program")
    with open(dump) as fh:
        spec = json.load(fh)
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixture}/{t}.parquet')")
    digests = {}
    # the mart's dimension tables are the outputs of q23 and q24
    names = {op for ops in spec["workloads"].values() for op in ops} | \
        set(MART_DIMS)
    for name in sorted(names):
        sql = spec["oracle_sql"].get(name)
        if sql is not None:
            digests[name] = digest(con.execute(sql).fetch_arrow_table())
    one = lambda sql: con.execute(sql).fetchone()[0]
    rows_only = {"q53_sketches": one(
        "SELECT count(*) FROM (SELECT DISTINCT o_orderpriority FROM orders)")}
    q54 = spec["oracle_sql"]["q54_corpus_prepare"]
    splits = dict(con.execute(
        f"SELECT split, count(*) FROM ({q54}) GROUP BY split").fetchall())
    expect = {"fact_rows": one("SELECT count(*) FROM lineitem JOIN orders "
                               "ON l_orderkey = o_orderkey"),
              "split_train": splits.get("train", 0),
              "split_val": splits.get("val", 0)}
    got = {"key": key, "digests": digests, "rows_only": rows_only,
           "expect": expect, "workloads": spec["workloads"]}
    with open(cache, "w") as fh:
        json.dump(got, fh)
    return got


def check_outputs(record, orc):
    """Compare every written output with the oracle; returns the mismatches
    (one entry per wrong output) and the row count of each output."""
    import pyarrow.parquet as pq
    wrong, rows = [], {}
    out = os.path.join(WORK, "out")
    written = {op["id"]: op["verified"] for p in record["passes"]
               for op in p["ops"] if op.get("verified")}
    if record["workload"] == "mart_etl":
        written.update({q: f"{out}/mart/{d}" for q, d in MART_DIMS.items()})
    for name, path in sorted(written.items()):
        if not os.path.isdir(path):
            wrong.append(f"{name}: no output at {path}")
            continue
        got = digest(pq.read_table(path))
        rows[name] = got["rows"]
        if name in orc["rows_only"]:
            if got["rows"] != orc["rows_only"][name]:
                wrong.append(f"{name}: {got['rows']} rows, expected "
                             f"{orc['rows_only'][name]}")
        elif name not in orc["digests"]:
            wrong.append(f"{name}: no oracle")
        elif got != orc["digests"][name]:
            exp = orc["digests"][name]
            what = [k for k in ("rows", "cols", "types", "hash")
                    if got[k] != exp[k]]
            wrong.append(f"{name}: differs in {what} "
                         f"(rows {got['rows']} vs {exp['rows']})")
    for p in record["passes"]:
        for op in p["ops"]:
            wrong.extend(f"{op['id']}: {c}" for c in op["checks_failed"])
    return wrong, rows


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    """The q-quantile of xs, linear between closest ranks."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def metrics(record):
    passes = record["passes"]
    cold = passes[0]
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    traced = [p for p in passes if p["kind"] == "warm" and p["traced"]]
    # a failed operation has no latency to report; it counts in `failed`
    lat = [o["latency_s"] for p in warm for o in p["ops"] if o["error"] is None]
    if not lat:
        fail(5, "no operation of a warm pass succeeded")
    e2e = {
        "setup_s": statistics.median(record["setup_s"]),
        "first_pass_s": sum(o["latency_s"] for o in cold["ops"]),
        "pass_s": statistics.median(
            sum(o["latency_s"] for o in p["ops"]) for p in warm),
        "op_p50_s": quantile(lat, 0.5),
        "op_p90_s": quantile(lat, 0.9),
        "peak_rss_mb": record["peak_rss_mb"],
    }
    layers = None
    if traced:
        names = sorted(traced[0]["layers"])
        layers = {k: statistics.median(p["layers"][k] for p in traced)
                  for k in names}
        for k in ("plans.codegen_compiles", "plans.codegen_ms"):
            layers[k] = cold["layers"][k]
        traced_pass = statistics.median(
            sum(o["latency_s"] for o in p["ops"]) for p in traced)
        layers["trace.overhead_s"] = traced_pass - e2e["pass_s"]
        layers["trace.overhead_frac"] = layers["trace.overhead_s"] / e2e["pass_s"]
    return e2e, layers, len(lat)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for f in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(2, f"no {f} in {ROOT}: not a checkout of the program")
    if not shutil.which("java") or not shutil.which("sbt"):
        fail(2, "java and sbt must be on PATH")
    fixture = fixture_dir()
    os.makedirs(WORK, exist_ok=True)
    stamp = build()
    orc = oracle(stamp, fixture)
    if a.workload not in orc["workloads"]:
        fail(2, f"unknown workload {a.workload}; "
                f"known: {sorted(orc['workloads'])}")
    # every run starts from an empty output area
    for d in ("out", "verify"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    rec_path = os.path.join(WORK, "records", f"{tag}.json")
    os.makedirs(os.path.dirname(rec_path), exist_ok=True)
    if os.path.exists(rec_path):
        os.remove(rec_path)
    expect = ",".join(f"{k}={v}" for k, v in orc["expect"].items())
    rc = java(["--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--fixture", fixture, "--work", WORK, "--record", rec_path,
               "--expect", expect], f"jvm-{tag}.log",
              RUN_LIMIT_S - (time.monotonic() - START))
    if rc != 0 or not os.path.exists(rec_path):
        fail(4, f"harness exited {rc}; log in {WORK}/jvm-{tag}.log")
    with open(rec_path) as fh:
        record = json.load(fh)

    wrong, rows = check_outputs(record, orc)
    e2e, layers, n_lat = metrics(record)
    ops = [o for p in record["passes"] for o in p["ops"]]
    failures = [o for o in ops if o["error"] is not None]
    attempted, failed = len(ops), len(failures)

    print(f"workload {a.workload} seed {a.seed} trace {a.trace} "
          f"cpus {record['cpus']} fixture {fixture}")
    print(f"loadavg before [{record['loadavg_before']}] "
          f"after [{record['loadavg_after']}]")
    warm = [p for p in record["passes"] if p["kind"] == "warm"]
    warmup = [p for p in record["passes"] if p["kind"] == "warmup"]
    print(f"passes: 1 cold + {len(warmup)} warm-up + {len(warm)} warm in "
          f"{record['window_s']:.1f} s; {n_lat} warm op samples; host steal "
          f"{sum(p['host_steal_s'] for p in warm):.2f} s over the warm passes")
    print("output rows: " + ", ".join(f"{k} {v}" for k, v in sorted(rows.items())))
    for o in failures:
        msg = " ".join(o["error"]["message"].split())
        print(f"failed op {o['op']} {o['id']}: {o['error']['class']}: {msg[:160]}")
    for w in wrong:
        print(f"wrong result: {w}")
    for k, unit in END_TO_END.items():
        print(f"{k:>24} {e2e[k]:12.4f} {unit}")
    print(f"{'failed_frac':>24} {failed / attempted:12.4f} 1 "
          f"({failed} of {attempted} ops)")
    print(f"{'wrong_results':>24} {len(wrong):12d} count")
    out, units = e2e, END_TO_END
    if a.trace:
        if layers is None:
            fail(5, "traced run recorded no traced pass")
        for k, unit in PER_LAYER.items():
            print(f"{k:>28} {layers[k]:14.4f} {unit}")
        out, units = {k: layers[k] for k in PER_LAYER}, PER_LAYER
    print(f"record {rec_path}")
    with open(rec_path.replace(".json", "-result.json"), "w") as fh:
        json.dump({"end_to_end": e2e, "per_layer": layers,
                   "wrong": wrong, "rows": rows, "attempted": attempted,
                   "failed": failed}, fh)
    print(json.dumps({
        "correct": not wrong, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in out.items()}}))


if __name__ == "__main__":
    main()
