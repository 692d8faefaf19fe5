#!/usr/bin/env python3
"""Repository benchmark: the paper's flow timed end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload nightly --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark harness from source with sbt (once per
source tree; the classpath is cached under the build directory), generates
the seed-independent TPC-H-shaped inputs (once), runs one JVM that drives
the engine's public functions, checks every output and prints, as the last
stdout line, one JSON object with the keys correct, attempted, failed and
metrics. The line before it is the full report: every metric with its unit,
the environment, setup reps, per-op walls and failures.

Build and run outputs go to $CARGO_TARGET_DIR (default .bench_build).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("nightly", "refresh")
SCALE = 0.005  # size of the generated star, in TPC-H scale-factor units
CPUS = len(os.sched_getaffinity(0))  # local[nproc]
HEAP = "3g"
RUN_LIMIT_S = 170  # the whole run must end within 180 s
BUILD_LIMIT_S = 600  # with RUN_LIMIT_S, a first run ends within 900 s

# the JDK 17 module opens Spark needs outside spark-submit (the root
# build.sbt passes the same list to forked runs)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

PULL_COLS = ["customer_id", "article_id", "t_dat_us", "price", "sales_channel_id",
             "last_price", "last_sales_channel_id", "last_t_dat_us", "brand", "ptype",
             "psize", "s3_url", "mktsegment", "acctbal"]
PULL_ORDER = "ORDER BY t_dat_us, customer_id, article_id, price, sales_channel_id"

SPANS = ["bronze.load", "models.stardag", "features.pipeline", "rank.split",
         "rank.twotower_grid", "rank.twotower_serve", "rank.cooccur_fit",
         "rank.cooccur_serve", "rank.eval", "serve.recs_table", "serve.refresh_batch"]
COUNTER_UNITS = {"wall_s": "s", "cpu_s": "s", "gc_s": "s", "jobs": "count",
                 "tasks": "count", "driver_gap_s": "s", "shuffle_write_bytes": "bytes",
                 "spill_bytes": "bytes", "rows_read": "rows"}
EXTRA_UNITS = {"pipeline.self_s": "s", "bronze.load.bytes_written": "bytes",
               "models.stardag.rows_out": "rows", "serve.refresh_batch.log_rows": "rows",
               "serve.refresh_batch.users_put": "count", "rank.eval.recall_at10": "ratio",
               "rank.eval.ndcg_at10": "ratio", "trace.overhead_ratio": "ratio"}
E2E_UNITS = {"setup_s": "s", "pipeline_s": "s", "events_per_s": "1/s", "live_heap_mb": "MB"}


def layer_units():
    units = {f"{s}.{c}": u for s in SPANS for c, u in COUNTER_UNITS.items()}
    units.update(EXTRA_UNITS)
    return units


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files(root):
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_hash(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(root, out, src_hash):
    """Compile engine + harness once per source tree; returns the classpath
    and the DAG's oracle SQL. A stamp next to the compiled classes tells
    whether they still belong to this tree."""
    cache = os.path.join(out, "build.json")
    stamp = os.path.join(HERE, "target", "built-from")
    if os.path.exists(cache) and os.path.exists(stamp):
        with open(cache) as fh, open(stamp) as st:
            info = json.load(fh)
            if info["hash"] == src_hash and st.read() == src_hash:
                return info
    log("building engine and benchmark harness with sbt")
    t0 = time.time()
    # resolve offline from the local caches, as the repository's own build does
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx4g "
                           f"-Dsbt.repository.config={repos}")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        raise RuntimeError("sbt build failed:\n" + "\n".join(lines[-30:]))
    cp = lines[-1].strip()
    sql = subprocess.run(["java", "-cp", cp, "perfbench.OracleSql"], stdin=subprocess.DEVNULL,
                         capture_output=True, text=True, timeout=120, check=True).stdout
    info = {"hash": src_hash, "classpath": cp, "oracle_sql": sql,
            "build_s": round(time.time() - t0, 1)}
    with open(stamp, "w") as st:
        st.write(src_hash)
    write_json(cache, info)
    return info


def duck(out):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{out}/duckdb_tmp'")
    con.execute("SET preserve_insertion_order = true")
    return con


def digest(con, relation, order):
    """(rows, order-sensitive hash) of a final_pull-shaped relation."""
    row = ", ".join(f"CAST({c} AS VARCHAR)" for c in PULL_COLS)
    n, h = con.execute(
        f"SELECT count(*), bit_xor(hash(rn, {row})) FROM "
        f"(SELECT *, row_number() OVER ({order}) rn FROM ({relation}))").fetchone()
    return f"{n}:{h}"


def oracle_digest(con, data, sql, out):
    """DuckDB oracle of the DAG over the generated star (cached per data +
    SQL)."""
    key = hashlib.sha256((data + sql).encode()).hexdigest()[:16]
    path = os.path.join(out, f"oracle-{key}.txt")
    if not os.path.exists(path):
        for t in ("customer", "part", "orders", "lineitem"):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        with open(path + ".tmp", "w") as fh:
            fh.write(digest(con, sql, PULL_ORDER))
        os.replace(path + ".tmp", path)
    with open(path) as fh:
        return fh.read()


def pull_digest(con, pull_dir):
    rel = (f"SELECT * FROM read_parquet('{pull_dir}/*.parquet', filename=true, "
           "file_row_number=true)")
    return digest(con, rel, "ORDER BY filename, file_row_number")


def tail(values):
    """Highest of p50/p75/p90/p95/p99/p99.9 with >= 10 samples beyond it
    (nearest rank); the maximum when no percentile has that many."""
    s = sorted(values)
    n = len(s)
    best = (s[-1], "max", n)
    for p in (50, 75, 90, 95, 99, 99.9):
        if n * (1 - p / 100.0) >= 10:
            best = (s[min(n - 1, int(-(-p * n // 100)) - 1)], f"p{p}", n)
    return best


def row_counts(data):
    import pyarrow.parquet as pq
    return {t: pq.ParquetFile(f"{data}/{t}.parquet").metadata.num_rows
            for t in ("customer", "part", "orders", "lineitem")}


def check_nightly(ops, con, oracle, out, src_hash):
    """Every final_pull must hash like the DuckDB oracle of the DAG; the recs
    table fingerprint, selected config and model, and recall/NDCG must agree
    across the run's ops and with every earlier run of this source tree (any
    seed, so any CSV row order)."""
    path = os.path.join(out, f"expect-nightly-{src_hash}.json")
    expect = None
    if os.path.exists(path):
        with open(path) as fh:
            expect = json.load(fh)
    for op in ops:
        if op["failures"]:
            continue
        info = op["info"]
        got = pull_digest(con, info["pull"])
        if got != oracle:
            op["failures"].append(f"final_pull digest {got} != oracle {oracle}")
        if expect is None:
            expect = {k: info[k] for k in ("fingerprint", "config", "model",
                                           "recall_at10", "ndcg_at10")}
            write_json(path, expect)
        for k in ("fingerprint", "config", "model"):
            if info[k] != expect[k]:
                op["failures"].append(f"{k} {info[k]} != {expect[k]}")
        for k in ("recall_at10", "ndcg_at10"):
            if abs(info[k] - expect[k]) > 1e-9 * max(1.0, abs(expect[k])):
                op["failures"].append(f"{k} {info[k]} != {expect[k]}")


def write_json(path, obj):
    with open(path + ".tmp", "w") as fh:
        json.dump(obj, fh)
    os.replace(path + ".tmp", path)


def overhead_ratio(args, rep, out, src_hash):
    """Traced pipeline_s over untraced pipeline_s. Untraced runs record their
    pipeline_s per source tree; a traced nightly run divides its traced op
    by their median (refresh runs compare traced with untraced batches of
    the same run, inside the JVM)."""
    if args.workload != "nightly":
        return
    path = os.path.join(out, f"untraced-{args.workload}-{src_hash}.json")
    seen = []
    if os.path.exists(path):
        with open(path) as fh:
            seen = json.load(fh)
    walls = [o["wall_s"] for o in rep.get("ops", []) if not o["failures"]]
    if not walls:
        return
    if not args.trace:
        write_json(path, seen + [statistics.median(walls)])
    elif seen:
        rep.setdefault("layers", {})["trace.overhead_ratio"] = \
            statistics.median(walls) / statistics.median(seen)


def compose(args, rep):
    ops = rep.get("ops", [])
    good = [o for o in ops if not o["failures"]]
    fails = len(ops) - len(good) + len(rep.get("finish_failures", []))
    fatal = rep.get("fatal")
    attempted = max(1, len(ops))
    failed = min(attempted, fails + (1 if fatal else 0))
    if args.trace:
        layers = rep.get("layers", {})
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in layer_units().items()}
    else:
        walls = [o["wall_s"] for o in good]
        measured = rep.get("measured_s") or 0.0
        values = {
            "setup_s": statistics.median(rep["setup_s"]) if rep.get("setup_s") else 0.0,
            "pipeline_s": statistics.median(walls) if walls else 0.0,
            "events_per_s": sum(o["events"] for o in good) / measured if measured else 0.0,
            "live_heap_mb": rep.get("live_heap_mb") or 0.0,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
        if walls:
            ms, pct, n = tail(walls)
            rep["tail"] = {"latency_tail_ms": ms * 1000.0, "percentile": pct, "samples": n}
    return {"correct": failed == 0 and not fatal, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        print("perfbench: run from the repository root (build.sbt and src/main/scala "
              "not found)", file=sys.stderr)
        return 2

    started = time.time()
    out = os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                                       "perfbench"))
    work = os.path.join(out, "run")
    os.makedirs(out, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    rep = {"ops": [], "setup_s": []}
    env = {"workload": args.workload, "seed": args.seed, "cpus": CPUS, "driver_heap": HEAP,
           "scale_sf": SCALE}
    proc = None
    try:
        src_hash = source_hash(root)
        info = build(root, out, src_hash)
        started = time.time()  # the first run of a checkout also builds
        import datagen
        con = duck(out)
        data = datagen.ensure(os.path.join(out, "data"), SCALE)
        env["input_rows"] = row_counts(data)
        env["source_hash"] = src_hash
        oracle = oracle_digest(con, data, info["oracle_sql"], out)
        report_path = os.path.join(work, "report.json")
        cmd = ["java", f"-Xmx{HEAP}", *ADD_OPENS, f"-Djava.io.tmpdir={work}/tmp",
               "-cp", info["classpath"], "perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--cpus", str(CPUS), "--data", data, "--work", work, "--out", report_path]
        with open(os.path.join(out, "jvm.log"), "w") as jlog:
            proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=jlog, stderr=jlog)
            proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.time() - started)))
        with open(report_path) as fh:
            rep = json.load(fh)
        if proc.returncode != 0:
            rep["fatal"] = rep.get("fatal") or f"benchmark JVM exited with {proc.returncode}"
        env.update(rep.get("env", {}))
        if args.workload == "nightly":
            check_nightly(rep["ops"], con, oracle, out, src_hash)
        overhead_ratio(args, rep, out, src_hash)
    except Exception as e:  # every failure is a counted error, never an uncaught exit
        rep["fatal"] = f"{type(e).__name__}: {str(e)[-2000:]}"
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
    result = compose(args, rep)
    report = {"env": env, "metrics": result["metrics"], "setup_s": rep.get("setup_s"),
              "measured_s": rep.get("measured_s"), "tail": rep.get("tail"),
              "error_rate": result["failed"] / result["attempted"],
              "ops": [{k: o[k] for k in ("i", "wall_s", "events", "traced", "failures")}
                      | ({"info": o["info"]} if args.workload == "nightly" else {})
                      for o in rep.get("ops", [])],
              "finish_failures": rep.get("finish_failures", []), "fatal": rep.get("fatal"),
              "spans": rep.get("spans", [])}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
