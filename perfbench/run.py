#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload replica_sync --seed 7 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run compiles
the engine (src/main/scala) and the benchmark driver (perfbench/src) with
the Scala compiler shipped in the Spark distribution into .bench_build/;
later runs reuse the classes while the sources are unchanged. Each run
generates its inputs from --seed, starts a fresh JVM, drives the workload
for --seconds of wall clock, checks every output, and prints a JSON report
line followed by the result object as the last line of standard output.
See perfbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["replica_query", "replica_sync", "corpus_pipeline", "stream_ops"]
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
HEAP = ["-Xms4g", "-Xmx4g", "-Xmn1g"]   # fixed heap and young gen: steady peak RSS
NO_PERF_FILE = "-XX:-UsePerfData"       # no hsperfdata file outside the checkout
START = time.monotonic()
DEADLINE_S = 170      # a whole invocation, both JVMs of a traced one included
CORES = min(4, len(os.sched_getaffinity(0)))


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main, bench


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    jars = sorted(glob.glob(os.path.join(os.environ.get("SPARK_HOME", ""), "jars", "*.jar")))
    if not jars:
        die("no Spark jars found: set SPARK_HOME to a Spark distribution")
    return jars


def build():
    """Compile engine + driver into .bench_build/classes unless up to date.
    Returns the classes directory and the stamp (a hash of the sources and
    the Spark jars) that identifies them."""
    main, bench = sources()
    if not any(p.endswith("graft/SparkEntry.scala") for p in main):
        die("engine sources (src/main/scala/graft) not found; run from a repository checkout")
    jars = spark_jars()
    h = hashlib.sha256()
    for p in main + bench:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(jars).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD, "classes.stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes, stamp
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        argfile = os.path.join(BUILD, "scalac.args")
        with open(argfile, "w") as f:
            f.write("\n".join(["-nowarn", "-d", tmp, "-classpath", ":".join(jars)] + main + bench))
        r = subprocess.run(["java", NO_PERF_FILE, "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler),
                            "scala.tools.nsc.Main", "@" + argfile],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            die("compilation failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes, stamp


def java_cmd(classes, run_dir):
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = ":".join([classes] + spark_jars())
    return (["java", NO_PERF_FILE] + opens + HEAP + [f"-Djava.io.tmpdir={run_dir}/tmp",
                                 f"-Dderby.system.home={run_dir}", "-cp", cp,
                                 "perfbench.Driver"])


def jvm(cmd, run_dir, log):
    """Run one driver JVM to completion; returns its spawn time (epoch ns)."""
    t_spawn = time.time_ns()
    with open(log, "ab") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, START + DEADLINE_S - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # never leave the JVM behind, also when interrupted
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log, errors="replace") as lf:
            sys.stderr.write(lf.read()[-3000:])
        die(f"driver JVM failed ({rc})")
    return t_spawn


def check_module():
    """scripts/check.py, whose comparison rules the checks reuse."""
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "scripts/check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    return check


def oracle_check(run_dir, data_dir):
    """Compare each checked row's parquet dump with its DuckDB oracle."""
    check = check_module()
    import pyarrow.dataset as ds
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    verdicts = {}
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    for name, sql in oracle.items():
        try:
            st = ds.dataset(os.path.join(run_dir, "check", name), format="parquet").to_table()
            dt = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # a missing dump or an oracle error is a failure
            verdicts[name] = f"FAIL exec: {str(e)[:200]}"
            continue
        verdicts[name] = compare(check, st, dt)
    return verdicts


def compare(check, st, dt):
    if sorted(st.column_names) != sorted(dt.column_names):
        return f"FAIL columns {sorted(st.column_names)} vs {sorted(dt.column_names)}"
    _, a = check.rows_of(st.column_names, st.to_pydict())
    _, b = check.rows_of(dt.column_names, dt.to_pydict())
    if len(a) != len(b):
        return f"FAIL rowcount {len(a)} vs {len(b)}"
    bad = sum(1 for x, y in zip(a, b) if x != y)
    return f"FAIL {bad}/{len(a)} rows differ" if bad else "PASS"


FOLD_SQL = """
WITH changes AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, ts, seq, action
  FROM read_parquet('{snapshot}')
  UNION ALL
  SELECT key.o_orderkey, value.o_custkey, value.o_orderstatus, value.o_totalprice,
         meta.ts, meta.seq, meta.action
  FROM read_json({files}, format = 'newline_delimited', compression = 'gzip',
    columns = {{key: 'STRUCT(o_orderkey BIGINT)',
               value: 'STRUCT(o_custkey BIGINT, o_orderstatus VARCHAR, o_totalprice DOUBLE)',
               meta: 'STRUCT(ts BIGINT, seq BIGINT, action VARCHAR)'}})
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey
    ORDER BY ts DESC, (action = 'D') DESC, seq DESC) AS rn
  FROM changes)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM ranked WHERE rn = 1 AND action <> 'D'
"""


def sync_check(result, inputs):
    """Final replica against a DuckDB one-shot fold of the applied feed."""
    check = check_module()
    with open(os.path.join(inputs, "sync", "manifest.jsonl")) as f:
        manifest = [json.loads(line) for line in f]
    files = [os.path.join(inputs, "sync", m["file"])
             for m, p in zip(manifest, result["polls"]) if not p["skipped"]]
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    # the first poll always applies a delivery, so `files` is never empty
    sql = FOLD_SQL.format(snapshot=os.path.join(inputs, "sync", "snapshot.parquet"),
                          files="[" + ",".join(f"'{p}'" for p in files) + "]")
    expect = con.execute(sql).fetch_arrow_table()
    got = con.execute(
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
        f"FROM read_parquet('{result['final_replica']}/*.parquet') WHERE action <> 'D'"
    ).fetch_arrow_table()
    return compare(check, got, expect)


def untraced_p50(workload, seed, seconds, stamp):
    """op_p50_s of an untraced run of the same classes, workload, seed and
    --seconds kept in .bench_build/results, or None."""
    path = os.path.join(BUILD, "results", f"{workload}.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        same = [r["op_p50_s"] for r in map(json.loads, f)
                if (r.get("stamp"), r["seed"], r["seconds"]) == (stamp, seed, seconds)]
    return same[-1] if same else None


def record_untraced(workload, seed, seconds, stamp, p50):
    d = os.path.join(BUILD, "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{workload}.jsonl"), "a") as f:
        f.write(json.dumps({"stamp": stamp, "seed": seed, "seconds": seconds,
                            "op_p50_s": p50}) + "\n")


def run_once(args, classes, trace, check=True):
    """One run: generate inputs, start the driver JVM, check its outputs.
    With `check` False neither the driver nor DuckDB checks anything, and
    the result is good only for its op latencies."""
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    os.makedirs(os.path.join(run_dir, "tmp"))
    clock = [time.time()]
    phases = {}

    def lap(name):
        now = time.time()
        phases[name] = round(now - clock[0], 3)
        clock[0] = now
    try:
        gen.generate(inputs, args.seed, args.workload)
        lap("generate_s")
        base = java_cmd(classes, run_dir) + [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", "1" if trace else "0",
            "--cores", str(CORES), "--inputs", inputs]
        log = os.path.join(run_dir, "driver.log")
        out = os.path.join(run_dir, "out")
        t = jvm(base + ["--out", out] + ([] if check else ["--no-check"]), run_dir, log)
        with open(os.path.join(out, "result.json")) as f:
            result = json.load(f)
        result["setup_s"] = (result["ready_epoch_ns"] - t) / 1e9
        lap("jvm_s")
        if check and args.workload == "replica_sync":
            result["checks"] = {"final_snapshot": sync_check(result, inputs)}
        elif check:
            result["checks"] = oracle_check(out, os.path.join(inputs, "data"))
        lap("oracle_s")
        result["harness_s"] = phases
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like Ctrl-C, so the driver JVM is stopped and the run
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(os.path.join(ROOT, "scripts", "check.py")):
        die("scripts/check.py not found; run from a repository checkout")
    classes, stamp = build()
    if args.trace:
        # the overhead baseline: an untraced run of these classes with this
        # seed, made now unless an earlier invocation already made it
        base = untraced_p50(args.workload, args.seed, args.seconds, stamp)
        if base is None:
            r0 = run_once(args, classes, trace=False, check=False)
            base = metrics.warm_p50(r0["samples"])
            record_untraced(args.workload, args.seed, args.seconds, stamp, base)
        result = run_once(args, classes, trace=True)
        values, report = metrics.per_layer(args.workload, result, CORES, base)
        units = metrics.PER_LAYER_UNITS
    else:
        result = run_once(args, classes, trace=False)
        values, report = metrics.end_to_end(args.workload, result)
        record_untraced(args.workload, args.seed, args.seconds, stamp, values["op_p50_s"])
        units = metrics.END_TO_END_UNITS
    print("report " + json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
