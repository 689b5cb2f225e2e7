#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one result.

    python3 perfbench/run.py --workload ordered_scan --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The script

  1. builds the engine (`sbt compile` at the root) and the benchmark's own
     driver (`perfbench/harness`) when their sources changed;
  2. generates the workload's seeded inputs (perfbench/gen.py), cached per
     seed under .perfbench/data;
  3. starts the engine once, with `java` on the compiled classpath plus
     /opt/spark/jars and build.sbt's JVM flags. The process sets up
     (session + one untimed pass that dumps every query result), runs
     WARMUP_S seconds of untimed passes, then timed passes for --seconds;
  4. checks every dumped result against DuckDB running the query's
     `SparkEntry.oracleSql` on the same files, with the exact
     canonical-string comparison of scripts/check_oracle.py;
  5. prints every metric by name and unit, then, as the last line, one
     JSON object: {"correct", "attempted", "failed", "metrics"}. With
     --trace 0 the metrics are the end-to-end ones (wall times less the
     CPU time the hypervisor stole, see unstolen); with --trace 1 the
     per-layer ones, from passes that run with the benchmark's listeners
     registered (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")
SPARK_JARS = "/opt/spark/jars"

# Each workload's queries, by SparkEntry name (why these: perfbench/README.md)
WORKLOADS = {
    "ordered_scan": ["q215_group_cumsum_tree", "q157_ewm", "q158_ewm_keyed", "q12_quantile"],
    "llm_pipeline": ["q120_dedup_clusters", "q133_pq_topk", "q176_semantic_dedup",
                     "q169_zarr_roundtrip"],
}
CPUS = len(os.sched_getaffinity(0))  # as nproc counts them
# seconds of untimed passes between set-up and the timed window. The JIT
# keeps speeding the engine up for about 20 s after set-up: ordered_scan's
# short passes kept getting faster through a 12 s window after a 5 s
# warm-up; an llm_pipeline pass is long enough to warm in one
WARMUP_S = {"ordered_scan": 20, "llm_pipeline": 5}
# the engine process is killed if it has not exited by then
ENGINE_DEADLINE_S = 150

# build.sbt's javaOptions (the flags `sbt run` would fork the engine with)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
    # keeps the JVM from writing its perf-data file under /tmp
    "-XX:-UsePerfData"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def heap_gb():
    """The tier-1 test heap: half the RAM, clamped to [2, 8] GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2, min(8, kb // 2097152))


def sources_digest():
    h = hashlib.sha256()
    tracked = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HARNESS, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, fs in sorted(os.walk(top)):
            tracked += [os.path.join(d, f) for f in sorted(fs)]
    for p in tracked:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness unless the stamp says they are current."""
    stamp = os.path.join(WORK, "build.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    env["SBT_OPTS"] = " ".join(["-Dsbt.offline=true", "-Xmx2g",
                                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"] + (
        ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        if os.path.exists(repos) else []))
    with open(os.path.join(WORK, "build.log"), "w") as log:
        for cwd in (ROOT, HARNESS):
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=840)
            if r.returncode != 0:
                fail(f"build failed in {cwd}; see {log.name}")
    with open(stamp, "w") as f:
        f.write(digest)


def cpu_jiffies():
    """(busy, steal) jiffies summed over the machine's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def unstolen(wall, a, b):
    """`wall` less the share of it the hypervisor gave to another guest:
    of the CPU time this machine's busy CPUs asked for between readings
    `a` and `b`, the stolen part. The engine's result.json carries the
    same share per pass and per query execution."""
    busy, steal = b[0] - a[0], b[1] - a[1]
    return wall * (1 - steal / (busy + steal)) if busy + steal > 0 else wall


def run_engine(queries, data, out, seed, warmup, seconds, trace):
    """The engine process; returns ((setup wall s, unstolen s), result dict)."""
    os.makedirs(os.path.join(out, "tmp"))
    cp = os.pathsep.join([os.path.join(ROOT, "target", "scala-2.13", "classes"),
                          os.path.join(HARNESS, "target", "scala-2.13", "classes"),
                          os.path.join(SPARK_JARS, "*")])
    cmd = ["java", *JVM_FLAGS, f"-Xmx{heap_gb()}g",
           f"-Djava.io.tmpdir={out}/tmp", f"-Dspark.local.dir={out}/tmp",
           "-cp", cp, "perfbench.Main",
           "--data", data, "--out", out, "--queries", ",".join(queries),
           "--seed", str(seed), "--warmup", str(warmup), "--seconds", str(seconds),
           "--trace", str(trace),
           "--cpus", str(CPUS)]
    log = open(os.path.join(out, "engine.log"), "w")
    j0, t0 = cpu_jiffies(), time.monotonic()
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, stdin=subprocess.DEVNULL,
                         text=True, cwd=ROOT)
    watchdog = threading.Timer(ENGINE_DEADLINE_S, p.kill)
    watchdog.start()
    setup_s = None
    try:
        for line in p.stdout:
            if line.strip() == "PERFBENCH READY":
                wall = time.monotonic() - t0
                setup_s = (wall, unstolen(wall, j0, cpu_jiffies()))
        rc = p.wait()
    finally:
        watchdog.cancel()
        if p.poll() is None:
            p.kill()
            p.wait()
        log.close()
    if rc != 0 or setup_s is None:
        fail(f"engine process exited with {rc}; see {out}/engine.log")
    with open(os.path.join(out, "result.json")) as f:
        return setup_s, json.load(f)


def check_results(data, dump, queries):
    """Oracle-compare every dumped result of `queries`; returns (query, why)
    per failure."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import duckdb
    from check_oracle import TABLES, canon
    import pandas as pd

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(WORK, 'tmp')}'")
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = []
    for q in queries:
        override = os.path.join(ROOT, "scripts", "oracle_overrides", f"{q}.sql")
        sql = open(override).read() if os.path.exists(override) else oracles.get(q)
        try:
            exp = canon(con.execute(sql).df())
        except Exception as e:  # no oracle, or the oracle SQL fails
            bad.append((q, f"oracle: {e}"))
            continue
        path = os.path.join(dump, q)
        if not os.path.isdir(path):
            bad.append((q, "no result written"))
            continue
        got = canon(pd.read_parquet(path))
        if list(got.columns) != list(exp.columns) or not got.equals(exp):
            bad.append((q, f"differs from oracle ({len(got)} vs {len(exp)} rows)"))
    return bad


def tail(values):
    """The highest percentile with at least ten samples beyond it, and its
    name; the largest sample when there are fewer than eleven."""
    s = sorted(values)
    if len(s) < 11:
        return s[-1], "max"
    k = len(s) - 11
    return s[k], f"p{100.0 * k / len(s):.1f}"


def end_to_end(setup_s, result):
    """Times are wall times less the CPU time stolen from this machine
    (see unstolen); the raw wall times are printed as context."""
    samples = [s for s in result["samples"] if not s["traced"]]
    times = [(s["construct_s"] + s["exec_s"]) * (1 - s["steal_frac"]) for s in samples]
    per_query = {}
    for s, t in zip(samples, times):
        per_query.setdefault(s["query"], []).append(t)
    tail_s, tail_p = tail(times)
    passes = [p["total_s"] * (1 - p["steal_frac"]) for p in result["passes"] if not p["traced"]]
    wall_total = statistics.median(p["total_s"] for p in result["passes"] if not p["traced"])
    metrics = {
        "setup_s": (setup_s[1], "s"),
        "total_s": (statistics.median(passes), "s"),
        "geomean_s": (math.exp(statistics.mean(
            math.log(statistics.median(v)) for v in per_query.values())), "s"),
        "query_p50_s": (statistics.median(times), "s"),
    }
    context = {"query_tail_s": (tail_s, f"s ({tail_p} of n={len(times)} query "
                                        f"executions over {len(passes)} passes)"),
               "peak_rss_mb": (result["peak_rss_mb"], "MB"),
               "setup_wall_s": (setup_s[0], "s (steal included)"),
               "total_wall_s": (wall_total, "s (steal included)")}
    return metrics, context


def per_layer(result, names):
    """Every per-layer metric; a layer the workload never reaches reads 0."""
    return {n: (result["per_layer"].get(n, 0.0), u) for n, u in names}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "scripts/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    build()
    sys.path.insert(0, HERE)
    import gen
    queries = WORKLOADS[args.workload]
    data = gen.write(os.path.join(WORK, "data", f"s{args.seed}"), args.seed)

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    setup_s, result = run_engine(queries, data, run_dir, args.seed, WARMUP_S[args.workload],
                               args.seconds, args.trace)
    steal = statistics.median(p["steal_frac"] for p in result["passes"])
    # a query that threw in the dump pass is already one of the failures
    bad = check_results(data, os.path.join(run_dir, "dump"),
                        [q for q in queries if q not in result["dump_failed"]])
    failures = result["failures"]
    attempted = len(result["samples"]) + result["warmup_execs"] + len(queries)
    failed = len(failures) + len(bad)

    if args.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        metrics, extra = per_layer(result, names), {}
    else:
        metrics, extra = end_to_end(setup_s, result)
    # not bounded in BENCHMARK.json: normally 0, or too unsteady between runs
    extra["failed_frac"] = (failed / attempted, f"fraction ({failed}/{attempted})")
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"queries {len(queries)}  run dir {os.path.relpath(run_dir, ROOT)}")
    print(f"context  nproc {CPUS}  heap {heap_gb()}g  cpu_canary_s "
          f"{result['cpu_canary_s']:.3f}  steal_frac {steal:.3f}")
    for name, (value, unit) in {**metrics, **extra}.items():
        print(f"{name:34s} {value:14.6f} {unit}")
    for f in failures:
        print(f"FAILED {f}")
    for q, why in bad:
        print(f"FAILED {q}: {why}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
