#!/usr/bin/env python3
"""The repository benchmark: one fresh driver process per run.

    python3 perfbench/run.py --workload etl_migrate --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The first run compiles the engine and the
harness into the checkout; later runs reuse the build while the
sources are unchanged.  A run times set-up, one cold pass and warm passes
for `--seconds`, then checks every output against an oracle
outside the timed region.  The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` the run
alternates untraced and traced warm passes and reports the per-layer metrics
of the traced passes, plus the tracing overhead.  The line before the result
records the host and the run's details.

    python3 perfbench/run.py --build-digests

recomputes `digests.json`, the gates' expected output digests.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CORPUS = os.path.join(BENCH, "corpus")
sys.path.insert(0, BENCH)

import stats  # noqa: E402

WORKLOADS = ("etl_migrate", "stream_microbatch")
GATE_WORKLOADS = {"stream_microbatch"}
RUN_LIMIT_S = 170

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "warm_s": "s",
    "migrate_rows_per_s": "rows/s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "entry.build_ms": "ms", "entry.build_jobs": "count",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "codegen.compile_ms": "ms", "codegen.classes": "count",
    "codegen.cold_compile_ms": "ms", "codegen.cold_classes": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.task_overhead_ms": "ms", "sched.driver_only_ms": "ms",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms",
    "spill.memory_bytes": "bytes", "spill.disk_bytes": "bytes",
    "io.input_bytes": "bytes", "io.input_rows": "count",
    "io.output_bytes": "bytes", "io.output_rows": "count",
    "etl.transform_ms": "ms", "etl.append_ms": "ms", "etl.jdbc_upsert_ms": "ms",
    "etl.vt_merge_ms": "ms", "etl.vt_compact_ms": "ms", "etl.vt_read_ms": "ms",
    "etl.vt_rewrite_ratio": "ratio",
    "stream.batches": "count", "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.commit_offsets_ms": "ms",
    "stream.query_planning_ms": "ms", "stream.state_commit_ms": "ms",
    "stream.state_rows": "count",
    "pins.leaked": "count", "mem.peak_rss_mb": "MB",
    "trace.overhead": "ratio",
}

# Spark 4 on JDK 17 outside spark-submit (the engine's build.sbt uses the same).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg, log_path=None):
    """Exit 2 with `msg`; with the end of `log_path` before it, so that the
    tail of stderr says why."""
    if log_path and os.path.isfile(log_path):
        with open(log_path, errors="replace") as f:
            tail = f.read().splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build
#
# The engine and the harness are compiled with the Scala compiler that ships
# among the engine's jars, straight into the checkout.  The engine's own
# build (build.sbt) has no dependencies outside that jar directory and no
# compiler options, so this is the same compilation; it needs no sbt
# launcher, resolver or cache, and so writes nothing outside the checkout.
# `build.sbt` here builds the same package for interactive use.

def _spark_jars():
    """The engine's jar directory, read from its build's `unmanagedBase`."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("no jar directory in the engine's build.sbt (unmanagedBase := file(...))")
    d = m.group(1)
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def _sources():
    return sorted(os.path.join(d, f)
                  for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"))
                  for d, _, files in os.walk(top)
                  for f in files if f.endswith(".scala"))


def build():
    """The runtime classpath of the harness, compiling it when the sources or
    the jars changed since the last build in this checkout."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources at {ROOT} (build.sbt, src/main/scala/graft)")
    jars, sources = _spark_jars(), _sources()
    classes = os.path.join(WORK, "classes")
    cp = os.pathsep.join([classes] + jars)
    h = hashlib.sha256("\n".join(jars).encode())
    for p in sources:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp
    compiler = [j for j in jars if re.search(
        r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        fail(f"no Scala compiler, library and reflect jars among {len(jars)} jars")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    log(f"compiling the engine and the harness ({len(sources)} sources)")
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as logf:
        try:
            proc = subprocess.run(
                ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
                 f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
                 "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
                 "-nowarn", "-d", classes, "-classpath", os.pathsep.join(jars), *sources],
                stdout=logf, stderr=subprocess.STDOUT, timeout=840)
        except subprocess.TimeoutExpired:
            fail(f"build exceeded 840 s; see {log_path}", log_path)
    if proc.returncode != 0 or not os.path.isfile(
            os.path.join(classes, "perfbench", "Main.class")):
        fail(f"build failed (rc={proc.returncode}); see {log_path}", log_path)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ---------------------------------------------------------------- host

def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat: (busy, steal, total)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    steal = v[7] if len(v) > 7 else 0
    total = sum(v[:8])
    return total - v[3] - v[4] - steal, steal, total


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


# The driver's heap, fixed in size: a heap that grows on the collector's
# timing-driven decisions made run-to-run times differ more.
HEAP_MB = 2048


def jvm(cp, args, log_path, limit_s):
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP_MB}m", f"-Xmx{HEAP_MB}m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-cp", cp, "perfbench.Main", *args]
    # local mode only: bind to loopback, so that a host name that does not
    # resolve cannot stop the session from starting
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=WORK,
                                env=env)
        try:
            return proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            pass
        finally:
            # on every way out, the driver process ends before this one
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    fail(f"driver process exceeded {limit_s:.0f} s; see {log_path}", log_path)


def fresh_dirs():
    for d in ("tmp", "check", "etl-pass", "etl-inputs", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    for d in ("tmp", "logs", "runs", "trace"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)


# ---------------------------------------------------------------- checks

def check_gates(p):
    """One pass's gate outputs against their oracle digests: gate name ->
    problem for each gate that does not match, and the rows the pass
    delivered."""
    import oracle
    with open(os.path.join(BENCH, "digests.json")) as f:
        want = json.load(f)
    bad, rows = {}, 0
    for gate, out in p["extra"]["check"].items():
        if "error" in out:
            bad[gate] = out["error"]
            continue
        try:
            got = oracle.digest_dir(out["path"])
        except Exception as e:
            bad[gate] = f"unreadable output: {e}"
            continue
        rows += got["rows"]
        if gate not in want:
            bad[gate] = "no oracle digest"
        elif got != want[gate]:
            bad[gate] = f"digest mismatch: {got['rows']} rows, oracle {want[gate]['rows']}"
    return bad, rows


ETL_OPS = {
    "jdbc": ("jdbc_insert", "jdbc_update"),
    "vt": ("vt_init", "vt_merge", "vt_delete", "vt_compact", "vt_read"),
}


def etl_failed_ops(problem):
    """The operations a problem found in an ETL pass's outputs implicates."""
    head = problem.split(":", 1)[0]
    return ETL_OPS.get(head, ("batch1", "batch2", "batch2_rerun")
                       if head.startswith("dst_") else (head,))


# ---------------------------------------------------------------- run

def per_layer(result, workload, counts):
    traced = result["traced_warm"]
    n = len(traced)
    totals = {k: 0.0 for k in PER_LAYER}
    per_op = {}
    for p in traced:
        for op in p["ops"]:
            row = per_op.setdefault(op["name"], {"ms": 0.0})
            row["ms"] += op["ms"] / n
            layers = dict(op["layers"])
            if workload in GATE_WORKLOADS:
                layers["entry.build_ms"] = op["build_ms"]
            for k, v in layers.items():
                row[k] = row.get(k, 0.0) + v / n
                if k in totals:
                    totals[k] += v / n
    cold_cg = result["cold"]["codegen"]
    totals["codegen.cold_compile_ms"] = float(cold_cg["compile_ms"])
    totals["codegen.cold_classes"] = float(cold_cg["classes"])
    if workload == "etl_migrate" and "vt_merge" in per_op:
        totals["etl.vt_rewrite_ratio"] = \
            per_op["vt_merge"].get("io.output_rows", 0.0) / counts["vt_updates"]
    totals["mem.peak_rss_mb"] = result["peak_rss_mb"]
    totals["trace.overhead"] = stats.median(overhead_ratios(result))
    return totals, per_op


def overhead_ratios(result):
    """Each traced pass's time over the mean of the untraced passes just
    before and after it: the warm-up trend cancels, pass order does not."""
    untraced = {p["index"]: p["ms"] for p in result["warm"]}
    return [p["ms"] / ((untraced[p["index"] - 1] + untraced[p["index"] + 1]) / 2)
            for p in result["traced_warm"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=stats.parse_seed, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-digests", action="store_true")
    args = ap.parse_args()
    # a terminated run unwinds, so that it stops the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not args.build_digests and not args.workload:
        ap.error("--workload is required")
    try:
        import duckdb  # noqa: F401  the oracle of every output check
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
    except ImportError as e:
        fail(f"{sys.executable} lacks a module the output checks need: {e}")
    cp = build()
    started = time.monotonic()
    fresh_dirs()
    cores = len(os.sched_getaffinity(0))

    if args.build_digests:
        import oracle
        out = os.path.join(WORK, "oracle_sql.json")
        rc = jvm(cp, ["--mode", "oracle-sql", "--out", out],
                 os.path.join(WORK, "logs", "oracle-sql.log"), RUN_LIMIT_S)
        if rc != 0:
            fail(f"oracle-sql dump failed (rc={rc})",
                 os.path.join(WORK, "logs", "oracle-sql.log"))
        with open(out) as f:
            digests = oracle.expected_digests(CORPUS, json.load(f))
        with open(os.path.join(BENCH, "digests.json"), "w") as f:
            json.dump(digests, f, indent=1, sort_keys=True)
            f.write("\n")
        log(f"wrote {len(digests)} digests")
        return

    load_start, cpu_start = loadavg(), cpu_times()
    expected, counts, con = None, None, None
    if args.workload == "etl_migrate":
        import duckdb
        import etlgen
        con = duckdb.connect()
        expected, counts = etlgen.generate(
            con, CORPUS, os.path.join(WORK, "etl-inputs"), args.seed)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(WORK, "runs", f"{tag}.result.json")
    log_path = os.path.join(WORK, "logs", f"{tag}.log")
    limit = RUN_LIMIT_S - (time.monotonic() - started)
    t0 = time.monotonic_ns()
    rc = jvm(cp, ["--mode", "run", "--out", out, "--t0", str(t0), "--cores", str(cores),
                  "--work", WORK, "--workload", args.workload, "--corpus", CORPUS,
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--seed", str(args.seed)], log_path, limit)
    if rc != 0 or not os.path.isfile(out):
        fail(f"driver process failed (rc={rc}); see {log_path}", log_path)
    with open(out) as f:
        result = json.load(f)

    # Output checks, outside the timed region.
    passes = [result["cold"]] + result["settle"] + result["warm"] + result["traced_warm"]
    failed_ops = {(p["index"], op["name"]) for p in passes for op in p["ops"] if op["error"]}
    problems = {}
    if args.workload in GATE_WORKLOADS:
        rows = {}
        for p in passes:
            bad, rows[p["index"]] = check_gates(p)
            for gate, prob in bad.items():
                problems[f"pass {p['index']} {gate}: {prob}"] = prob
                failed_ops.add((p["index"], gate))
        rows_per_pass = stats.median([rows[p["index"]] for p in result["warm"]])
    else:
        import etlgen
        for p in passes:
            for prob in etlgen.check_pass(con, p["extra"], expected):
                problems[f"pass {p['index']} {prob}"] = prob
                failed_ops |= {(p["index"], name) for name in etl_failed_ops(prob)}
        rows_per_pass = etlgen.source_rows_per_pass(counts)
    attempted = sum(len(p["ops"]) for p in passes)
    failed = len(failed_ops)

    warm_ms = [p["ms"] for p in result["warm"]]
    warm_s = stats.median(warm_ms) / 1000.0
    batches = result["batch_ms"]
    cpu_end = cpu_times()
    span = max(1, cpu_end[2] - cpu_start[2])
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "host": dict(result["host"], nproc=cores, mem_total_kb=mem_total_kb(),
                     loadavg_start=load_start, loadavg_end=loadavg(),
                     cpu_busy_share=(cpu_end[0] - cpu_start[0]) / span,
                     cpu_steal_share=(cpu_end[1] - cpu_start[1]) / span),
        "order": [op["name"] for op in result["cold"]["ops"]],
        "warm_passes": len(warm_ms), "warm_ms": warm_ms,
        "peak_rss_mb": result["peak_rss_mb"],
        "batch_samples": len(batches),
        "batch_p50_ms": stats.median(batches) if batches else None,
        "batch_tail": stats.tail(batches) if batches else None,
        "error_rate": stats.failure_share(failed, attempted),
        "failed_ops": sorted(f"pass {i} {n}" for i, n in failed_ops),
        "problems": sorted(problems),
    }
    if args.trace:
        totals, per_op = per_layer(result, args.workload, counts)
        trace_path = os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "host": record["host"],
                       "traced_passes": len(result["traced_warm"]),
                       "untraced_warm_ms": warm_ms,
                       "traced_warm_ms": [p["ms"] for p in result["traced_warm"]],
                       "overhead_ratios": overhead_ratios(result),
                       "totals": totals, "per_op": per_op}, f, indent=1, sort_keys=True)
        record["trace_file"] = trace_path
        metrics = {k: {"value": totals[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": result["setup_s"],
            "cold_s": result["cold"]["ms"] / 1000.0,
            "warm_s": warm_s,
            "migrate_rows_per_s": rows_per_pass / warm_s,
            "peak_rss_mb": result["peak_rss_mb"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    with open(os.path.join(WORK, "runs", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
