#!/usr/bin/env python3
"""The vault engine's benchmark: one command, one workload, one JVM.

    python3 perfbench/run.py --workload ingest_backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck

Builds the engine and the benchmark from source (perfbench/build.py), runs
the workload at local[N] (N = min(4, nproc)), checks its outputs, and
prints one JSON object as the last line of stdout: correct, attempted,
failed and metrics (the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1). The line above it carries notes for reading only:
host steal over the timed phase, sizes, and with --trace 1 the tracing
overhead against the last untraced run of the same workload and seed.
Exits non-zero when an output check failed or the run did not complete.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402

WORKLOADS = ("ingest_backfill", "query_suite")
# the end-to-end metrics, printed by every workload
END_TO_END = ["setup_s", "cpu_s", "heap_live_mb", "work_s", "op_p50_s"]
SPARK = ["spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_bytes", "spark.spill_bytes"]
FAMILIES = ("relational", "corpus", "vector", "cdc")
# the per-layer metrics each workload measures; a layer it does not run
# (no ops operator in ingest_backfill; no stream, sink, store or catalog in
# query_suite) is printed as 0
LAYERS = {
    "ingest_backfill":
        ["stream.trigger_s", "stream.latest_offset_s", "stream.commit_s",
         "cdc.source.get_batch_s", "cdc.source.backlog_tx_max", "cdc.decode_s",
         "cdc.batch_scans", "engine.sink.jobs", "engine.sink.stages", "engine.sink.tasks",
         "engine.sink.write_s", "engine.sink.empty_check_s", "engine.sink.digest_s",
         "engine.sink.digest_tasks", "engine.sink.bytes_written", "engine.sink.bytes_reread",
         "crypto.sign_s", "crypto.sign_bytes", "engine.store.put_s", "engine.store.put_bytes",
         "catalog.read_s", "catalog.append_s", "catalog.event_files", "driver.other_s",
         "catalog.list_events_s", "catalog.files_scanned", "catalog.list_jobs",
         "engine.store.get_s", "engine.retriever.cold_hits", "engine.retriever.car_extract_s",
         "crypto.row_digest_s", "crypto.row_digest_tasks"] + SPARK,
    "query_suite":
        ["ops.%s.%s" % (f, m) for f in FAMILIES for m in
         ("plan_s", "exec_s", "jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
          "scan_bytes", "shuffle_bytes", "spill_bytes")] + SPARK,
}
ALL_LAYERS = [m for w in WORKLOADS for m in LAYERS[w] if m not in SPARK] + SPARK


def layer_unit(name):
    return "s" if name.endswith("_s") else "bytes" if "bytes" in name else "count"


# the figure the tracing overhead is read on
WORK_NOTE = {"ingest_backfill": "drain_s", "query_suite": "timed_wall_s"}
RUN_TIMEOUT_S = 170
CPUS = min(4, os.cpu_count() or 1)
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm(classes, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = []
    for p in JDK_OPENS:
        opens += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    return (["java", "-Xmx3g", "-Xss16m", "-Djava.io.tmpdir=" + tmp,
             "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
             "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", cp, "perfbench.Main"] + args)


def run_once(a, deadline):
    """One workload run; returns (exit code, notes dict or None, result dict or None)."""
    classes = build.build()
    work = os.path.join(ROOT, ".bench_build", "work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_out = os.path.join(ROOT, ".bench_build", "traces", "%s-seed%d.jsonl" % (a.workload, a.seed))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
            "--work", work, "--bench-dir", BENCH, "--cpus", str(CPUS),
            "--size", a.size, "--inject", a.inject, "--trace-out", trace_out]
    if a.record:
        args += ["--record", os.path.abspath(a.record)]
    try:
        p = subprocess.run(jvm(classes, args, work), cwd=work, stdout=subprocess.PIPE,
                           stderr=sys.stderr, timeout=max(10, deadline - time.time()))
        out = p.stdout.decode("utf-8", "replace").strip().splitlines()
        code = p.returncode
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        out, code = [], 124
    finally:
        shutil.rmtree(work, ignore_errors=True)
    try:
        notes, result = json.loads(out[-2]), json.loads(out[-1])
    except (IndexError, ValueError):
        sys.stderr.write("perfbench: no result from the JVM (exit %d)\n" % code)
        sys.stderr.write("\n".join(out[-20:]) + "\n")
        return (code or 1), None, None
    return code, notes, result


def overhead(a, notes):
    """Save an untraced run's work figure; read it back for a traced one."""
    d = os.path.join(ROOT, ".bench_build", "results")
    os.makedirs(d, exist_ok=True)
    f = os.path.join(d, "%s-%s-seed%d.json" % (a.workload, a.size, a.seed))
    key = WORK_NOTE[a.workload]
    if not a.trace:
        with open(f, "w") as fh:
            json.dump({key: notes.get(key)}, fh)
    elif os.path.exists(f) and notes.get(key):
        base = json.load(open(f)).get(key)
        if base:
            notes["trace_overhead"] = notes[key] / base - 1.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10,
                    help="accepted for the benchmark command line; each workload measures "
                         "a fixed amount of work that takes at least this long")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("normal", "tiny"), default="normal")
    ap.add_argument("--inject", choices=("none", "corrupt", "checksum"), default="none",
                    help="self-check faults: a corrupted artifact, a wrong reference checksum")
    ap.add_argument("--record", help="query_suite: write the seed's reference checksums here")
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if a.selfcheck:
        import selfcheck
        sys.exit(selfcheck.main(sys.argv[0]))
    if not a.workload:
        ap.error("--workload is required")
    start = time.time()
    code, notes, result = run_once(a, start + RUN_TIMEOUT_S + (0 if build_ready() else 700))
    if result is None:
        return code or 1
    if a.trace:
        for m in ALL_LAYERS:
            if m not in LAYERS[a.workload]:
                result["metrics"][m] = {"value": 0.0, "unit": layer_unit(m)}
    want = ALL_LAYERS if a.trace else END_TO_END
    missing = [m for m in want if m not in result["metrics"]]
    if missing:
        print("perfbench: metrics missing from the run: %s" % missing, file=sys.stderr)
        return 1
    overhead(a, notes)
    print(json.dumps(notes))
    print(json.dumps(result))
    sys.stdout.flush()
    return 0 if result["correct"] else 1


def build_ready():
    return os.path.exists(os.path.join(ROOT, ".bench_build", "classes.stamp"))


if __name__ == "__main__":
    sys.exit(main())
