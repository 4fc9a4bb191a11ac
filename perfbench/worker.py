"""One benchmark run in a fresh Python process with one JVM: set-up,
one untimed call, then timed ``run_pipeline`` calls, each followed by
the output check.

    python3 perfbench/worker.py --inputs DIR --warehouse DIR --work DIR
        [--seconds S] [--min-calls N] [--budget S] [--trace] [--resume-half]

The session comes from ``logging_spark.session.build_session()`` with
its defaults (the traced run adds only the event log). Set-up is timed
from the start of this process to the end of ``run_job``'s small
warm-up slice: JVM start, ``build_session`` and the warm-up. Each timed
call starts from the workload's starting warehouse and is measured from
outside: wall time, and the JVM's user+sys CPU from
``/proc/<jvm pid>/stat``. The DuckDB output check (``check.py``) runs
after each call, outside its timed window. The last stdout line is one
JSON object.

``--resume-half`` makes the untimed call the job on the even buckets
only (16 of 32) under the same snapshot id; every timed call then
resumes the full job from a copy of that state.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import tracing  # noqa: E402
from check import NUM_BUCKETS  # noqa: E402

SNAPSHOT = "bench-snap"
_TICK = os.sysconf("SC_CLK_TCK")


def _since_process_start() -> float:
    """Seconds since this process started, from the kernel's clock."""
    with open("/proc/self/stat") as fh:
        started = int(fh.read().rsplit(")", 1)[1].split()[19]) / _TICK
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0]) - started


def jvm_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_files(path: str) -> dict[str, int]:
    """Relative path -> size of every data file under path."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(d, f)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def stop(spark) -> None:
    """Stop the session and wait for its JVM: the gateway JVM exits when
    its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--inputs", required=True)
    p.add_argument("--warehouse", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--seconds", type=float, default=0.0,
                   help="keep making timed calls until this much was timed")
    p.add_argument("--min-calls", type=int, default=1)
    p.add_argument("--budget", type=float, default=120.0,
                   help="start no call that would end after this many seconds")
    p.add_argument("--trace", action="store_true",
                   help="one traced call, then the layer ladder")
    p.add_argument("--resume-half", action="store_true")
    args = p.parse_args(argv)

    from logging_spark import synth
    from logging_spark.operators.rules import load_rules
    from logging_spark.plans.job import run_pipeline, transform
    from logging_spark.session import build_session
    from logging_spark.sources import checkpoint as ckpt
    from logging_spark.sources.catalog import Catalog

    tracer = None
    extra_conf = None
    if args.trace:
        tracer = tracing.Tracer()
        extra_conf = tracing.event_log_conf(os.path.join(args.work, "eventlog"))
    spark = build_session(extra_conf=extra_conf)
    sc = spark.sparkContext
    jvm = sc._gateway.proc.pid
    catalog = Catalog(spark, args.warehouse)
    turns = spark.read.parquet(os.path.join(args.inputs, "turns"))
    lookup = spark.read.parquet(os.path.join(args.inputs, "lookup"))
    rules_df = spark.read.parquet(os.path.join(args.inputs, "rules"))

    # run_job.py's warm-up: the full transform on a tiny slice, noop sink
    sc.setJobDescription("setup.warmup")
    wslice = synth.transcripts(spark, n_conversations=200, turns_per_conv=50)
    (transform(wslice, lookup, load_rules(rules_df), num_buckets=NUM_BUCKETS)
     .write.format("noop").mode("overwrite").save())
    sc.setJobDescription(None)
    setup_s = _since_process_start()

    # One untimed call before the timed ones, so that they measure the
    # job rather than the JIT compiling its code paths (it compiles for
    # several calls; timing from the first call made the run-to-run
    # spread several times wider). The resume workload's preparation,
    # the job on the even buckets only, is that call.
    sc.setJobDescription("setup.first_call")
    first = turns
    if args.resume_half:
        first = (ckpt.with_bucket(turns, NUM_BUCKETS)
                 .where("bucket % 2 = 0").drop("bucket"))
    run_pipeline(spark, first, lookup, rules_df, catalog,
                 num_buckets=NUM_BUCKETS, input_snapshot=SNAPSHOT)
    sc.setJobDescription(None)
    start_state = None
    if args.resume_half:
        start_state = os.path.join(args.work, "half_committed")
        shutil.copytree(args.warehouse, start_state)

    def timed_call() -> dict:
        shutil.rmtree(args.warehouse)
        if start_state:
            shutil.copytree(start_state, args.warehouse)
        before = tree_files(os.path.join(args.warehouse, "sinks", "routed"))
        cpu0 = jvm_cpu_s(jvm)
        t0 = time.perf_counter()
        with (tracer.span("run_pipeline", sc, "job.prepare") if tracer
              else contextlib.nullcontext()):
            res = run_pipeline(spark, turns, lookup, rules_df, catalog,
                               num_buckets=NUM_BUCKETS, input_snapshot=SNAPSHOT)
        t1 = time.perf_counter()
        cpu = jvm_cpu_s(jvm) - cpu0
        after = tree_files(os.path.join(args.warehouse, "sinks", "routed"))
        written = {f: s for f, s in after.items() if before.get(f) != s}
        call = {"wall_s": t1 - t0, "jvm_cpu_s": cpu, "sink_bytes": sum(after.values()),
                "written_files": len(written), "written_bytes": sum(written.values()),
                "buckets_skipped": res.buckets_skipped}
        if tracer:
            call["aggregate_s"] = t1 - tracer.write_end
        # the output check runs after the timed window
        call["mismatches"] = check.check(args.inputs, args.warehouse, SNAPSHOT)
        return call

    if tracer:
        tracer.wrap_write(catalog, sc)
    deadline = time.monotonic() + args.budget
    calls: list[dict] = []
    timed = longest = 0.0
    while len(calls) < args.min_calls or timed < args.seconds:
        if calls and (tracer or time.monotonic() + 1.5 * longest > deadline):
            break
        t0 = time.monotonic()
        try:
            calls.append(timed_call())
        except Exception as e:  # noqa: BLE001 — a failed call is a counted failure
            calls.append({"error": f"{type(e).__name__}: {e}"})
            break
        longest = max(longest, time.monotonic() - t0)
        timed += calls[-1]["wall_s"]
    out = {"setup_s": setup_s, "calls": calls}
    if tracer and "error" not in calls[0]:
        out["layers"] = tracer.ladder(
            spark, catalog, turns, lookup, rules_df, args.warehouse,
            start_state, NUM_BUCKETS, SNAPSHOT, deadline)
    out["peak_rss_mb"] = jvm_peak_rss_mb(jvm)
    stop(spark)
    if tracer:
        out["stages"] = tracer.finish(args.work)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
