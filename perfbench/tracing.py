"""The traced run: spans around the job's public layer functions, a
cumulative noop-sink layer ladder, and Spark event-log attribution.

Nothing inside ``logging_spark`` is instrumented. Spans are recorded
here, around the calls into each layer, and every Spark job started
inside a span carries the span's name as its job description, so the
event log's stages can be attributed to layers afterwards.

The ladder runs cumulative prefixes of ``plans.job.transform`` built
from the same public functions (scan, checkpoint, dedup, parse, enrich,
route), each into a noop sink, LADDER_PASSES times unless the run's
time budget runs short; a layer's cost is the difference between its
prefix and the one before, or 0 where noise makes that negative. The
write and aggregate phases come from the real ``run_pipeline`` call,
split at ``Catalog.overwrite_partitions``.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import time

from check import NUM_BUCKETS

LADDER = ["scan", "checkpoint", "dedup", "parse", "enrich", "route"]
# passes over the ladder: a prefix's wall time is its fastest pass, its
# event-log seconds the mean over passes
LADDER_PASSES = 2


def event_log_conf(path: str) -> dict[str, str]:
    os.makedirs(path, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(path),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.write_end = 0.0

    @contextlib.contextmanager
    def span(self, name: str, sc, description: str | None = None):
        """Record (name, start, end, parent) and tag the Spark jobs
        started inside with `description` (default: the span name)."""
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        sc.setJobDescription(description or name)
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"name": name, "start": start,
                               "end": time.perf_counter(), "parent": parent})
            self._stack.pop()
            sc.setJobDescription(self._stack[-1] if self._stack else None)

    def wrap_write(self, catalog, sc) -> None:
        """Time this catalog's overwrite_partitions (the sink write) as
        the catalog.write span; the jobs after it, until run_pipeline
        returns, are the aggregate phase."""
        write = catalog.overwrite_partitions

        def traced(*args, **kwargs):
            with self.span("catalog.write", sc):
                result = write(*args, **kwargs)
            self.write_end = time.perf_counter()
            sc.setJobDescription("job.aggregate")
            return result

        catalog.overwrite_partitions = traced

    def ladder(self, spark, catalog, turns, lookup, rules_df, warehouse: str,
               start_state: str | None, num_buckets: int, snapshot: str,
               deadline: float) -> dict:
        """Run the cumulative noop-sink prefixes from the workload's
        starting warehouse; return per prefix its fastest wall time, its
        counters and how many passes ran (a pass that would end after
        `deadline`, a time.monotonic() value, is not started).
        Raises if the last prefix's row count differs from transform()'s."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from logging_spark.functions.parse import parse_turns
        from logging_spark.operators.dedup import dedup_latest_wins
        from logging_spark.operators.enrich import enrich
        from logging_spark.operators.route import UNROUTED, route
        from logging_spark.operators.rules import load_rules
        from logging_spark.plans.job import ROUTED_COLS, transform
        from logging_spark.sources import checkpoint as ckpt

        sc = spark.sparkContext
        shutil.rmtree(warehouse)
        if start_state:
            shutil.copytree(start_state, warehouse)
        else:
            os.makedirs(warehouse)
        rules = load_rules(rules_df)
        count = F.count(F.lit(1)).alias("rows")

        def flag(cond):
            return F.sum(F.when(cond, 1).otherwise(0))

        pend = ckpt.pending(ckpt.with_bucket(turns, num_buckets), catalog, snapshot)
        dedup = dedup_latest_wins(ckpt.with_bucket(pend.drop("bucket"), num_buckets))
        parsed = parse_turns(dedup).select(
            "bucket", "conv_id", "turn_idx", "role", "text", "tool", "ts",
            F.col("parsed.level").alias("level"),
            F.col("parsed.component").alias("component"),
            F.col("parsed.message").alias("message"),
            F.col("parsed.attrs").alias("attrs"))
        enriched = enrich(parsed, lookup)
        routed = route(enriched.withColumn("_len_in", F.length("text")), rules)
        prefixes = {
            "scan": (turns, [count]),
            "checkpoint": (pend, [count]),
            "dedup": (dedup, [count]),
            "parse": (parsed, [count, flag(F.col("level").isNull()).alias("errors")]),
            "enrich": (enriched, [count, flag(F.col("namespace") == "default").alias("misses")]),
            "route": (routed.select(*ROUTED_COLS, "_len_in"), [
                count, flag(F.col("sink_name") == UNROUTED).alias("unrouted"),
                flag(F.length("text") < F.col("_len_in")).alias("truncated")]),
            "transform": (transform(pend.drop("bucket"), lookup, rules, num_buckets), [count]),
        }
        out: dict[str, dict] = {}
        passes = 0
        with self.span("ladder", sc):
            while passes < LADDER_PASSES:
                t_pass = time.monotonic()
                for name, (df, aggs) in prefixes.items():
                    obs = Observation(f"ladder_{name}_{passes}")
                    with self.span(f"ladder.{name}", sc):
                        t0 = time.perf_counter()
                        df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
                        wall = time.perf_counter() - t0
                    counts = {k: int(v or 0) for k, v in obs.get.items()}
                    if name in out and counts != out[name]["counts"]:
                        raise RuntimeError(f"ladder prefix {name} counted {counts}, "
                                           f"then {out[name]['counts']}")
                    out[name] = {"s": min(wall, out.get(name, {}).get("s", wall)),
                                 "counts": counts}
                passes += 1
                if time.monotonic() + (time.monotonic() - t_pass) > deadline:
                    break
        out = {name: {"s": v["s"], "passes": passes, **v["counts"]} for name, v in out.items()}
        if out["route"]["rows"] != out["transform"]["rows"]:
            raise RuntimeError(
                f"ladder drifted from transform(): route prefix has "
                f"{out['route']['rows']} rows, transform() {out['transform']['rows']}")
        return out

    def finish(self, work: str) -> dict:
        """Write the spans; summarize the (stopped) session's event log
        per job description."""
        t0 = min(s["start"] for s in self.spans)
        with open(os.path.join(work, "spans.json"), "w") as fh:
            json.dump([{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                       for s in self.spans], fh, indent=1)
        out = stage_summary(os.path.join(work, "eventlog"))
        out["_spans"] = {s["name"]: s["end"] - s["start"] for s in self.spans}
        return out


def stage_summary(log_dir: str) -> dict:
    """Per job description: task core-seconds, CPU, GC, shuffle bytes
    written, and max/median task time of its heaviest shuffle-reading
    stage (its heaviest stage if none reads a shuffle)."""
    [name] = os.listdir(log_dir)  # one application: one (plain) log file
    with open(os.path.join(log_dir, name)) as fh:
        events = [json.loads(line) for line in fh]
    stage_desc: dict[int, str] = {}
    stages: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or "-"
            for sid in ev["Stage IDs"]:
                stage_desc.setdefault(sid, desc)
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            st = stages.setdefault(ev["Stage ID"], {
                "core_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                "shuffle_write": 0, "shuffle_read": 0, "tasks": []})
            run = tm.get("Executor Run Time", 0) / 1000
            sr = tm.get("Shuffle Read Metrics") or {}
            st["core_s"] += run
            st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += tm.get("JVM GC Time", 0) / 1000
            st["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                   + sr.get("Local Bytes Read", 0))
            st["tasks"].append(run)
    out: dict[str, dict] = {}
    for sid, st in stages.items():
        d = out.setdefault(stage_desc.get(sid, "-"), {
            "core_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0,
            "_heaviest": (False, -1.0, 1.0)})
        d["core_s"] += st["core_s"]
        d["cpu_s"] += st["cpu_s"]
        d["gc_s"] += st["gc_s"]
        d["shuffle_bytes"] += st["shuffle_write"]
        med = statistics.median(st["tasks"])
        skew = max(st["tasks"]) / med if med > 0 else 1.0
        d["_heaviest"] = max(d["_heaviest"], (st["shuffle_read"] > 0, st["core_s"], skew))
    for d in out.values():
        d["task_skew"] = d.pop("_heaviest")[2]
    return out


def _delta(cur: float, prev: float) -> float:
    """A layer's share of a cumulative ladder figure: its prefix's
    figure less the prefix before. A layer cheaper than the noise
    between passes can come out below 0; it is reported as 0."""
    return max(cur - prev, 0.0)


def layer_metrics(call: dict, lad: dict, st: dict, untraced_wall: float,
                  peak_rss_mb: float) -> dict:
    """The per-layer metrics of one traced call, its ladder and its
    event-log summary. The JVM's CPU per turn and peak RSS are
    reported here, not end to end: between runs of the same code they
    can move by more than a quarter."""
    zero = {"core_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "task_skew": 1.0}

    def stage(desc: str) -> dict:
        d = st.get(desc, zero)
        if desc.startswith("ladder."):
            n = lad["scan"]["passes"]
            return {k: v / n if k != "task_skew" else v for k, v in d.items()}
        return d

    m: dict[str, float] = {}
    prev_s, prev = 0.0, zero
    for layer in LADDER:
        cur = stage(f"ladder.{layer}")
        m[f"{layer}.s"] = _delta(lad[layer]["s"], prev_s)
        for k in ("core_s", "cpu_s"):
            m[f"{layer}.{k}"] = _delta(cur[k], prev[k])
        prev_s, prev = lad[layer]["s"], cur
    parse_gc = _delta(stage("ladder.parse")["gc_s"], stage("ladder.dedup")["gc_s"])
    rows_in = lad["checkpoint"]["rows"]
    m.update({
        "scan.rows": lad["scan"]["rows"],
        "checkpoint.buckets_skipped": call["buckets_skipped"],
        "checkpoint.skip_ratio": call["buckets_skipped"] / NUM_BUCKETS,
        "dedup.rows_out": lad["dedup"]["rows"],
        "dedup.keep_ratio": lad["dedup"]["rows"] / rows_in,
        "dedup.shuffle_bytes": _delta(stage("ladder.dedup")["shuffle_bytes"],
                                      stage("ladder.checkpoint")["shuffle_bytes"]),
        "dedup.task_skew": stage("ladder.dedup")["task_skew"],
        "parse.errors": lad["parse"]["errors"],
        "parse.gc_s": parse_gc,
        "enrich.misses": lad["enrich"]["misses"],
        "enrich.hit_ratio": 1 - lad["enrich"]["misses"] / lad["enrich"]["rows"],
        "route.rows_out": lad["route"]["rows"],
        "route.fanout": lad["route"]["rows"] / lad["enrich"]["rows"],
        "route.unrouted": lad["route"]["unrouted"],
        "route.truncated": lad["route"]["truncated"],
    })
    write, agg = stage("catalog.write"), stage("job.aggregate")
    spans = st["_spans"]
    m.update({
        "catalog.write.s": spans["catalog.write"],
        "catalog.write.files": call["written_files"],
        "catalog.write.bytes": call["written_bytes"],
        "catalog.write.core_s": write["core_s"],
        "catalog.write.cpu_s": write["cpu_s"],
        "catalog.write.gc_s": write["gc_s"],
        "catalog.write.task_skew": write["task_skew"],
        "job.aggregate.s": call["aggregate_s"],
        "job.aggregate.shuffle_bytes": agg["shuffle_bytes"],
        "job.aggregate.core_s": agg["core_s"],
        "job.aggregate.cpu_s": agg["cpu_s"],
        "jvm.cpu_s_per_mturn": call["jvm_cpu_s"] / (lad["scan"]["rows"] / 1e6),
        "jvm.peak_rss_mb": peak_rss_mb,
        "trace.overhead_frac": call["wall_s"] / untraced_wall - 1,
    })
    return m
