"""Self-tests of the benchmark: seeded inputs, the output check, the
traced ladder, and BENCHMARK.json against the metrics run.py prints.

    python3 -m pytest perfbench -q -p no:cacheprovider

Run from the repository root; one small local Spark session.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import worker  # noqa: E402

# enough conversations that every one of the 32 buckets gets rows: the
# check requires a checkpoint row per bucket
TINY = gen.Shape(n_conversations=150, turns_per_conv=8, hot_conversations=1,
                 hot_factor=5, dup_pct=0.05, overlong_pct=0.05)
TINY_KV = gen.Shape(n_conversations=150, turns_per_conv=8, hot_conversations=1,
                    hot_factor=5, kv_tokens=16, malformed_pct=0.05)
SNAP = worker.SNAPSHOT
B = worker.NUM_BUCKETS


def _digest(path: str) -> dict[str, str]:
    out = {}
    for sub in ("turns", "lookup", "rules"):
        for f in sorted(os.listdir(os.path.join(path, sub))):
            with open(os.path.join(path, sub, f), "rb") as fh:
                out[f"{sub}/{f}"] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from logging_spark.session import build_session
    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    s = build_session(app_name="perfbench-selftest", cores=2, shuffle_partitions=4,
                      extra_conf={"spark.driver.memory": "2g",
                                  **tracing.event_log_conf(log_dir)})
    yield s, log_dir
    s.stop()


def _tables(spark, inputs: str):
    return [spark.read.parquet(os.path.join(inputs, t)) for t in ("turns", "lookup", "rules")]


def _run_job(spark, inputs: str, warehouse: str, half: bool = False, tracer=None):
    from logging_spark.plans.job import run_pipeline
    from logging_spark.sources import checkpoint as ckpt
    from logging_spark.sources.catalog import Catalog

    cat = Catalog(spark, warehouse)
    turns, lookup, rules = _tables(spark, inputs)
    if half:
        turns = ckpt.with_bucket(turns, B).where("bucket % 2 = 0").drop("bucket")
    if tracer is None:
        return run_pipeline(spark, turns, lookup, rules, cat, num_buckets=B,
                            input_snapshot=SNAP)
    tracer.wrap_write(cat, spark.sparkContext)
    with tracer.span("run_pipeline", spark.sparkContext, "job.prepare"):
        return run_pipeline(spark, turns, lookup, rules, cat, num_buckets=B,
                            input_snapshot=SNAP)


def _rewrite_one_file(warehouse: str, sink: str, sql: str) -> None:
    """Replace the first data file of one sink with `sql` applied to it
    (the file is the table `f`)."""
    root = os.path.join(warehouse, "sinks", "routed", f"sink_name={sink}")
    d = os.path.join(root, sorted(os.listdir(root))[0])
    path = os.path.join(d, sorted(f for f in os.listdir(d) if f.endswith(".parquet"))[0])
    con = duckdb.connect()
    con.execute(f"CREATE TABLE f AS SELECT * FROM read_parquet('{path}')")
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    con.close()


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a = gen.generate(str(tmp_path / "a"), TINY_KV, 5)
    b = gen.generate(str(tmp_path / "b"), TINY_KV, 5)
    c = gen.generate(str(tmp_path / "c"), TINY_KV, 6)
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    da, dc = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "c"))
    assert da["turns/part-00000.parquet"] != dc["turns/part-00000.parquet"]
    assert da["lookup/part-00000.parquet"] != dc["lookup/part-00000.parquet"]


def test_ensure_reuses_cached_inputs(tmp_path, monkeypatch):
    path = str(tmp_path / "in")
    gen.ensure(path, TINY, 1)
    before = os.path.getmtime(os.path.join(path, "manifest.json"))
    gen.ensure(path, TINY, 1)
    assert os.path.getmtime(os.path.join(path, "manifest.json")) == before
    # an edited gen.py regenerates the cached inputs
    monkeypatch.setattr(gen, "SOURCE_SHA", "edited")
    assert gen.ensure(path, TINY, 1)["gen_sha"] == "edited"
    assert gen.ensure(path, TINY, 2)["seed"] == 2


@pytest.mark.parametrize("shape", [TINY, TINY_KV], ids=["default_shape", "kv_wide"])
def test_check_passes_on_correct_run(spark, tmp_path, shape):
    inputs, wh = str(tmp_path / "in"), str(tmp_path / "wh")
    gen.generate(inputs, shape, 3)
    _run_job(spark[0], inputs, wh)
    assert check.check(inputs, wh, SNAP) == []
    exp = check.expected(inputs)
    # the workload exercises every branch the check compares
    assert exp["enrich_misses"] > 0
    assert exp["sinks"]["_unrouted"]["n_rows"] > 0
    assert any(v["attrs"] for v in exp["sinks"].values())
    if shape.malformed_pct:
        assert exp["parse_errors"] > 0


def test_check_passes_after_resume(spark, tmp_path):
    inputs, wh = str(tmp_path / "in"), str(tmp_path / "wh")
    gen.generate(inputs, TINY, 4)
    _run_job(spark[0], inputs, wh, half=True)
    assert check.check(inputs, wh, SNAP)  # half the buckets: not yet correct
    res = _run_job(spark[0], inputs, wh)
    assert res.buckets_skipped == 16
    assert check.check(inputs, wh, SNAP) == []


@pytest.fixture
def committed(spark, tmp_path):
    inputs, wh = str(tmp_path / "in"), str(tmp_path / "wh")
    gen.generate(inputs, TINY, 8)
    _run_job(spark[0], inputs, wh)
    assert check.check(inputs, wh, SNAP) == []
    return inputs, wh


def test_check_fails_on_dropped_row(committed):
    inputs, wh = committed
    _rewrite_one_file(wh, "tool_calls", "SELECT * FROM f OFFSET 1")
    bad = check.check(inputs, wh, SNAP)
    assert any("routed per-sink summary" in b for b in bad), bad


def test_check_fails_on_truncated_text(committed):
    inputs, wh = committed
    _rewrite_one_file(wh, "errors", "SELECT * REPLACE (CASE WHEN rowid = 0 "
                      "THEN substring(text, 1, length(text) - 1) ELSE text END AS text) FROM f")
    bad = check.check(inputs, wh, SNAP)
    assert bad and all("text_chars" in b or "summary" in b for b in bad), bad


def test_traced_ladder_reports_every_per_layer_metric(spark, tmp_path):
    session, log_dir = spark
    inputs, wh = str(tmp_path / "in"), str(tmp_path / "wh")
    pristine = str(tmp_path / "half")
    gen.generate(inputs, TINY, 9)
    _run_job(session, inputs, pristine, half=True)
    shutil.copytree(pristine, wh)
    tracer = tracing.Tracer()
    res = _run_job(session, inputs, wh, tracer=tracer)
    from logging_spark.sources.catalog import Catalog
    turns, lookup, rules = _tables(session, inputs)
    layers = tracer.ladder(session, Catalog(session, wh), turns, lookup, rules,
                           wh, pristine, B, SNAP, deadline=float("inf"))
    # event logging is asynchronous; the log is flushed at each job end
    session.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    work = str(tmp_path)
    os.symlink(log_dir, os.path.join(work, "eventlog"))
    call = {"buckets_skipped": res.buckets_skipped, "written_files": 1,
            "written_bytes": 1, "aggregate_s": 0.1, "wall_s": 1.0, "jvm_cpu_s": 1.0}
    m = tracing.layer_metrics(call, layers, tracer.finish(work), 1.0, 1000.0)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = {x["name"] for x in json.load(fh)["per_layer"]}
    assert set(m) == declared
    assert m["checkpoint.buckets_skipped"] == 16
    assert layers["checkpoint"]["rows"] < layers["scan"]["rows"]
    assert layers["scan"]["passes"] == tracing.LADDER_PASSES
    assert m["dedup.shuffle_bytes"] > 0 and m["catalog.write.core_s"] > 0
    assert m["route.truncated"] > 0 and m["route.unrouted"] > 0


def test_benchmark_json_matches_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    for m in bench["per_layer"]:
        assert m["unit"] == run.per_layer_unit(m["name"]), m
