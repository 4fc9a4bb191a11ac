"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (shape, seed): each column is drawn
from a hash of the row key, a per-column salt and the seed, so the same
seed always writes the same rows in the same order into the same files.
The shape follows ``logging_spark.synth.transcripts`` defaults: hot
conversations at 100x the turns, 1% duplicates with a later ``ts`` and
a ``rev=2`` marker, 2% overlong lines, 10% null ``tool``, 5% of the
(conv_id, tool) lookup pairs missing, and the FIXTURES.md rule set.

The tables are written with DuckDB, not Spark, so generating a new
seed costs about a second instead of a second JVM start; the pipeline
under test only ever sees the parquet files. The ``ts`` column is
written as a UTC-adjusted timestamp, which Spark reads as TIMESTAMP,
so the files carry the exact ``input_hint`` schema
(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import duckdb

TURN_FILES = 8
# cached inputs are regenerated when this file changes
with open(__file__, "rb") as _fh:
    SOURCE_SHA = hashlib.sha256(_fh.read()).hexdigest()[:16]
LEVELS = ["INFO", "INFO", "INFO", "INFO", "DEBUG", "DEBUG", "WARN", "ERROR"]
COMPONENTS = ["scheduler", "executor", "shuffle", "catalyst", "parser",
              "router", "sink", "auth", "net", "gc"]
ROLES = ["user", "assistant", "assistant", "tool", "system"]
TOOLS = [f"tool_{i:02d}" for i in range(20)]
WORDS = ["request", "completed", "retry", "timeout", "connected", "spilled",
         "partition", "committed", "rejected", "scanned", "queued", "flushed"]
# (sink_name, expr, max_length, role_filter, enabled): overlapping
# matches, rows that match nothing, one truncating and one disabled rule
RULES = [
    ("errors", r"\[ERROR\]", 10**9, None, True),
    ("warnings", r"\[WARN\]", 10**9, None, True),
    ("tool_calls", "*", 10**9, "tool", True),
    ("assistant_all", "*", 200, "assistant", True),
    ("catchall", "*", 10**9, None, False),
]


@dataclass(frozen=True)
class Shape:
    n_conversations: int
    turns_per_conv: int = 100
    hot_conversations: int = 3
    hot_factor: int = 100
    dup_pct: float = 0.01
    overlong_pct: float = 0.02
    null_tool_pct: float = 0.10
    miss_pct: float = 0.05
    # key=value tail: tokens per line, drawn from kv_keys keys; one
    # token in eight is k=v=w and one in eight is a bare word
    kv_tokens: int = 0
    kv_keys: int = 40
    # lines with no "[LEVEL] component:" head, so parse finds no level
    malformed_pct: float = 0.0


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _list(items: list[str]) -> str:
    return "[" + ", ".join(_lit(x) for x in items) + "]"


def _pick(items: list[str], salt: int) -> str:
    return f"{_list(items)}[1 + (hash(key, {salt}, $seed) % {len(items)})::INTEGER]"


def _pct(salt: int, pct: float) -> str:
    return f"hash(key, {salt}, $seed) % 10000 < {int(pct * 10_000)}"


def _turns_sql(shape: Shape) -> str:
    t, h = shape.turns_per_conv, shape.hot_factor
    cold = shape.n_conversations - shape.hot_conversations
    head = (f"'[' || {_pick(LEVELS, 1)} || '] ' || {_pick(COMPONENTS, 2)} || ': ' "
            f"|| {_pick(WORDS, 3)} || ' code=' || (hash(key, 4, $seed) % 1000) "
            f"|| ' shard=' || (hash(key, 5, $seed) % 97)")
    if shape.malformed_pct:
        head = (f"CASE WHEN {_pct(12, shape.malformed_pct)} "
                f"THEN 'at ' || {_pick(COMPONENTS, 13)} || '.' || {_pick(WORDS, 14)} "
                f"|| ' line=' || (hash(key, 15, $seed) % 500) ELSE {head} END")
    tail = "''"
    if shape.kv_tokens:
        tok = ("CASE hash(key, 100 + j, $seed) % 8 "
               f"WHEN 0 THEN {_list(WORDS)}[1 + (hash(key, 200 + j, $seed) % {len(WORDS)})::INTEGER] "
               f"WHEN 1 THEN 'k' || (hash(key, 300 + j, $seed) % {shape.kv_keys}) || '=' "
               "|| (hash(key, 400 + j, $seed) % 1000) || '=' || (hash(key, 500 + j, $seed) % 10) "
               f"ELSE 'k' || (hash(key, 300 + j, $seed) % {shape.kv_keys}) || '=' "
               "|| (hash(key, 400 + j, $seed) % 1000) END")
        tail = (f"' ' || array_to_string(list_transform(range({shape.kv_tokens}), "
                f"j -> {tok}), ' ')")
    pad = f"CASE WHEN {_pct(6, shape.overlong_pct)} THEN repeat(' pad', 200) ELSE '' END"
    return f"""
    WITH ids AS (
        SELECT i // {t} AS conv, (i % {t})::INTEGER AS turn_idx
        FROM range(0, {cold * t}) r(i)
        UNION ALL
        SELECT {cold} + i // {t * h}, (i % {t * h})::INTEGER
        FROM range(0, {shape.hot_conversations * t * h}) r(i)
    ), keyed AS (
        SELECT conv, turn_idx, conv || ':' || turn_idx AS key FROM ids
    ), base AS (
        SELECT conv, turn_idx, key,
            printf('conv-%06d', conv) AS conv_id,
            {_pick(ROLES, 10)} AS role,
            {head} || {tail} || {pad} AS text,
            CASE WHEN {_pct(7, shape.null_tool_pct)} THEN NULL ELSE {_pick(TOOLS, 8)} END AS tool,
            TIMESTAMPTZ '2024-01-01 00:00:00+00'
                + to_seconds(turn_idx * 7 + hash(key, 9, $seed) % 5) AS ts
        FROM keyed
    ), dups AS (
        SELECT conv, turn_idx, conv_id, role, text || ' rev=2' AS text, tool,
               ts + INTERVAL 1 SECOND AS ts
        FROM base WHERE {_pct(11, shape.dup_pct)}
    )
    SELECT row_number() OVER (ORDER BY is_dup, conv, turn_idx) - 1 AS rid,
           conv_id, turn_idx, role, text, tool, ts
    FROM (SELECT 0 AS is_dup, conv, turn_idx, conv_id, role, text, tool, ts FROM base
          UNION ALL
          SELECT 1, conv, turn_idx, conv_id, role, text, tool, ts FROM dups)
    """


def _lookup_sql(shape: Shape) -> str:
    n_tools = len(TOOLS)
    return f"""
    WITH pairs AS (
        SELECT i // {n_tools} AS conv, (i % {n_tools})::INTEGER AS tool_i,
               (i // {n_tools}) || ':' || (i % {n_tools}) AS key
        FROM range(0, {shape.n_conversations * n_tools}) r(i)
    ), kept AS (
        SELECT conv, tool_i, hash(key, 21, $seed) % 1000000 AS h
        FROM pairs WHERE NOT ({_pct(20, shape.miss_pct)})
    )
    SELECT printf('conv-%06d', conv) AS conv_id,
           {_list(TOOLS)}[tool_i + 1] AS tool,
           'ns-' || (h % 5) AS namespace, 'pod-' || (h % 50) AS pod_name,
           'node-' || (h % 8) AS node_name, 'svc-' || (h % 12) AS service_name,
           ['10.0.' || (h % 255) || '.' || ((h + 7) % 255)] AS ips
    FROM kept ORDER BY conv, tool_i
    """


def _rules_sql() -> str:
    rows = ", ".join(
        f"({_lit(s)}, {_lit(e)}, {m}::BIGINT, "
        f"{_lit(r) if r else 'NULL::VARCHAR'}, {str(on).upper()})"
        for s, e, m, r, on in RULES)
    return ("SELECT * FROM (VALUES " + rows +
            ") v(sink_name, expr, max_length, role_filter, enabled)")


def generate(out_dir: str, shape: Shape, seed: int) -> dict:
    """Write turns/, lookup/ and rules/ parquet tables under out_dir
    and return the manifest (also written as manifest.json, last, so a
    directory with a manifest is complete)."""
    shutil.rmtree(out_dir, ignore_errors=True)
    for sub in ("turns", "lookup", "rules"):
        os.makedirs(os.path.join(out_dir, sub))
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute("SET threads = 2")
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CREATE TABLE turns AS {_turns_sql(shape)}", {"seed": seed})
        n_turns = con.execute("SELECT count(*) FROM turns").fetchone()[0]
        for i in range(TURN_FILES):
            path = os.path.join(out_dir, "turns", f"part-{i:05d}.parquet")
            con.execute(
                f"COPY (SELECT conv_id, turn_idx, role, text, tool, ts FROM turns "
                f"WHERE rid * {TURN_FILES} // {n_turns} = {i} ORDER BY rid) "
                f"TO {_lit(path)} (FORMAT PARQUET)")
        con.execute(f"CREATE TABLE lookup AS {_lookup_sql(shape)}", {"seed": seed})
        n_lookup = con.execute("SELECT count(*) FROM lookup").fetchone()[0]
        con.execute(f"COPY lookup TO "
                    f"{_lit(os.path.join(out_dir, 'lookup', 'part-00000.parquet'))} "
                    "(FORMAT PARQUET)")
        con.execute(f"COPY ({_rules_sql()}) TO "
                    f"{_lit(os.path.join(out_dir, 'rules', 'part-00000.parquet'))} "
                    "(FORMAT PARQUET)")
    finally:
        con.close()
    manifest = {"seed": seed, "shape": asdict(shape), "gen_sha": SOURCE_SHA,
                "n_turns": n_turns, "n_lookup": n_lookup}
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def ensure(out_dir: str, shape: Shape, seed: int) -> dict:
    """Generate unless out_dir already holds this (shape, seed), made
    by this version of gen.py."""
    try:
        with open(os.path.join(out_dir, "manifest.json")) as fh:
            manifest = json.load(fh)
        if (manifest["seed"], manifest["shape"], manifest["gen_sha"]) == (
                seed, asdict(shape), SOURCE_SHA):
            return manifest
    except (OSError, ValueError, KeyError):
        pass
    return generate(out_dir, shape, seed)
