"""Output check: recompute the job's results from the input parquet with
DuckDB and compare them, exactly, with what the run committed.

The oracle re-derives every step independently of Spark: dedup
(latest ts wins, ties broken by text descending), the parse head and
key=value tail, the enrich left join on (conv_id, tool), rule matching
with per-rule truncation and the ``_unrouted`` fallback. It compares:

- per sink: rows, distinct conversations, sum(length(text)) and the
  count of non-null ``attrs``, both in ``sinks.routed`` and in
  ``agg.per_sink_counts``;
- the (sink, role) rollup in ``agg.per_sink_role_rollup``;
- the enrich-miss and parse-error counts of the routed rows;
- ``meta.checkpoint``: one done row per bucket for the snapshot, whose
  row counts sum to the committed rows.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

# buckets the benchmark runs the job with (worker.py)
NUM_BUCKETS = 32
# Java and RE2 agree on these for ASCII input: \w = [A-Za-z0-9_]
_LEVEL_X = r"^\[([A-Z]+)\]"
_HEAD_X = r"^\[[A-Z]+\]\s+[\w.-]+:\s+\S+\s*"
_KV_X = r"\w+=\S+"
_UNBOUNDED = 10**9
# the cached expected summary is recomputed when this file changes
with open(__file__, "rb") as _fh:
    SOURCE_SHA = hashlib.sha256(_fh.read()).hexdigest()[:16]


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    con.execute("SET enable_progress_bar = false")
    return con


def _glob(*parts: str) -> str:
    return "'" + os.path.join(*parts).replace("'", "''") + "'"


def _routed_sql(inputs: str, rules: list[tuple]) -> str:
    """Expected routed rows: (sink_name, conv_id, role, text, level_null,
    has_attrs, enrich_miss)."""
    enriched = f"""
    SELECT d.conv_id, d.role, d.text,
           regexp_extract(d.text, '{_LEVEL_X}', 1) = '' AS level_null,
           len(list_filter(
               string_split_regex(trim(regexp_replace(d.text, '{_HEAD_X}', '')), '\\s+'),
               x -> regexp_full_match(x, '{_KV_X}'))) > 0 AS has_attrs,
           l.conv_id IS NULL AS enrich_miss
    FROM (SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                         ORDER BY ts DESC, text DESC) AS rn
            FROM read_parquet({_glob(inputs, 'turns', '*.parquet')}))
          WHERE rn = 1) d
    LEFT JOIN read_parquet({_glob(inputs, 'lookup', '*.parquet')}) l
      ON d.conv_id = l.conv_id AND d.tool = l.tool
    """
    preds, branches = [], []
    for sink, expr, max_len, role, enabled in rules:
        if not enabled:
            continue
        pred = "TRUE" if expr == "*" else f"regexp_matches(text, '{expr}')"
        if role:
            pred += f" AND role = '{role}'"
        text = "text" if max_len >= _UNBOUNDED else f"substring(text, 1, {max_len})"
        preds.append(f"({pred})")
        branches.append(
            f"SELECT '{sink}' AS sink_name, conv_id, role, {text} AS text, "
            f"level_null, has_attrs, enrich_miss FROM e WHERE {pred}")
    matched_any = " OR ".join(preds) or "FALSE"
    branches.append(
        "SELECT '_unrouted', conv_id, role, text, level_null, has_attrs, "
        f"enrich_miss FROM e WHERE NOT ({matched_any})")
    return f"WITH e AS ({enriched}) " + " UNION ALL ".join(branches)


def _summary(con: duckdb.DuckDBPyConnection, rows_sql: str) -> dict:
    """Summarize routed rows (sink_name, conv_id, role, text,
    level_null, has_attrs, enrich_miss)."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE r AS {rows_sql}")
    sinks = {
        s: {"n_rows": n, "n_distinct_conv": c, "text_chars": int(t), "attrs": a}
        for s, n, c, t, a in con.execute(
            "SELECT sink_name, count(*), count(DISTINCT conv_id), "
            "sum(length(text)), count(*) FILTER (WHERE has_attrs) "
            "FROM r GROUP BY sink_name").fetchall()}
    roles = {f"{s}/{r}": n for s, r, n in con.execute(
        "SELECT sink_name, role, count(*) FROM r GROUP BY ALL").fetchall()}
    misses, errors, total = con.execute(
        "SELECT count(*) FILTER (WHERE enrich_miss), "
        "count(*) FILTER (WHERE level_null), count(*) FROM r").fetchone()
    return {"sinks": sinks, "roles": roles, "enrich_misses": misses,
            "parse_errors": errors, "rows": total}


def expected(inputs: str) -> dict:
    """The oracle's summary for an inputs directory; cached there per
    version of this file."""
    path = os.path.join(inputs, f"expected-{SOURCE_SHA}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    con = _connect()
    try:
        rules = con.execute(
            "SELECT sink_name, expr, max_length, role_filter, enabled FROM "
            f"read_parquet({_glob(inputs, 'rules', '*.parquet')})").fetchall()
        out = _summary(con, _routed_sql(inputs, rules))
    finally:
        con.close()
    with open(path + ".tmp", "w") as fh:
        json.dump(out, fh, sort_keys=True)
    os.replace(path + ".tmp", path)
    return out


def observed(warehouse: str, snapshot: str) -> dict:
    """The same summary read back from a run's committed tables, plus
    the aggregate and checkpoint tables the job wrote."""
    con = _connect()
    try:
        routed = (f"read_parquet({_glob(warehouse, 'sinks', 'routed', '*', '*', '*.parquet')}, "
                  "hive_partitioning = true)")
        out = _summary(con, f"""
            SELECT sink_name, conv_id, role, text, level IS NULL AS level_null,
                   attrs IS NOT NULL AS has_attrs, namespace = 'default' AS enrich_miss
            FROM {routed}""")
        out["agg_counts"] = {s: {"n_rows": n, "n_distinct_conv": c} for s, n, c in con.execute(
            "SELECT sink_name, n_rows, n_distinct_conv FROM read_parquet("
            f"{_glob(warehouse, 'agg', 'per_sink_counts', '*.parquet')})").fetchall()}
        out["agg_roles"] = {f"{s}/{r}": n for s, r, n in con.execute(
            "SELECT sink_name, role, n_turns FROM read_parquet("
            f"{_glob(warehouse, 'agg', 'per_sink_role_rollup', '*.parquet')})").fetchall()}
        n_done, n_buckets, ckpt_rows, ckpt_errors = con.execute(
            "SELECT count(*), count(DISTINCT bucket), sum(row_count), sum(parse_errors) "
            f"FROM read_parquet({_glob(warehouse, 'meta', 'checkpoint', '*.parquet')}) "
            "WHERE input_snapshot = $snap AND state = 'done'", {"snap": snapshot}).fetchone()
        out["checkpoint"] = {"done_rows": n_done, "buckets": n_buckets,
                             "rows": ckpt_rows, "parse_errors": ckpt_errors}
    finally:
        con.close()
    return out


def mismatches(exp: dict, obs: dict) -> list[str]:
    """Every way obs differs from exp; empty when the run is correct."""
    bad = []

    def same(what: str, want, got) -> None:
        if want != got:
            bad.append(f"{what}: expected {want!r}, got {got!r}")

    same("routed per-sink summary", exp["sinks"], obs["sinks"])
    same("agg.per_sink_counts",
         {s: {"n_rows": v["n_rows"], "n_distinct_conv": v["n_distinct_conv"]}
          for s, v in exp["sinks"].items()}, obs["agg_counts"])
    same("routed role rollup", exp["roles"], obs["roles"])
    same("agg.per_sink_role_rollup", exp["roles"], obs["agg_roles"])
    same("enrich misses", exp["enrich_misses"], obs["enrich_misses"])
    same("parse errors", exp["parse_errors"], obs["parse_errors"])
    same("meta.checkpoint", {"done_rows": NUM_BUCKETS, "buckets": NUM_BUCKETS,
                             "rows": exp["rows"], "parse_errors": exp["parse_errors"]},
         obs["checkpoint"])
    return bad


def check(inputs: str, warehouse: str, snapshot: str) -> list[str]:
    try:
        obs = observed(warehouse, snapshot)
    except duckdb.Error as e:  # a table the job should have written is missing
        return [f"reading committed tables failed: {e}"]
    return mismatches(expected(inputs), obs)
