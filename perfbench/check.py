"""Output checks for the untimed check pass.

Queries with oracle SQL are compared against DuckDB through the
repo's own parity comparison (``tests/parity.compare``); queries
without one must merely succeed. Each pipeline summary is checked
twice: against a DuckDB spelling of the same config, and against the
rows of the parquet it wrote. Each table of the curation report is
read back from its parquet and compared against the oracle SQL of the
query that produced it.
"""

from __future__ import annotations

import os

from tests.parity import compare


def check_query(name: str, result, oracle: str | None, con) -> str | None:
    """None when the output is right, else a one-line reason. result is
    a DataFrame or the rows collected from one; rows-only queries (no
    oracle) pass once they have run to completion."""
    if oracle is None:
        return None
    m = compare(name, result, oracle, con)
    return None if m is None else str(m).splitlines()[0]


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _parquet_count(con, out_dir: str) -> int:
    """Rows in every parquet file under out_dir (0 when none exist: a
    zero-row partitioned write leaves no file)."""
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(out_dir)
        for f in fs
        if f.endswith(".parquet")
    ]
    if not files:
        return 0
    return con.execute("SELECT count(*) FROM read_parquet(?)", [files]).fetchone()[0]


def scene_expected(con, cfg: dict, done_path: str | None) -> dict:
    """DuckDB spelling of pipeline.run_pipeline's summary counts."""
    preds = [
        f"ts >= TIMESTAMP {_lit(cfg['date_start'])}",
        f"ts < TIMESTAMP {_lit(cfg['date_end'])}",
        f"value <= {cfg['max_quality']!r}",
    ]
    if cfg["event_types"]:
        preds.append("event_type IN (" + ", ".join(map(_lit, cfg["event_types"])) + ")")
    scenes = (
        "SELECT event_id, user_id, date_trunc('day', ts) AS day, value "
        "FROM events WHERE " + " AND ".join(preds)
    )
    if cfg["best_per_cell"]:
        scenes = (
            "SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id, day "
            f"ORDER BY value, event_id) AS rn FROM ({scenes})) WHERE rn = 1"
        )
    done = (
        f"event_id IN (SELECT event_id FROM read_parquet({_lit(done_path)}))"
        if done_path
        else "false"
    )
    selected, pending, cells = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE NOT ({done})), "
        f"count(DISTINCT user_id) FILTER (WHERE NOT ({done})) FROM ({scenes})"
    ).fetchone()
    return {"selected": selected, "pending": pending, "cells": cells}


def check_scene(con, cfg: dict, done_path: str | None, summary: dict) -> str | None:
    want = scene_expected(con, cfg, done_path)
    got = {k: summary[k] for k in want}
    if got != want:
        return f"scene summary {got} != duckdb {want}"
    rows = _parquet_count(con, summary["output_dir"])
    if rows != summary["pending"]:
        return f"scene parquet holds {rows} rows, summary says {summary['pending']}"
    return None


def corpus_expected(con, cfg: dict) -> dict:
    """DuckDB spelling of pipeline.run_corpus_pipeline's summary."""
    toks = "string_split(text, ' ')"
    docs = (
        f"SELECT doc_id, lang, source, n_chars FROM documents "
        f"WHERE len({toks}) >= {cfg['min_tokens']} AND len({toks}) <= {cfg['max_tokens']} "
        f"AND CAST(len(list_distinct({toks})) AS DOUBLE) / len({toks}) "
        f"> {cfg['min_distinct_ratio']!r}"
    )
    if cfg["dedup"]:
        docs = (
            "SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY "
            "md5(concat_ws('|', lang, source, CAST(n_chars AS VARCHAR))) "
            f"ORDER BY doc_id) AS rn FROM ({docs})) WHERE rn = 1"
        )
    bucket = (
        "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100"
    )
    t, v = cfg["train_pct"], cfg["train_pct"] + cfg["val_pct"]
    split = (
        f"CASE WHEN {bucket} < {t} THEN 'train' WHEN {bucket} < {v} "
        "THEN 'val' ELSE 'test' END"
    )
    by_split = dict(
        con.execute(
            f"SELECT {split} AS split, count(*) FROM ({docs}) GROUP BY ALL"
        ).fetchall()
    )
    (input_docs,) = con.execute("SELECT count(*) FROM documents").fetchone()
    return {
        "input_docs": input_docs,
        "kept_docs": sum(by_split.values()),
        "by_split": by_split,
    }


def check_corpus(con, cfg: dict, summary: dict) -> str | None:
    want = corpus_expected(con, cfg)
    got = {k: summary[k] for k in want}
    if got != want:
        return f"corpus summary {got} != duckdb {want}"
    rows = _parquet_count(con, summary["output_dir"])
    if rows != summary["kept_docs"]:
        return f"corpus parquet holds {rows} rows, summary says {summary['kept_docs']}"
    return None


# Curation-report table → the registered query it materializes
# (pipeline.run_report).
REPORT_PARTS = {
    "cards": "q_e_summary_card",
    "dup_sizes": "q_e_dup_sizes",
    "len_buckets": "q_e_len_buckets",
    "funnel": "q_e_curation_funnel",
}


def check_report(spark, con, oracles: dict, summary: dict) -> str | None:
    for part, query in REPORT_PARTS.items():
        path = os.path.join(summary["output_dir"], part)
        rows = _parquet_count(con, path)
        if rows != summary[part]:
            return f"report {part} parquet holds {rows} rows, summary says {summary[part]}"
        m = compare(query, spark.read.parquet(path), oracles[query], con)
        if m is not None:
            return f"report {part}: " + str(m).splitlines()[0]
    return None
