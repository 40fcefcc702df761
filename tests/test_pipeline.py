"""Config-driven pipeline lifecycle (pipeline.py + cli.py): selection
correctness against an independent spelling, manifest determinism, and
idempotent re-run via the done-log anti join."""

import itertools
import json
import subprocess
import sys
import tempfile

import pyspark.sql.functions as F

from glaciersgee_spark.pipeline import (
    SceneQueryConfig,
    build_manifest,
    pending_downloads,
    run_pipeline,
    select_scenes,
)
from glaciersgee_spark.tables import load_table
from tests.conftest import SF_SMOKE

CFG = SceneQueryConfig(
    date_start="2024-01-05 00:00:00",
    date_end="2024-01-20 00:00:00",
    max_quality=120.0,
    event_types=("click", "view", "purchase"),
)


def test_select_scenes_matches_independent_spelling(spark):
    got = {r.event_id for r in select_scenes(spark, SF_SMOKE, CFG).collect()}
    ev = load_table(spark, SF_SMOKE, "events")
    base = ev.where(
        (F.col("ts") >= F.lit(CFG.date_start).cast("timestamp_ntz"))
        & (F.col("ts") < F.lit(CFG.date_end).cast("timestamp_ntz"))
        & (F.col("value") <= CFG.max_quality)
        & F.col("event_type").isin(*CFG.event_types)
    ).withColumn("day", F.date_trunc("day", "ts"))
    # independent best-per-cell: min (value, event_id) pair per group
    best = (
        base.groupBy("user_id", "day")
        .agg(F.min(F.struct("value", "event_id")).alias("m"))
        .select(F.col("m.event_id").alias("event_id"))
    )
    want = {r.event_id for r in best.collect()}
    assert got == want and len(got) > 0


def test_manifest_paths_deterministic(spark):
    m1 = {r.event_id: r.export_url for r in
          build_manifest(select_scenes(spark, SF_SMOKE, CFG)).collect()}
    m2 = {r.event_id: r.export_url for r in
          build_manifest(select_scenes(spark, SF_SMOKE, CFG)).collect()}
    assert m1 == m2
    assert all(u.startswith("s3://landsat-archive/cell_") for u in m1.values())


def test_run_pipeline_idempotent_with_done_log(spark):
    out1 = tempfile.mkdtemp(prefix="ggee_pipe1_")
    s1 = run_pipeline(spark, SF_SMOKE, CFG, out1)
    assert s1["selected"] == s1["pending"] > 0

    # second run: everything already downloaded → pending drops to 0
    out2 = tempfile.mkdtemp(prefix="ggee_pipe2_")
    s2 = run_pipeline(spark, SF_SMOKE, CFG, out2, done_log_path=out1)
    assert s2["selected"] == s1["selected"]
    assert s2["pending"] == 0


def test_partial_done_log_yields_difference(spark):
    manifest = build_manifest(select_scenes(spark, SF_SMOKE, CFG))
    done = manifest.limit(3).select("event_id")
    left = pending_downloads(manifest, done)
    assert left.count() == manifest.count() - 3


def test_cli_end_to_end():
    cfg = {
        "date_start": "2024-01-05 00:00:00",
        "date_end": "2024-01-20 00:00:00",
        "max_quality": 120.0,
    }
    out = tempfile.mkdtemp(prefix="ggee_cli_")
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "glaciersgee_spark.cli",
            json.dumps(cfg),
            "--sf-dir",
            SF_SMOKE,
            "--out",
            out,
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
    )
    assert res.returncode == 0, res.stderr[-2000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["pending"] > 0 and summary["output_dir"] == out


def test_corpus_pipeline_end_to_end(spark, tmp_path):
    from glaciersgee_spark.pipeline import CorpusCleanConfig, run_corpus_pipeline
    from glaciersgee_spark.tables import load_table

    out = str(tmp_path / "shards")
    cfg = CorpusCleanConfig(min_tokens=5, max_tokens=500, min_distinct_ratio=0.1)
    summary = run_corpus_pipeline(spark, SF_SMOKE, cfg, out)
    assert 0 < summary["kept_docs"] <= summary["input_docs"]
    assert set(summary["by_split"]) <= {"train", "val", "test"}
    back = spark.read.parquet(out)
    assert back.count() == summary["kept_docs"]
    # split column travels via the partition directories
    assert "split" in back.columns
    # rerun is deterministic: same kept set, same split assignment
    again = run_corpus_pipeline(spark, SF_SMOKE, cfg, str(tmp_path / "shards2"))
    assert again["by_split"] == summary["by_split"]


def test_report_mode_writes_all_tables(spark, tmp_path):
    from glaciersgee_spark.pipeline import run_report
    from tests.conftest import SF_SMOKE

    out = str(tmp_path / "report")
    summary = run_report(spark, SF_SMOKE, out)
    assert set(summary) == {"output_dir", "cards", "dup_sizes", "len_buckets", "funnel"}
    for k in ("cards", "dup_sizes", "len_buckets", "funnel"):
        assert summary[k] > 0
        assert spark.read.parquet(f"{out}/{k}").count() == summary[k]


# ---------------------------------------------------------------------------
# Single-pass pipelines: the summary counts are observed metrics of the
# write, so a call runs its write plus one read-back action (scene, only
# when something was written) or the input count (corpus) — and the
# summaries equal the former count-per-number spelling.


_JOB_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn's result, Spark jobs it launched), through a job group."""
    sc = spark.sparkContext
    gid = f"ggee-test-jobs-{next(_JOB_GROUPS)}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _within(seconds, fn):
    """fn() on a daemon thread; fails instead of hanging when it does
    not return in time (an Observation whose action never ran blocks
    its reader forever)."""
    import threading

    box = {}

    def run():
        try:
            box["out"] = fn()
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            box["err"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"no result within {seconds} s"
    if "err" in box:
        raise box["err"]
    return box["out"]


def _scene_counts(spark, cfg, done_log_path=None):
    """The former run_pipeline summary: one count job per number."""
    manifest = build_manifest(select_scenes(spark, SF_SMOKE, cfg))
    done = spark.read.parquet(done_log_path) if done_log_path else None
    todo = pending_downloads(manifest, done)
    return {
        "selected": manifest.count(),
        "pending": todo.count(),
        "cells": todo.select("user_id").distinct().count(),
    }


def _corpus_counts(spark, cfg):
    """The former run_corpus_pipeline summary, via a groupBy."""
    from glaciersgee_spark.pipeline import clean_corpus

    by_split = {
        r.split: r.n
        for r in clean_corpus(spark, SF_SMOKE, cfg)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return {
        "input_docs": load_table(spark, SF_SMOKE, "documents").count(),
        "kept_docs": sum(by_split.values()),
        "by_split": by_split,
    }


def _summary(s):
    return {k: v for k, v in s.items() if k != "output_dir"}


def test_run_pipeline_jobs_are_write_plus_one_read_back(spark, tmp_path):
    from glaciersgee_spark.sources import sinks

    load_table(spark, SF_SMOKE, "events")  # first-load jobs, not the call's
    s, call = _jobs(
        spark, lambda: run_pipeline(spark, SF_SMOKE, CFG, str(tmp_path / "a"))
    )
    assert s["pending"] > 0
    frame = pending_downloads(build_manifest(select_scenes(spark, SF_SMOKE, CFG)), None)
    _, write = _jobs(
        spark,
        lambda: sinks.write_parquet_partitioned(frame, str(tmp_path / "b"), "day"),
    )
    _, read_back = _jobs(
        spark,
        lambda: spark.read.parquet(str(tmp_path / "b"))
        .agg(F.count(F.lit(1)), F.countDistinct("user_id"))
        .first(),
    )
    assert call == write + read_back

    # nothing pending: nothing to read back, the write is the only work
    done = str(tmp_path / "a")
    s, call = _jobs(
        spark, lambda: run_pipeline(spark, SF_SMOKE, CFG, str(tmp_path / "c"), done)
    )
    assert s["pending"] == 0
    _, write = _jobs(  # reading the done-log's schema is a job of its own
        spark,
        lambda: sinks.write_parquet_partitioned(
            pending_downloads(
                build_manifest(select_scenes(spark, SF_SMOKE, CFG)),
                spark.read.parquet(done).select("event_id"),
            ),
            str(tmp_path / "d"),
            "day",
        ),
    )
    assert call == write


def test_run_corpus_pipeline_jobs_are_write_plus_input_count(spark, tmp_path):
    from glaciersgee_spark.pipeline import (
        CorpusCleanConfig,
        clean_corpus,
        run_corpus_pipeline,
    )
    from glaciersgee_spark.sources import sinks

    cfg = CorpusCleanConfig(min_tokens=5)
    load_table(spark, SF_SMOKE, "documents")
    s, call = _jobs(
        spark, lambda: run_corpus_pipeline(spark, SF_SMOKE, cfg, str(tmp_path / "a"))
    )
    assert s["kept_docs"] > 0
    frame = clean_corpus(spark, SF_SMOKE, cfg)
    _, write = _jobs(
        spark,
        lambda: sinks.write_parquet_partitioned(frame, str(tmp_path / "b"), "split"),
    )
    _, count = _jobs(spark, lambda: load_table(spark, SF_SMOKE, "documents").count())
    assert call == write + count


def test_pipeline_summaries_match_counts_on_edge_cases(spark, tmp_path):
    """Empty results keep the former multi-count summaries and do not
    hang on an Observation: an empty date window, a quality cap below
    every value, a done-log that covers every scene, a corpus config
    that keeps no document — and one ordinary config of each."""
    from dataclasses import replace

    from glaciersgee_spark.pipeline import CorpusCleanConfig, run_corpus_pipeline

    done = str(tmp_path / "done")
    run_pipeline(spark, SF_SMOKE, CFG, done)
    scenes = {
        "reference": (CFG, None),
        "empty_window": (replace(CFG, date_end=CFG.date_start), None),
        "quality_below_all": (replace(CFG, max_quality=-1e12), None),
        "all_done": (CFG, done),
        "no_compositing": (replace(CFG, best_per_cell=False, event_types=()), None),
    }
    for name, (cfg, log) in scenes.items():
        out = str(tmp_path / name)
        got = _within(300, lambda: run_pipeline(spark, SF_SMOKE, cfg, out, log))
        assert _summary(got) == _scene_counts(spark, cfg, log), name
    assert _summary(got)["pending"] > 0  # the last one wrote rows
    corpora = {
        "default": CorpusCleanConfig(),
        "keeps_none": CorpusCleanConfig(min_tokens=10**6),
        "train_only": CorpusCleanConfig(dedup=False, train_pct=100, val_pct=0),
    }
    for name, cfg in corpora.items():
        out = str(tmp_path / name)
        got = _within(300, lambda: run_corpus_pipeline(spark, SF_SMOKE, cfg, out))
        assert _summary(got) == _corpus_counts(spark, cfg), name
    assert _summary(got)["by_split"].keys() == {"train"}


def test_codegen_cache_holds_a_benchmark_pass(spark, tmp_path):
    """get_spark sizes Spark's generated-code cache to hold a whole pass
    of the benchmark's sql_etl panel plus both pipelines (~165 classes,
    more than Spark's default of 100 entries): a second pass compiles
    nothing. CodegenMetrics counts every Janino compile in this JVM."""
    from glaciersgee_spark.caches import clear_caches
    from glaciersgee_spark.pipeline import CorpusCleanConfig, run_corpus_pipeline
    from perfbench.workloads import PANELS

    from __spark_entry__ import queries

    qs = queries()
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def one_pass(tag):
        for name in PANELS["sql_etl"]:
            qs[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        run_pipeline(spark, SF_SMOKE, CFG, str(tmp_path / f"s{tag}"))
        out = str(tmp_path / f"c{tag}")
        run_corpus_pipeline(spark, SF_SMOKE, CorpusCleanConfig(), out)
        clear_caches()
        spark.catalog.clearCache()

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    one_pass(1)
    before = compiles.getCount()
    one_pass(2)
    assert compiles.getCount() - before == 0
