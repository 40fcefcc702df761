"""SparkSession factory + defensive per-session configuration.

Two entry paths exist:
  * our own tests/bench build a session via :func:`get_spark`;
  * the driver hands us an already-built session (``entry(spark)``).

Because of the second path, every conf we depend on must ALSO be
settable at runtime on a foreign session — :func:`ensure_confs` is
called from the table loader so any query works on any session.

One static conf is a speed setting only, so :func:`get_spark` alone
sets it: the generated-code cache size (``_CODEGEN_CACHE_ENTRIES``).
Spark keeps the Janino-compiled class of every whole-stage-codegen
stage and projection in one JVM-wide LRU cache of 100 entries by
default, fewer than one pass of either benchmark workload needs, so
every pass recompiled almost all of its classes (~170 per sql_etl
pass) and the JIT then compiled the new classes again. The cache holds
compiled operator code, not data: a cached plan still recomputes every
row.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs every query in this engine relies on.
_RUNTIME_CONFS = {
    # Oracle parity: DuckDB timestamps are naive; keep Spark wall-clock UTC.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS). Spark ≥4.1 reads it
    # natively as µs-truncated TIMESTAMP_NTZ and ignores this conf;
    # on older Spark it reads as long (tables.load_table converts).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # AQE: runtime shuffle-partition coalescing + skew-join splitting —
    # the 100 TB posture is "never hardcode partition counts".
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas-UDF boundary (Group F) and toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python Data Source filter pushdown (Spark 4.1): off by default
    # upstream, and a pushFilters-implementing reader REFUSES to plan
    # without it (DATA_SOURCE_PUSHDOWN_DISABLED) — required by
    # q_b_scan_pysource_filters' connector-side pruning.
    "spark.sql.python.filterPushdown.enabled": "true",
}


# Working set measured as the Janino compiles of a first pass with an
# unbounded cache: ~165 (sql_etl), ~205 (llm_battery), ~7200 over one
# run of every registered query at sf0.001. 1000 holds either workload's
# pass several times over; the whole battery, whose queries run one at
# a time, need not fit. A cached class costs ~14 KB of metaspace (135 →
# 235 MB over those ~7200), so a full cache holds ~15 MB.
_CODEGEN_CACHE_ENTRIES = "1000"


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a possibly-foreign session (idempotent)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # A conf that can't be set at runtime on this build: queries
            # that need it will fail loudly; everything else proceeds.
            pass
    return spark


def get_spark(app_name: str = "glaciersgee-spark") -> SparkSession:
    """Build the engine's own local session (tests / bench / CLI).

    Master and parallelism come from ``SPARK_GRAFT_CPUS`` (driver
    convention) falling back to ``local[*]``; shuffle partitions match
    core count — AQE coalesces down as needed, so this is an upper
    bound, not a tuning knob.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle = cpus if cpus else "32"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Small-dim broadcast: every TPC-H-ish dimension in the corpus
        # fits; at 100 TB real dims still fit (region/nation/part-scale).
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.ui.enabled", "false")
        # Static, so not in _RUNTIME_CONFS: ensure_confs cannot apply it
        # to a foreign session (spark.conf.set refuses static confs, and
        # the JVM sizes its codegen cache once, at the first compile).
        # Such a session keeps Spark's default: slower, never different.
        .config("spark.sql.codegen.cache.maxEntries", _CODEGEN_CACHE_ENTRIES)
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_confs(spark)
