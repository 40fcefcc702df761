"""Status-store aggregation on an sf0.001 run: job groups isolate the
jobs of one call, and stage metrics sum to what the scans read."""

import os

import pyarrow.parquet as pq
import pytest

from perfbench.ledger import Ledger, add_totals, empty_totals, persistent_rdd_count

SF = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data", "sf0.001")


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from glaciersgee_spark.session import get_spark

    s = get_spark("perfbench-ledger-test")
    yield s
    s.stop()


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def test_scan_totals_match_the_table(spark):
    led = Ledger(spark, "t")
    path = f"{SF}/lineitem.parquet"
    rows = pq.read_metadata(path).num_rows
    with led.group("scan") as g:
        _noop(spark.read.parquet(path))
    t = led.totals(g)
    assert t["jobs"] >= 1 and t["stages"] >= 1
    assert t["tasks"] >= t["stages"]
    assert t["input_rows"] == rows
    assert t["input_bytes"] > 0
    assert t["exec_run_s"] >= 0 and t["exec_cpu_s"] >= 0


def test_groups_isolate_and_sum(spark):
    led = Ledger(spark, "t")
    df = spark.read.parquet(f"{SF}/orders.parquet")
    with led.group("a") as ga:
        _noop(df)
    with led.group("b") as gb:
        _noop(df.groupBy("o_orderstatus").count())
    with led.group("idle") as gi:
        pass
    a, b = led.totals(ga), led.totals(gb)
    assert b["shuffle_write_bytes"] > 0 and b["shuffle_read_bytes"] > 0
    assert a["shuffle_write_bytes"] == 0
    assert a["input_rows"] == b["input_rows"] == pq.read_metadata(f"{SF}/orders.parquet").num_rows
    both = add_totals(add_totals(empty_totals(), a), b)
    assert both["jobs"] == a["jobs"] + b["jobs"] and both["stages"] == a["stages"] + b["stages"]
    assert led.totals(gi)["jobs"] == 0


def test_registered_query_books_build_and_exec_jobs(spark):
    from __spark_entry__ import queries

    led = Ledger(spark, "t")
    with led.group("build") as gb:
        # runs its join eagerly while building and returns local rows
        df = queries()["q_b_join_cbo"](spark, SF)
    with led.group("exec") as gx:
        _noop(df)
    b, x = led.totals(gb), led.totals(gx)
    assert b["jobs"] >= 1 and b["input_rows"] > 0
    assert x["jobs"] >= 1 and x["input_rows"] == 0


def test_persisted_bytes_and_reset(spark):
    led = Ledger(spark, "t")
    df = spark.read.parquet(f"{SF}/part.parquet").persist()
    df.count()
    assert led.persisted_bytes() > 0 and persistent_rdd_count(spark) >= 1
    spark.catalog.clearCache()
    assert persistent_rdd_count(spark) == 0 and led.persisted_bytes() == 0


def test_honest_reset_releases_engine_and_spark_caches(spark):
    from glaciersgee_spark.caches import clear_caches, register_cache, scoped_persist

    from perfbench.ledger import ResetError, honest_reset

    held = register_cache({})
    held["collected"] = [1.0, 2.0]  # a driver-side value no clearCache reaches
    scoped_persist(spark.read.parquet(f"{SF}/part.parquet"), spark, SF, "reset-test").count()
    spark.read.parquet(f"{SF}/region.parquet").persist().count()
    honest_reset(spark, clear_caches)
    assert not held and persistent_rdd_count(spark) == 0
    assert clear_caches() == {"entries": 0, "frames": 0}

    with pytest.raises(ResetError):
        honest_reset(spark, lambda: {"entries": 1, "frames": 0})
    rdd = spark.sparkContext.parallelize(range(4)).persist()  # out of clearCache's reach
    rdd.count()
    with pytest.raises(ResetError):
        honest_reset(spark, clear_caches)
    rdd.unpersist()
