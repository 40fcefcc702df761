"""Seeded pipeline configs stay on the reference invocation, and the
done-log is the reference call's own selection."""

import os
from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.check import scene_expected
from perfbench.workloads import (
    SCENE_REFERENCE,
    WINDOW_DAYS,
    reference_selection,
    workload_items,
)

SF = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data", "sf0.001")


def _items(seed):
    from __spark_entry__ import queries

    return workload_items("sql_etl", queries(), seed)


def test_scene_configs_shift_the_reference_window():
    fmt = "%Y-%m-%d %H:%M:%S"
    ref = datetime.strptime(SCENE_REFERENCE["date_start"], fmt)
    for seed in range(20):
        scene = [it.config for it in _items(seed) if it.kind == "scene"]
        assert sorted(bool(c["event_types"]) for c in scene) == [False, True]
        assert sorted(c["done_log"] for c in scene) == [False, True]
        for c in scene:
            start, end = (datetime.strptime(c[k], fmt) for k in ("date_start", "date_end"))
            assert (end - start).days == WINDOW_DAYS
            assert (1 if c["done_log"] else 0) <= (start - ref).days <= 5
            assert c["max_quality"] == SCENE_REFERENCE["max_quality"]
    assert [(i.name, i.config) for i in _items(3)] == [(i.name, i.config) for i in _items(3)]


def test_done_log_is_the_reference_selection(tmp_path):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')")
    ids = reference_selection(pq.read_table(f"{SF}/events.parquet"))
    done = str(tmp_path / "done.parquet")
    pq.write_table(pa.table({"event_id": pa.array(ids, pa.int64())}), done)
    cfg = {**SCENE_REFERENCE, "event_types": [], "best_per_cell": True}
    want = scene_expected(con, cfg, done)
    # every scene the reference call selects is in the log, and no other
    assert len(set(ids)) == len(ids) == want["selected"] > 0
    assert want["pending"] == 0
