"""Spark status-store ledger: jobs and stage metrics per job group.

Every call into a layer runs under its own job group, so the jobs it
launched — including the ones a query function launches while it
builds its DataFrame — can be listed afterwards with the status
tracker. Stage metrics come from the status store's
``lastStageAttempt``, which is populated with ``spark.ui.enabled=false``
too. All of this is read only in the traced run.
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# Status-store StageData fields summed per group: name → (getter, scale).
_STAGE_FIELDS = {
    "tasks": ("numCompleteTasks", 1),
    "exec_run_s": ("executorRunTime", 1e-3),  # ms
    "exec_cpu_s": ("executorCpuTime", 1e-9),  # ns
    "gc_s": ("jvmGcTime", 1e-3),  # ms
    "input_rows": ("inputRecords", 1),
    "input_bytes": ("inputBytes", 1),
    "output_rows": ("outputRecords", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}

STAGE_KEYS = ("jobs", "stages", *_STAGE_FIELDS)


def empty_totals() -> dict[str, float]:
    return dict.fromkeys(STAGE_KEYS, 0)


def add_totals(into: dict, other: dict) -> dict:
    for k, v in other.items():
        into[k] = into.get(k, 0) + v
    return into


class Ledger:
    """Job groups plus status-store reads for one SparkContext."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._prefix = run_id
        self._seq = itertools.count(1)

    @contextmanager
    def group(self, label: str):
        """Run the block under a fresh job group; yields the group id."""
        gid = f"{self._prefix}:{next(self._seq)}:{label}"
        self.sc.setJobGroup(gid, label, interruptOnCancel=False)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store reflects all finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def totals(self, gid: str) -> dict[str, float]:
        """Jobs, completed stages and summed stage metrics of one job
        group (each stage counted once even if several jobs share it)."""
        self.drain()
        tracker = self.sc.statusTracker()
        out = empty_totals()
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(gid):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = self._jsc.statusStore()
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # evicted from the store, or never submitted
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused, no tasks ran
            out["stages"] += 1
            for key, (getter, scale) in _STAGE_FIELDS.items():
                out[key] += getattr(st, getter)() * scale
        return out

    def persisted_bytes(self) -> int:
        """Memory plus disk bytes of every persisted RDD right now."""
        return sum(
            i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo()
        )


def persistent_rdd_count(spark) -> int:
    """RDDs still marked persistent in this context."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class ResetError(RuntimeError):
    """A cache survived the honest reset."""


def honest_reset(spark, clear_caches) -> None:
    """Clear every registered engine cache (``caches.clear_caches``) and
    Spark's cache, then prove both empty: a second clear_caches() must
    find no entry — driver-side values such as collected training
    results included — and no RDD may still be persisted. Raises
    ResetError otherwise, which fails the run."""
    clear_caches()
    spark.catalog.clearCache()
    left = clear_caches()
    if left["entries"] or left["frames"]:
        raise ResetError(f"registered caches still held entries after clear: {left}")
    n = persistent_rdd_count(spark)
    if n:
        raise ResetError(f"{n} RDDs still persisted after clearCache()")
