"""The traced pass: spans and status-store counters per layer.

Runs after the untraced timed passes, behind its own honest reset,
over the same items. Every call into a layer is wrapped from the
benchmark's side — a span plus a job group — so the engine itself is
untouched. Layers are named after the repo's modules.

On sql_etl the curation report (``pipeline.run_report``) runs once
after the pass, behind another honest reset, in a span of its own:
``pipeline.report_s``. Its jobs and writes count in ``pipeline.jobs``
and ``sinks.*``, but not in the pass's wall time or ``spark.*``. It
runs in no untimed pass, where its 5-7 s a call would not fit the
run-time budget.

``plan_s`` is the time to force the query's executed plan. The noop
write then plans its own write command around the query again, so
``exec_s`` still holds a planning step, and the extra one the traced
pass makes shows up in the tracing overhead.
"""

from __future__ import annotations

import os
import time

from perfbench.ledger import Ledger, add_totals, empty_totals, honest_reset
from perfbench.trace import Tracer

_SQL = "sql_etl"
_LLM = "llm_battery"


def _module_layers(module: str, battery: str) -> dict:
    return {
        f"{module}.build_s": ("s", "lower", f"cpu_s, wall_s on {battery}"),
        f"{module}.build_jobs": ("count", "lower", f"cpu_s, wall_s on {battery}"),
        f"{module}.plan_s": ("s", "lower", "cpu_s, item_p50_s on sql_etl"),
        f"{module}.exec_s": ("s", "lower", f"cpu_s, wall_s on {battery}"),
        f"{module}.jobs": ("count", "lower", f"cpu_s, wall_s on {battery}"),
    }


# Every per-layer metric: unit, which direction is better, and the
# end-to-end metric and workload it should move (setup_s and cpu_s are
# gated; wall_s, item_p50_s and peak_rss_mb are printed beside them).
# The modules are those with a query in a panel (workloads.PANELS).
LAYERS: dict[str, tuple[str, str, str]] = {
    **{
        k: v
        for m, battery in (
            ("relational", _SQL),
            ("warehouse", _SQL),
            ("etl", _SQL),
            ("spatial", _SQL),
            ("scalar", _SQL),
            ("batch_equiv", _SQL),
            ("similarity", _LLM),
            ("dedup", _LLM),
            ("curation", _LLM),
            ("drift", _LLM),
            ("text", _LLM),
            ("retrieval", _LLM),
            ("linalg", _LLM),
            ("multimodal", _LLM),
            ("spans", _LLM),
            ("udfs", _LLM),
        )
        for k, v in _module_layers(m, battery).items()
    },
    "spark.stages": ("count", "lower", "cpu_s, wall_s on every workload"),
    "spark.tasks": ("count", "lower", "cpu_s, wall_s on every workload"),
    "spark.exec_run_s": ("s", "lower", "cpu_s, wall_s on every workload"),
    "spark.exec_cpu_s": ("s", "lower", "cpu_s, wall_s on every workload"),
    "spark.exec_wait_s": ("s", "lower", "wall_s (printed, not gated) on llm_battery; flat on sql_etl"),
    "spark.gc_s": ("s", "lower", "cpu_s, wall_s, peak_rss_mb on every workload"),
    "spark.core_util": ("ratio", "higher", "wall_s (printed, not gated) on sql_etl"),
    "spark.shuffle_read_bytes": ("bytes", "lower", "cpu_s, wall_s on every workload"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "cpu_s, wall_s on every workload"),
    "spark.spill_bytes": ("bytes", "lower", "cpu_s, wall_s on every workload"),
    "session.start_s": ("s", "lower", "setup_s on every workload"),
    "tables.load_s": ("s", "lower", "setup_s on every workload"),
    "tables.input_rows": ("count", "lower", "cpu_s, wall_s on sql_etl"),
    "tables.input_bytes": ("bytes", "lower", "cpu_s, wall_s on sql_etl"),
    "caches.entries": ("count", "lower", "peak_rss_mb, cpu_s, wall_s on llm_battery; ~0 on sql_etl"),
    "caches.frames": ("count", "lower", "peak_rss_mb, cpu_s, wall_s on llm_battery; ~0 on sql_etl"),
    "caches.persist_bytes": ("bytes", "lower", "peak_rss_mb, cpu_s, wall_s on llm_battery; ~0 on sql_etl"),
    "caches.clear_s": ("s", "lower", "cpu_s, wall_s on llm_battery"),
    "pipeline.scene_s": ("s", "lower", "cpu_s, wall_s on sql_etl"),
    "pipeline.corpus_s": ("s", "lower", "cpu_s, wall_s on sql_etl"),
    "pipeline.report_s": ("s", "lower", "none: the report runs only in the traced pass"),
    "pipeline.jobs": ("count", "lower", "cpu_s, wall_s on sql_etl"),
    "sinks.output_rows": ("count", "higher", "cpu_s, wall_s on sql_etl; identical under a single-pass change"),
    "sinks.output_bytes": ("bytes", "lower", "cpu_s, wall_s on sql_etl; identical under a single-pass change"),
    "sinks.files": ("count", "lower", "cpu_s, wall_s on sql_etl; identical under a single-pass change"),
    "trace.wall_s": ("s", "lower", "wall of the traced pass, for the overhead"),
    "trace.overhead_s": ("s", "lower", "traced minus untraced pass wall"),
}


def _count_parquet_files(root: str) -> int:
    return sum(
        1 for _, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    )


def _trace_query(bench, item, tracer, ledger, vals):
    """Build, plan and execute one query, each in its own span, with
    build-time jobs and execution jobs in separate job groups. Adds to
    the module's metrics; returns the two groups' stage totals."""
    m = item.module
    with ledger.group("build") as gb, tracer.span("build") as sb:
        df = bench.e.queries[item.name](bench.spark, bench.sf_dir)
    with ledger.group("exec") as gx:
        with tracer.span("plan") as sp:
            df._jdf.queryExecution().executedPlan()
        with tracer.span("exec") as sx:
            df.write.format("noop").mode("overwrite").save()
    b, x = ledger.totals(gb), ledger.totals(gx)
    vals[f"{m}.build_s"] += sb.duration
    vals[f"{m}.build_jobs"] += b["jobs"]
    vals[f"{m}.plan_s"] += sp.duration
    vals[f"{m}.exec_s"] += sx.duration
    vals[f"{m}.jobs"] += x["jobs"]
    return b, x


def traced_pass(bench, setup: dict, untraced_wall_s: float):
    """Run one traced pass; return (per-layer metrics, tracer)."""
    spark = bench.spark
    tracer = Tracer(bench.run_id)
    ledger = Ledger(spark, bench.run_id)
    vals = dict.fromkeys(LAYERS, 0.0)
    stage_totals = empty_totals()
    pipe_totals = empty_totals()
    out_dirs: list[str] = []

    honest_reset(spark, bench.e.clear_caches)
    t0 = time.monotonic()
    with tracer.span("workload", workload=bench.workload, seed=bench.args.seed):
        for item in bench.items:
            with tracer.span("item", item=item.name, module=item.module):
                try:
                    if item.kind == "query":
                        b, x = _trace_query(bench, item, tracer, ledger, vals)
                        add_totals(stage_totals, b)
                        add_totals(stage_totals, x)
                    else:
                        with ledger.group(item.kind) as gp, tracer.span(item.kind) as sp:
                            summary = bench.run_pipeline_item(item)
                        p = ledger.totals(gp)
                        vals[f"pipeline.{item.kind}_s"] += sp.duration
                        add_totals(stage_totals, p)
                        add_totals(pipe_totals, p)
                        out_dirs.append(summary["output_dir"])
                except Exception as exc:  # noqa: BLE001 — counted in error_rate
                    bench.fail(item, f"{type(exc).__name__}: {str(exc)[:300]}")
        persist_bytes = ledger.persisted_bytes()
        with tracer.span("cache-clear") as sc:
            released = bench.e.clear_caches()
    wall = time.monotonic() - t0
    if bench.workload == _SQL:
        honest_reset(spark, bench.e.clear_caches)
        out = os.path.join(bench.work_dir, "out", "report")
        try:
            with ledger.group("report") as gp, tracer.span("report") as sp:
                bench.report = bench.e.run_report(spark, bench.sf_dir, out)
        except Exception as exc:  # noqa: BLE001 — counted in error_rate
            bench.failures.setdefault("report", f"{type(exc).__name__}: {str(exc)[:300]}")
        else:
            add_totals(pipe_totals, ledger.totals(gp))
            vals["pipeline.report_s"] = sp.duration
            out_dirs.append(out)

    cores = spark.sparkContext.defaultParallelism
    vals.update(
        {
            "spark.stages": stage_totals["stages"],
            "spark.tasks": stage_totals["tasks"],
            "spark.exec_run_s": stage_totals["exec_run_s"],
            "spark.exec_cpu_s": stage_totals["exec_cpu_s"],
            "spark.exec_wait_s": stage_totals["exec_run_s"] - stage_totals["exec_cpu_s"],
            "spark.gc_s": stage_totals["gc_s"],
            "spark.core_util": stage_totals["exec_run_s"] / (wall * cores),
            "spark.shuffle_read_bytes": stage_totals["shuffle_read_bytes"],
            "spark.shuffle_write_bytes": stage_totals["shuffle_write_bytes"],
            "spark.spill_bytes": stage_totals["spill_bytes"],
            "session.start_s": setup["session_s"],
            "tables.load_s": setup["load_s"],
            "tables.input_rows": stage_totals["input_rows"],
            "tables.input_bytes": stage_totals["input_bytes"],
            "caches.entries": released["entries"],
            "caches.frames": released["frames"],
            "caches.persist_bytes": persist_bytes,
            "caches.clear_s": sc.duration,
            "pipeline.jobs": pipe_totals["jobs"],
            "sinks.output_rows": pipe_totals["output_rows"],
            "sinks.output_bytes": pipe_totals["output_bytes"],
            "sinks.files": sum(_count_parquet_files(d) for d in out_dirs),
            "trace.wall_s": wall,
            "trace.overhead_s": wall - untraced_wall_s,
        }
    )
    honest_reset(spark, bench.e.clear_caches)
    return {k: {"value": vals[k], "unit": u} for k, (u, _, _) in LAYERS.items()}, tracer
