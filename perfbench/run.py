"""Closed-loop benchmark of the glaciersgee_spark engine.

Usage (from any working directory):

    python3 perfbench/run.py --workload sql_etl --seed 1 --seconds 1 --trace 0

Workloads (see BENCHMARK.json and ``workloads.py`` for why):

* ``sql_etl``     — a panel of relational / warehouse / etl / spatial /
  scalar / batch_equiv queries plus seeded scene-manifest and
  corpus-clean pipeline calls that write partitioned parquet;
* ``llm_battery`` — a panel of similarity / dedup / curation / drift /
  text / retrieval / linalg / multimodal / spans / udfs queries.

Queries run at sf0.01 (``data/``) at local[nproc], rows to the noop
sink. One client issues one item at a time and waits for it (closed
loop). A run is:

1. set-up: session, table loads and seeded inputs, then one untimed
   warm-up pass of every item, which keeps each query's rows and each
   pipeline's summary for the check pass. The first pass after JVM
   start runs 2-10x slower than later ones. All of it is booked in
   ``setup_s``;
2. timed passes, every item once each, until ``--seconds`` have
   passed and at least ``MIN_PASSES`` ran. Each pass starts with the
   honest reset: every registered engine cache and Spark's cache are
   cleared, and the run fails unless both are verifiably empty. Peak
   memory is read right after them;
3. with ``--trace 1``, a reset and one traced pass, with spans and
   Spark status-store counters around every call into a layer; the
   per-layer metrics come from it, and the tracing overhead is its wall
   time minus the untraced median. On sql_etl the curation report
   runs once after it;
4. the check pass: the kept outputs, the parquet the pipelines wrote
   and the curation report are compared against DuckDB, which runs in
   this process. It comes last so that neither DuckDB's time nor its
   memory reaches a gated metric, and it reruns nothing on Spark.

Gated times are CPU seconds of the process tree (this process, the JVM
and its Python workers; ``proc.py``): ``setup_s`` from process start to
the first timed pass, ``cpu_s`` per timed pass (median). Other guests
of the host take a varying share of its cores; over eight sql_etl runs
on a 4-core guest, the spread (IQR / median) of wall time per pass was
0.54 and that of CPU time 0.17. Wall times (``wall_s``, ``item_p50_s``,
``item_p90_s``, set-up wall) are printed and recorded beside them, and
so is ``peak_rss_mb``: the JVM grows its heap when GC takes long, so
its peak moved by up to half between runs of the same code.

The last line of stdout is one JSON object: correct, attempted,
failed and the metrics. Raw numbers and spans go to a new file under
``.perfbench/results/`` in the checkout, never overwriting one.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

T_START = time.monotonic()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.proc import tree_cpu_s, vm_hwm_mb  # noqa: E402
SCALE = "sf0.01"
# One timed pass per run, so a run's length does not depend on the
# host's speed: at run_seconds 1 every run measures exactly this many
# passes, and later passes spend less CPU time on JIT compilation.
MIN_PASSES = 1
# The end-to-end metrics (BENCHMARK.json "end_to_end") and their units.
END_TO_END = {"setup_s": "s", "cpu_s": "s"}
# Driver heap cap, through the session factory's own setting. With its
# 8g default the JVM heap grows lazily toward 8g (4.4 GB resident in one
# llm_battery run against 1.8 GB at 2g), which a host whose memory other
# jobs share cannot spare. At 2g, memory growth shows partly as GC time.
DRIVER_MEM = "2g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_process(work_dir: str) -> None:
    """Launcher: make the checkout importable by this process AND by
    the Python workers Spark forks (they inherit the environment the
    JVM is started with), and keep every scratch file in work_dir."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    tempfile.tempdir = tmp
    os.chdir(work_dir)  # spark-warehouse / metastore land here


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory (MB) of this Python process and of the JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb("self"), vm_hwm_mb(jvm_pid)


class Collected:
    """A query's result rows, collected on the driver, with what
    tests.parity.compare reads of a DataFrame besides them."""

    def __init__(self, df):
        self.columns = df.columns
        self.schema = df.schema
        self.rows = df.collect()

    def collect(self) -> list:
        return self.rows


class Bench:
    def __init__(self, args, engine):
        self.args = args
        self.e = engine
        self.workload = args.workload
        self.sf_dir = os.path.join(HERE, "data", SCALE)
        self.work_dir = args.work_dir
        self.run_id = args.run_id
        self.spark = None
        self.items = []
        self.failures: dict[str, str] = {}
        self.done_logs: dict[str, str] = {}
        self.summaries: dict[str, dict] = {}
        self.report: dict | None = None
        self.outputs: dict = {}
        self._out_seq = 0

    # -- set-up ------------------------------------------------------------

    def setup(self) -> dict:
        """Session, table loads and seeded inputs; the times of each."""
        e = self.e
        t0 = time.monotonic()
        self.spark = e.get_spark(f"perfbench-{self.workload}")
        t1 = time.monotonic()
        for name in e.TABLE_NAMES:
            e.load_table(self.spark, self.sf_dir, name)
        t2 = time.monotonic()
        self.make_inputs()
        t3 = time.monotonic()
        return {"session_s": t1 - t0, "load_s": t2 - t1, "inputs_s": t3 - t2}

    def make_inputs(self) -> None:
        """The done-log of the scene items that take one."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from perfbench.workloads import reference_selection

        scene = [it for it in self.items if it.kind == "scene" and it.config["done_log"]]
        if not scene:
            return
        ids = reference_selection(pq.read_table(os.path.join(self.sf_dir, "events.parquet")))
        path = os.path.join(self.work_dir, "inputs", "done_log.parquet")
        os.makedirs(os.path.dirname(path))
        pq.write_table(pa.table({"event_id": pa.array(ids, pa.int64())}), path)
        for it in scene:
            self.done_logs[it.name] = path

    # -- items ---------------------------------------------------------------

    def out_dir(self, item) -> str:
        self._out_seq += 1
        return os.path.join(self.work_dir, "out", f"{self._out_seq:04d}_{item.name}")

    def run_pipeline_item(self, item) -> dict:
        e, spark, sf = self.e, self.spark, self.sf_dir
        out = self.out_dir(item)
        if item.kind == "scene":
            cfg = {k: v for k, v in item.config.items() if k != "done_log"}
            cfg["event_types"] = tuple(cfg["event_types"])
            return e.run_pipeline(
                spark, sf, e.SceneQueryConfig(**cfg), out, self.done_logs.get(item.name)
            )
        return e.run_corpus_pipeline(spark, sf, e.CorpusCleanConfig(**item.config), out)

    def run_item(self, item, keep: bool = False) -> None:
        """One closed-loop call, rows to the noop sink for queries. With
        keep, query rows are collected instead and, like a pipeline's
        summary, kept in self.outputs for the check pass."""
        if item.kind == "query":
            df = self.e.queries[item.name](self.spark, self.sf_dir)
            if keep:
                self.outputs[item.name] = Collected(df)
            else:
                df.write.format("noop").mode("overwrite").save()
        else:
            summary = self.run_pipeline_item(item)
            if keep:
                self.outputs[item.name] = summary

    def check_item(self, item, con) -> str | None:
        from perfbench import check

        out = self.outputs[item.name]
        if item.kind == "query":
            return check.check_query(item.name, out, self.e.oracles.get(item.name), con)
        summary = out
        self.summaries[item.name] = {k: v for k, v in summary.items() if k != "output_dir"}
        if item.kind == "scene":
            return check.check_scene(con, item.config, self.done_logs.get(item.name), summary)
        cfg = dataclasses.asdict(self.e.CorpusCleanConfig(**item.config))
        return check.check_corpus(con, cfg, summary)

    def fail(self, item, reason: str) -> None:
        self.failures.setdefault(item.name, reason)
        print(f"# item {item.name} failed: {reason}", file=sys.stderr)

    def check_pass(self) -> list[float]:
        """Untimed check of every output the warm-up pass kept, and of
        the curation report when the traced pass wrote one. Returns the
        per-item check times."""
        from perfbench import check
        from tests.parity import make_duck

        con = make_duck(self.sf_dir)
        times = []
        for item in self.items:
            if item.name not in self.outputs:
                continue  # it raised in the warm-up pass: already failed
            t0 = time.monotonic()
            try:
                reason = self.check_item(item, con)
            except Exception as exc:  # noqa: BLE001 — counted, run continues
                reason = f"{type(exc).__name__}: {str(exc)[:300]}"
            times.append(time.monotonic() - t0)
            if reason:
                self.fail(item, reason)
        if self.report is not None:
            reason = check.check_report(self.spark, con, self.e.oracles, self.report)
            if reason:
                self.failures.setdefault("report", reason)
                print(f"# report failed: {reason}", file=sys.stderr)
        con.close()
        return times

    # -- passes ----------------------------------------------------------------

    def timed_pass(self, keep: bool = False) -> tuple[float, float, list[float]]:
        """Every item once: the pass wall time, the CPU time the process
        tree spent in it, and each item's latency."""
        lat = []
        c0 = tree_cpu_s()
        t0 = time.monotonic()
        for item in self.items:
            t = time.monotonic()
            try:
                self.run_item(item, keep)
            except Exception as exc:  # noqa: BLE001 — counted in error_rate
                self.fail(item, f"{type(exc).__name__}: {str(exc)[:300]}")
            lat.append(time.monotonic() - t)
        return time.monotonic() - t0, tree_cpu_s() - c0, lat


def load_engine():
    """The engine's public surface, imported after the launcher ran."""
    from types import SimpleNamespace

    from __spark_entry__ import oracle_sql, queries
    from glaciersgee_spark.caches import clear_caches
    from glaciersgee_spark.pipeline import (
        CorpusCleanConfig,
        SceneQueryConfig,
        run_corpus_pipeline,
        run_pipeline,
        run_report,
    )
    from glaciersgee_spark.session import get_spark
    from glaciersgee_spark.tables import TABLE_NAMES, load_table

    return SimpleNamespace(
        queries=queries(),
        oracles=oracle_sql(),
        clear_caches=clear_caches,
        get_spark=get_spark,
        load_table=load_table,
        TABLE_NAMES=TABLE_NAMES,
        SceneQueryConfig=SceneQueryConfig,
        CorpusCleanConfig=CorpusCleanConfig,
        run_pipeline=run_pipeline,
        run_corpus_pipeline=run_corpus_pipeline,
        run_report=run_report,
    )


def execute(args) -> dict:
    from perfbench import stats
    from perfbench.ledger import honest_reset
    from perfbench.workloads import workload_items

    engine = load_engine()
    import_s = time.monotonic() - T_START
    bench = Bench(args, engine)
    bench.items = workload_items(args.workload, engine.queries, args.seed)
    try:
        setup = bench.setup()
        honest_reset(bench.spark, engine.clear_caches)
        warm_s, warm_cpu_s, _ = bench.timed_pass(keep=True)
        setup_wall_s = time.monotonic() - T_START
        setup_s = tree_cpu_s()  # CPU time of the tree since process start

        # Closed loop for --seconds: whole passes, each behind an honest
        # reset, until the time is used and at least MIN_PASSES ran.
        passes = []
        t0 = time.monotonic()
        while len(passes) < MIN_PASSES or time.monotonic() - t0 < args.seconds:
            honest_reset(bench.spark, engine.clear_caches)
            passes.append(bench.timed_pass())
        wall_s = statistics.median(w for w, _, _ in passes)
        lat = [x for _, _, pass_lat in passes for x in pass_lat]
        rss = peak_rss_mb(bench.spark)

        layers = tracer = None
        if args.trace:
            from perfbench.traced import traced_pass

            layers, tracer = traced_pass(bench, setup, wall_s)
        check_s = bench.check_pass()
    finally:
        if bench.spark is not None:
            stop_jvm(bench.spark)

    values = {
        "setup_s": setup_s,
        "cpu_s": statistics.median(c for _, c, _ in passes),
        "wall_s": wall_s,
        "item_p50_s": statistics.median(lat),
        "peak_rss_mb": sum(rss),
    }
    metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    tail = stats.tail(lat)
    attempted = len(bench.items) + (bench.report is not None or "report" in bench.failures)
    failed = len(bench.failures)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cores": _cores(),
        "scale": SCALE,
        "run_id": args.run_id,
        "items": [[it.kind, it.name, it.module, it.config] for it in bench.items],
        "setup": {
            "import_s": import_s,
            **setup,
            "warmup_pass_s": warm_s,
            "warmup_pass_cpu_s": warm_cpu_s,
            "setup_wall_s": setup_wall_s,
            "setup_cpu_s": setup_s,
        },
        "check_s": check_s,
        "pipeline_summaries": bench.summaries,
        "report": bench.report,
        "timed": {
            "pass_wall_s": [w for w, _, _ in passes],
            "pass_cpu_s": [c for _, c, _ in passes],
            "latencies_s": lat,
        },
        "failures": bench.failures,
        "peak_rss_python_jvm_mb": rss,
        "metrics": metrics,
        "values": values,
        "item_p90_s": (
            stats.percentile(lat, 90) if tail and tail[0] >= 90 else None
        ),
        "item_tail": {
            "n": len(lat),
            **(dict(zip(("percentile", "value", "beyond"), tail)) if tail else {}),
        },
        "error_rate": failed / attempted,
    }
    if args.trace:
        from perfbench.traced import LAYERS

        record["per_layer"] = layers
        record["layer_moves"] = {k: moves for k, (_, _, moves) in LAYERS.items()}
        record["spans_file"] = args.result_path[: -len(".json")] + ".spans.jsonl"
        tracer.dump(record["spans_file"])
    return {"record": record, "attempted": attempted, "failed": failed}


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def print_summary(res: dict) -> None:
    """Every end-to-end number by name with its unit, item counts stated."""
    rec = res["record"]
    v = rec["values"]
    n = rec["item_tail"]["n"]
    print(
        f"# {rec['workload']} seed={rec['seed']} cores={rec['cores']} "
        f"scale={rec['scale']} items={len(rec['items'])} "
        f"passes={len(rec['timed']['pass_wall_s'])} samples={n}"
    )
    print(f"setup_s {v['setup_s']:.4f} s (process tree CPU; wall {rec['setup']['setup_wall_s']:.4f} s)")
    print(f"cpu_s {v['cpu_s']:.4f} s (process tree CPU per pass)")
    print(f"wall_s {v['wall_s']:.4f} s")
    print(f"item_p50_s {v['item_p50_s']:.4f} s (n={n})")
    if rec["item_p90_s"] is not None:
        print(f"item_p90_s {rec['item_p90_s']:.4f} s (n={n})")
    else:
        print(f"item_p90_s n/a s (n={n}: fewer than 10 samples above the 90th percentile)")
    tail = rec["item_tail"]
    if "percentile" in tail:
        print(
            f"# tail: p{tail['percentile']:g} = {tail['value']:.4f} s "
            f"({tail['beyond']} of {n} samples beyond it)"
        )
    print(f"error_rate {rec['error_rate']:.4f} ratio ({res['failed']}/{res['attempted']} items)")
    print(f"peak_rss_mb {v['peak_rss_mb']:.1f} MB")


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [
        p
        for p in ("glaciersgee_spark/__init__.py", "__spark_entry__.py", "tests/parity.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    data = os.path.join(HERE, "data", SCALE)
    if missing or not os.path.isdir(data):
        print(f"perfbench: not a glaciers-spark checkout (missing {missing or data})", file=sys.stderr)
        return 2

    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime()) + f"_{time.time_ns() % 10**9:09d}"
    key = f"{args.workload}_seed{args.seed}_c{_cores()}_{stamp}"
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    args.run_id = key
    args.result_path = os.path.join(results, key + ".json")
    args.work_dir = os.path.join(ROOT, ".perfbench", "work", key)
    if os.path.exists(args.result_path) or os.path.exists(args.work_dir):
        print(f"perfbench: refusing to overwrite {args.result_path}", file=sys.stderr)
        return 3
    os.makedirs(args.work_dir)
    prepare_process(args.work_dir)
    try:
        res = execute(args)
    except Exception:  # noqa: BLE001 — no result line on a failed run
        traceback.print_exc()
        return 1
    finally:
        os.chdir(ROOT)
        shutil.rmtree(args.work_dir, ignore_errors=True)
    with open(args.result_path, "x") as f:
        json.dump(res["record"], f, indent=1, sort_keys=True)
    print_summary(res)
    rec = res["record"]
    metrics = rec["per_layer"] if args.trace else rec["metrics"]
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
