"""BENCHMARK.json agrees with the code that produces its metrics, and
the benchmark refuses to run outside a checkout."""

import json
import os
import shutil
import subprocess
import sys

from perfbench.run import END_TO_END
from perfbench.traced import LAYERS
from perfbench.workloads import PANELS, WORKLOADS, module_of

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_code():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == [
        (k, u, better) for k, (u, better, _) in LAYERS.items()
    ]
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_every_panel_module_has_layer_metrics():
    import glaciersgee_spark

    glaciersgee_spark.load_all_queries()
    from glaciersgee_spark.registry import QUERIES

    for panel in PANELS.values():
        for name in panel:
            assert f"{module_of(QUERIES[name])}.build_s" in LAYERS, name


def test_refuses_to_run_without_the_engine(tmp_path):
    b = _bench()
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in b["paths"]:
        shutil.copytree(
            os.path.join(ROOT, p), tmp_path / p, ignore=shutil.ignore_patterns("__pycache__")
        )
    cmd = b["command"] + ["--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0"]
    cmd[0] = sys.executable
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
