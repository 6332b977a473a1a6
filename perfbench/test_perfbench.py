"""Self-test of the benchmark at smoke size.

    python -m pytest perfbench/ -q

Starts three small Spark processes (about three minutes in all on a
4-core host).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
from probe import PlanPruned, guard_plan  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _smoke(workload: str, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stderr


def test_catalog_matches_benchmark_json():
    bench = _bench_json()
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == run.PER_LAYER
    assert {w["name"]: w["why"] for w in bench["workloads"]} == {
        name: cls.why for name, cls in WORKLOADS.items()
    }


def test_guard_rejects_pruned_plan():
    pruned = "HashAggregate(keys=[], functions=[count(1)])\n+- Project\n   +- Range (0, 16, step=1, splits=4)"
    need = (r"Range \(0, 2000000,", "MapInArrow")
    with pytest.raises(PlanPruned):
        guard_plan("hybrid_count", pruned, need)
    guard_plan("hybrid_count", "MapInArrow fn(x, y)\n+- Range (0, 2000000, step=1, splits=16)", need)


def test_crossing_pip_matches_engine_kernel():
    import oracle
    from raster_join_spark.geo.pip import pip_mask
    from workloads import seeded_polys

    x, y, _ = oracle.synth_xyv(50_000)
    for verts in oracle.poly_verts(seeded_polys(7)):
        assert np.array_equal(oracle.crossing_pip(x, y, verts), pip_mask(x, y, verts))


def test_end_to_end_metrics_named_and_nonzero():
    res, _ = _smoke("synth_agg", 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 6
    assert {n: m["unit"] for n, m in res["metrics"].items()} == {n: u for n, u, _ in run.END_TO_END}
    assert all(m["value"] > 0 for m in res["metrics"].values())


# which per-layer metrics each workload must move off zero
LAYERS = {
    "reference_query": (
        "session.", "sources.", "query.", "geo.classify_", "geo.pip", "knn.probe_s", "knn.exec_s",
        "knn.round_s", "knn.rounds", "knn.queries_per_s", "spark.jobs", "spark.tasks",
    ),
    "synth_agg": ("session.", "sources.", "geo.", "spatial_join.", "spark.tasks", "spark.executor_run_s", "arrow."),
}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_reports_every_layer(workload):
    res, err = _smoke(workload, 1)
    assert res["correct"] and res["failed"] == 0
    assert {n: m["unit"] for n, m in res["metrics"].items()} == {n: u for n, u, _ in run.PER_LAYER}
    exercised = [n for n in res["metrics"] if n.startswith(LAYERS[workload]) and "4096" not in n]
    if workload == "synth_agg":
        exercised += ["geo.classify4096_cold_s", "geo.classify4096_cached_s"]
    assert exercised and all(res["metrics"][n]["value"] > 0 for n in exercised), [
        (n, res["metrics"][n]["value"]) for n in exercised
    ]
    assert "negative control: count() plan rejected as pruned" in err

    path = os.path.join(ROOT, ".perfbench", "spans", f"{workload}-seed5-spans.jsonl")
    with open(path) as f:
        lines = [json.loads(line) for line in f]
    spans = lines[1:]
    by_id = {s["id"]: s for s in spans}
    ops = {s["op"] for s in spans}
    assert len(ops) >= 1
    for s in spans:
        if s["name"] == "op":
            assert s["parent"] is None
        else:
            parent = by_id[s["parent"]]
            assert parent["op"] == s["op"] and parent["start"] <= s["start"] <= s["end"] <= parent["end"]
