"""Tests of the benchmark itself, on tiny inputs.

    python3 -m pytest perfbench -q

They check that every Spark job of a traced operation is attributed to
exactly one layer, and that every metric the benchmark prints is
declared in BENCHMARK.json with the same unit.
"""

import json
import os
import tempfile
import time

import pytest

from perfbench import bench
from perfbench import trace as tr
from perfbench.workloads import Sizes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# small enough for a few seconds per fit, but above the local cap so
# the fit samples, assigns and contracts
TINY = Sizes(
    lineitem_rows=3_000,
    blobs_rows=2_000,
    blobs_clusters=4,
    reference_rows=1_500,
    predict_new_rows=500,
    predict_fitted_rows=100,
    fit_overrides={"max_local_size": 512, "max_samples_per_subset": 64},
)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = bench.start_session(str(tmp_path_factory.mktemp("perfbench")))
    yield s
    s.stop()


@pytest.fixture(scope="module")
def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec


def _run(spark, tmp_path, workload, trace):
    work = tempfile.mkdtemp(dir=tmp_path)
    result, loop = bench.run(spark, workload, 1, 0.0, trace, work, TINY, time.perf_counter())
    assert result["correct"], loop.problems
    return result, loop


@pytest.mark.parametrize("workload", ["fit_lineitem_4d", "predict_lineitem_4d"])
def test_every_job_attributed_to_one_layer(spark, tmp_path, workload):
    _result, loop = _run(spark, tmp_path, workload, trace=True)
    traced = [r for r in loop.records if r["traced"]]
    assert traced
    for i, rec in enumerate(loop.records):
        if not rec["traced"]:
            continue
        group_jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup(f"perfbench-op{i}"))
        assert group_jobs and set(rec["owner"]) == group_jobs
        assert set(rec["owner"].values()) <= set(tr.LAYERS)
        layers = rec["layers"]
        assert sum(layers[f"{L}.jobs"] for L in tr.LAYERS) == len(group_jobs)
        # the phase windows tile the operation
        assert sum(layers[f"{L}.wall_s"] for L in tr.LAYERS) == pytest.approx(rec["wall_s"])
        used = {L for L in tr.LAYERS if layers[f"{L}.jobs"] > 0}
        if workload.startswith("fit"):
            assert {
                "plans.mrhdbscan",
                "operators.sampling",
                "operators.nearest",
                "kernels.hdbscan_kernel",
                "kernels.contract_kernel",
            } <= used
            assert "plans.predict" not in used
            counts = rec["counts"]
            assert counts["kernels.hdbscan_kernel.leaf_subsets"] > 0
            assert counts["kernels.hdbscan_kernel.pair_dists"] > 0
            assert counts["operators.nearest.rows"] > 0
            assert counts["kernels.hdbscan_kernel.hierarchy_verts"] > 0
        else:
            assert used == {"plans.predict"}


def test_printed_metrics_are_declared(spark, tmp_path, declared):
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        result, _loop = _run(spark, tmp_path, "fit_blobs_64d", trace)
        units = {m["name"]: m["unit"] for m in declared[key]}
        printed = {k: v["unit"] for k, v in result["metrics"].items()}
        assert printed == units
        assert result["attempted"] >= 1 and result["failed"] == 0
        if not trace:
            assert all(v["value"] > 0 for v in result["metrics"].values())


def test_workloads_are_declared(declared):
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in declared["workloads"]} <= set(WORKLOADS)
