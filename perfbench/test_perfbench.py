"""Tests of the benchmark itself: python3 -m pytest perfbench -q

The pure helpers are tested directly; the smoke tests run each workload
end to end at tiny sizes through the command line (about 20 s each)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import data, harness
from perfbench.trace import EventLog, Tracer, tree_stats
from perfbench.workloads import WORKLOADS, arrow_to_dense

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_benchmark_json_matches_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == harness.PER_LAYER


def test_inputs_are_seeded_12_bit():
    a = data.smooth_volume(np.random.default_rng(7), (8, 16, 16))
    b = data.smooth_volume(np.random.default_rng(7), (8, 16, 16))
    assert a.dtype == np.uint16 and np.array_equal(a, b)
    assert a.max() <= data.MAX_12BIT and a.std() > 100  # content, not a constant
    assert not np.array_equal(a, data.smooth_volume(np.random.default_rng(8), (8, 16, 16)))


def test_itk_kernel_agrees_with_engine():
    from ngff_zarr_spark.operators.itk_gaussian import itk_gaussian_kernel
    from ngff_zarr_spark.plans.planner import compute_sigma

    for f in (2, 4):
        ours = data.itk_half_kernel(f)
        theirs = itk_gaussian_kernel(compute_sigma([f])[0])
        assert np.allclose(ours, theirs, rtol=1e-12, atol=0)


def test_gaussian_level_keeps_constants_and_halves():
    flat = np.full((6, 9, 8), 1000, dtype=np.uint16)
    out = data.gaussian_level(flat)
    assert out.shape == (3, 4, 4) and out.dtype == np.uint16
    assert np.abs(out.astype(int) - 1000).max() <= 1  # weights sum to 1 up to rounding


def test_mean_pyramid():
    vol = np.arange(4 * 4 * 4, dtype=np.uint16).reshape(4, 4, 4)
    levels = data.mean_pyramid(vol, 3)
    assert [lv.shape for lv in levels] == [(4, 4, 4), (2, 2, 2), (1, 1, 1)]
    assert levels[1][1, 0, 1] == np.rint(vol[2:, :2, 2:].mean())
    assert levels[2][0, 0, 0] == np.rint(levels[1].mean())  # from the stored level 1


def test_roi_sequence():
    shapes = [(32, 128, 128), (16, 64, 64), (8, 32, 32)]
    a = data.roi_sequence(np.random.default_rng(3), shapes, 16, 2)
    assert a == data.roi_sequence(np.random.default_rng(3), shapes, 16, 2)
    assert len(a) == 2 * 18
    for cycle in (a[:18], a[18:]):  # every cycle holds the same mix
        assert sorted((r.level, r.shape, r.revisit) for r in cycle) == sorted(
            (r.level, r.shape, r.revisit) for r in a[:18])
        assert len({(r.level, r.shape) for r in cycle}) == 9
    for prev, roi in zip(a, a[1:]):
        assert all(0 <= l < h <= d for l, h, d in zip(roi.lo, roi.hi, shapes[roi.level]))
        if roi.revisit:
            assert roi.level == prev.level and roi.shape == prev.shape
            assert all(l < ph and pl < h for l, h, pl, ph in zip(roi.lo, roi.hi, prev.lo, prev.hi))
    assert sum(r.revisit for r in a) == 18


def test_chunks_touched():
    roi = data.Roi(0, (0, 8, 15), (8, 24, 17), False)
    assert data.chunks_touched(roi, (16, 16, 16)) == 1 * 2 * 2


def test_arrow_to_dense():
    import pyarrow as pa

    t = pa.table({"z": [1, 1], "y": [2, 3], "x": [5, 5], "v": [7.0, 9.0]})
    out = arrow_to_dense(t, ["z", "y", "x"], (1, 2, 5), (1, 2, 1), np.uint16)
    assert out[:, :, 0].tolist() == [[7, 9]]


def test_tracer_wraps_and_restores():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    original = mod.f
    tracer = Tracer()
    tracer.wrap(mod, "f", "layer.f")
    with tracer.span("op"):
        assert mod.f(1) == 2
    tracer.restore()
    assert mod.f is original
    (outer,), (inner,) = tracer.between("op", 0, 1e12), tracer.between("layer.f", 0, 1e12)
    assert inner.parent == outer.id and outer.start <= inner.start <= inner.end <= outer.end


def test_event_log_parsing(tmp_path):
    plan = {"nodeName": "AdaptiveSparkPlan", "children": [
        {"nodeName": "Sort", "children": [
            {"nodeName": "Exchange", "children": [
                {"nodeName": "BatchScan ome_zarr", "children": [],
                 "metrics": [{"name": "number of output rows", "accumulatorId": 9}]}]}]}]}
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1300,
                          "Accumulables": [{"ID": 9, "Update": "4096", "Metadata": "sql"}]},
            "Task Metrics": {"Executor Run Time": 250, "Executor CPU Time": 10**8,
                             "JVM GC Time": 5,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                             "Shuffle Read Metrics": {"Local Bytes Read": 32, "Remote Bytes Read": 0}}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [3, 4]},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 1, "time": 999, "sparkPlanInfo": {"nodeName": "stale", "children": []}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 1, "sparkPlanInfo": plan},
        task, task,
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    ev = EventLog.load(str(tmp_path))
    tot = ev.task_totals(0.5, 1.5)
    assert (tot["jobs"], tot["stages"], tot["tasks"]) == (1, 1, 2)  # stage 4 was skipped
    assert (tot["run_ms"], tot["overhead_ms"], tot["shuffle_write"], tot["gc_ms"]) == (500, 100, 128, 10)
    assert ev.task_totals(2.0, 3.0)["jobs"] == 0
    assert ev.executions_between(0.9, 1.0) == [1]
    assert ev.plan_node_count(1, "Exchange") == 1 and ev.plan_node_count(1, "Sort") == 1
    assert ev.scan_rows(1) == 8192


def test_tree_stats(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "zarr.json").write_text("{}")
    (tmp_path / "a" / "c0").write_bytes(b"12345")
    assert tree_stats(str(tmp_path)) == {"objects": 2, "bytes": 7, "json_docs": 1, "chunk_bytes": 5}


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke(workload):
    """Each workload's operation and checks at tiny sizes, untraced and traced."""
    for trace, names in (("0", harness.END_TO_END), ("1", harness.PER_LAYER)):
        proc = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "0.1",
                    "--trace", trace, "--smoke")
        assert proc.returncode == 0, proc.stderr[-3000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        assert set(result["metrics"]) == set(names)
        if workload == "roi_read" and trace == "1":  # fresh and panned reads both traced
            for name in ("reader.fresh_p50_ms", "reader.revisit_p50_ms"):
                assert result["metrics"][name]["value"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(str(tmp_path), "--workload", "convert", "--seed", "1", "--seconds", "1")
    assert proc.returncode != 0 and proc.stdout.strip() == ""
