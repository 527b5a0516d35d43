"""Tests of the benchmark itself: input determinism, the Spark-free
references against the engine, and the metric contract.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import prep, probes, run  # noqa: E402

SMALL = {
    "tile_rollup_write": {"pages": 3_000},
    "pages_pip_join": {"pages": 3_000},
    # above the brute-force cap, so knn_join still takes the broadcast ring
    "points_knn": {"points": 600, "targets": 5_000},
}

# Every metric the benchmark promises, end to end and per layer.
NAMED_END_TO_END = ["rows_per_s", "cpu_s_per_mrow", "setup_s"]
NAMED_PER_LAYER = [
    "kernel.cellid.encode_pts_per_s",
    "kernel.pip.edge_tests_per_s",
    "sources.extract.rows_per_s",
    "operators.tiling.rows_per_s",
    "plans.manifest.write_s",
    "plans.manifest.files_written",
    "plans.manifest.bytes_per_row",
    "plans.manifest.commit_ms",
    "plans.manifest.verify_s",
    "operators.spatial_join.build_layer_s",
    "operators.spatial_join.call_s",
    "operators.spatial_join.candidates_per_point",
    "operators.spatial_join.interior_share",
    "operators.spatial_join.refine_keep_ratio",
    "operators.knn.call_s",
    "operators.knn.rows_per_s",
    "spark.plan.scan_nodes",
    "spark.plan.python_nodes",
    "spark.python.run_s",
    "spark.python.bytes_to_worker_per_row",
    "spark.python.bytes_from_worker_per_row",
    "spark.shuffle.bytes_written",
    "spark.spill.bytes",
    "spark.codegen.ms",
    "spark.broadcast.build_ms",
    "cpu.jvm_s_per_mrow",
    "cpu.python_workers_s_per_mrow",
    "cpu.driver_s_per_mrow",
    "mem.python_worker_peak_mb",
    "mem.jvm_peak_mb",
    "trace.overhead_share",
]


@pytest.fixture
def small(monkeypatch):
    for workload, size in SMALL.items():
        monkeypatch.setitem(prep.SIZES, workload, size)


def _tables(d: Path) -> dict:
    return {
        p.relative_to(d).as_posix(): pq.read_table(p) for p in sorted(d.rglob("*.parquet"))
    }


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_same_seed_gives_identical_inputs(small, tmp_path, workload):
    a = prep.prepare(workload, 5, tmp_path / "a")
    b = prep.prepare(workload, 5, tmp_path / "b")
    ta, tb = _tables(a), _tables(b)
    assert ta.keys() == tb.keys()
    assert all(ta[k].equals(tb[k]) for k in ta)
    assert (a / "reference.json").read_text() == (b / "reference.json").read_text()


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_different_seeds_give_different_inputs(small, tmp_path, workload):
    a = prep.prepare(workload, 5, tmp_path / "a")
    b = prep.prepare(workload, 6, tmp_path / "b")
    ta, tb = _tables(a), _tables(b)
    assert ta.keys() == tb.keys()
    assert not any(ta[k].equals(tb[k]) for k in ta)


def test_seed_blocks_stay_in_the_renderable_range():
    n = prep.SIZES["pages_pip_join"]["pages"]
    for seed in (0, 1, 2**31 - 1, 2**63 - 1, -1):
        start = prep.block_start(seed, n)
        assert 0 <= start and start + n <= prep.MAX_PAGE_INDEX


# --------------------------------------------------------------------------
# references against the engine
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.child import start_spark

    tmp = tmp_path_factory.mktemp("spark-tmp")
    s = start_spark(tmp)
    yield s
    s.stop()


def _perturb(wl) -> None:
    """Make the reference wrong by one unit."""
    if wl.name == "tile_rollup_write":
        tile = next(iter(wl.expected))
        wl.expected[tile] += 1
    elif wl.name == "pages_pip_join":
        wl.ref["moments"][3] += 1
    else:
        wl.ref["sample_moments"][2] += 1


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_references_agree_with_engine(small, spark, tmp_path, workload):
    from perfbench.child import layer_metrics, node_layers
    from perfbench.workloads import WORKLOADS, CheckFailed

    fixture = prep.prepare(workload, 3, tmp_path / "fixtures")
    wl = WORKLOADS[workload](spark, fixture, tmp_path, probes.Tracer(False))
    wl.build()
    store = probes.StatusStore(spark)
    handle = wl.run()
    sql = store.new_executions()
    fp = wl.check(handle)
    wl.cleanup(handle)
    handle = wl.run()
    assert wl.check(handle) == fp  # same output on a second execution
    _perturb(wl)
    with pytest.raises(CheckFailed):
        wl.check(handle)
    wl.cleanup(handle)

    layers = {v for ex in sql for v in node_layers(workload, ex).values()}
    own = {
        "tile_rollup_write": {"operators.tiling", "plans.manifest", "sources.extract"},
        "pages_pip_join": {"operators.spatial_join", "sources.extract"},
        "points_knn": {"operators.knn"},
    }[workload]
    assert own <= layers <= own | {"sources.scan", "spark"}

    m = layer_metrics(wl, sql, wl.rows)
    assert m["spark.plan.scan_nodes"] >= 1
    assert m["spark.plan.python_nodes"] >= 1
    if workload == "pages_pip_join":
        assert m["operators.spatial_join.candidates_per_point"] > 0
        assert 0 < m["operators.spatial_join.refine_keep_ratio"] <= 1
    if workload == "tile_rollup_write":
        assert m["plans.manifest.files_written"] >= 1
        assert m["plans.manifest.bytes_per_row"] > 0


# --------------------------------------------------------------------------
# the metric contract
# --------------------------------------------------------------------------


def test_benchmark_json_matches_the_printed_metrics():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == run.PER_LAYER
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_every_named_metric_is_printed_with_its_unit():
    execs = [{"wall_s": 1.0 + i / 10, "cpu_s": {"total": 4.0 + i}} for i in range(3)]
    report = {"setup_s": 20.0, "rows": 1000, "attempted": 5, "failed": 0, "execs": execs}
    e2e = run.end_to_end(report)
    assert list(e2e) == NAMED_END_TO_END
    assert all(v["unit"] and v["value"] > 0 for v in e2e.values())
    assert e2e["rows_per_s"]["value"] == pytest.approx(1000 / 1.1)
    assert e2e["cpu_s_per_mrow"]["value"] == pytest.approx(5.0 / 1000 * 1e6)

    layer = run.per_layer({"metrics": {"spark.plan.scan_nodes": 2}})
    assert set(NAMED_PER_LAYER) <= set(layer)
    assert all(v["unit"] for v in layer.values())
    assert layer["spark.plan.scan_nodes"]["value"] == 2.0


def test_mismatched_outputs_count_as_failures():
    report = {"attempted": 7, "failed": 1, "fingerprints": {"a": 5, "b": 1}}
    assert run.summarize(report) == {"correct": False, "attempted": 7, "failed": 2}
    report = {"attempted": 6, "failed": 0, "fingerprints": {"a": 6}}
    assert run.summarize(report) == {"correct": True, "attempted": 6, "failed": 0}


# --------------------------------------------------------------------------
# probes
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "text,value",
    [
        ("1,605,070", 1605070.0),
        ("0.0 B", 0.0),
        ("64.0 MiB", 64.0 * 2**20),
        ("total (min, med, max (stageId: taskId))\n11.3 s (2.6 s, 2.9 s, 3.1 s)", 11.3),
        ("total (min, med, max (stageId: taskId))\n301 ms (62 ms, 80 ms, 87 ms)", 0.301),
        ("total (min, med, max (stageId: taskId))\n5.3 KiB (1344.0 B, ...)", 5.3 * 1024),
    ],
)
def test_parse_metric(text, value):
    assert probes.parse_metric(text) == pytest.approx(value)


def test_self_time_subtracts_children():
    tracer = probes.Tracer(True)
    with tracer.span("outer"):
        time.sleep(0.02)
        with tracer.span("inner"):
            time.sleep(0.05)
    self_s = tracer.self_times()
    assert 0.015 < self_s["outer"][0] < 0.045
    assert self_s["inner"][0] >= 0.05
    assert tracer.spans[1]["parent"] == 0


def test_tree_cpu_counts_the_driver():
    cpu = probes.TreeCpu(os.getpid())
    try:
        before = cpu.read()
        t0 = time.process_time()
        while time.process_time() - t0 < 0.2:
            pass
        after = cpu.read()
    finally:
        cpu.close()
    assert after["driver"] - before["driver"] >= 0.1
    assert after["total"] >= after["driver"]
