"""One measured process: a fresh interpreter that starts Spark, builds the
workload, runs it and writes a JSON report.  ``run.py`` starts it; it is not
meant to be run by hand.

Modes:
  steady  setup, warm-up, then time executions for --seconds
  trace   setup, warm-up, then alternate untraced and traced executions,
          time the isolated layer plans and the Spark-free kernels
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import asdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench.probes import (  # noqa: E402
    PYTHON_NODE_RE,
    StatusStore,
    Tracer,
    TreeCpu,
    metric_sum,
    peak_rss_mb,
)

CORES = 4
# Warm-up after the cold execution: wall time and CPU per execution keep
# falling for several seconds of work (JIT compilation, Python-worker
# caches), on every workload.
WARMUP_MIN_EXECS = 2
WARMUP_MIN_S = 6.0
MIN_STEADY_EXECS = 3
MAX_FAILURES = 3
LAYER_WARMUP_EXECS = 3
LAYER_EXECS = 5


def start_spark(tmp: Path):
    from geo_spark.session import get_spark

    spark = get_spark(
        app="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        confs={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            # inputs of a few MB in 8 files: about one scan task per file
            "spark.sql.files.maxPartitionBytes": str(2 << 20),
            "spark.sql.files.openCostInBytes": str(512 << 10),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    """Runs and checks executions, counting attempts and failures."""

    def __init__(self, wl):
        self.wl = wl
        self.cpu = TreeCpu(os.getpid())
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.fingerprints: dict[str, int] = {}

    def execute(self, hook=None) -> dict | None:
        """One execution: the timed run (plus ``hook``, the tracing work,
        when given), then the untimed check and cleanup.  Returns wall time,
        per-role CPU and the hook's result, or None when it failed."""
        self.attempted += 1
        handle = None
        tracer = self.wl.tracer
        try:
            cpu0 = self.cpu.read()
            t0 = time.monotonic()
            with tracer.span("execution"):
                handle = self.wl.run()
                extra = hook() if hook else None
            wall = time.monotonic() - t0
            cpu1 = self.cpu.read()
            with tracer.span("check"):
                fp = self.wl.check(handle)
            self.fingerprints[fp] = self.fingerprints.get(fp, 0) + 1
        except Exception as e:  # counted, reported, and the run goes on
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}")
            traceback.print_exc()
            if self.failed >= MAX_FAILURES:
                raise
            return None
        finally:
            if handle is not None:
                self.wl.cleanup(handle)
        cpu = {k: cpu1[k] - cpu0[k] for k in cpu1}
        return {"wall_s": wall, "cpu_s": cpu, "hook": extra}

    def report(self) -> dict:
        return {
            "attempted": self.attempted,
            "failed": self.failed,
            "errors": self.errors[:5],
            "fingerprints": self.fingerprints,
        }


def setup(args, tracer: Tracer):
    """Fresh process -> first complete, checked result."""
    from perfbench.workloads import WORKLOADS

    with tracer.span("setup"):
        with tracer.span("spark.session"):
            spark = start_spark(Path(os.environ["TMPDIR"]))
        wl = WORKLOADS[args.workload](
            spark, Path(args.fixture), Path(args.work), tracer
        )
        wl.build()
        runner = Runner(wl)
        while runner.execute() is None:
            pass
    return spark, wl, runner, time.time() - args.t0


def warm_up(runner: Runner) -> None:
    t0 = time.monotonic()
    n = 0
    while n < WARMUP_MIN_EXECS or time.monotonic() - t0 < WARMUP_MIN_S:
        runner.execute()
        n += 1


def steady(runner: Runner, seconds: float) -> list[dict]:
    execs: list[dict] = []
    while sum(e["wall_s"] for e in execs) < seconds or len(execs) < MIN_STEADY_EXECS:
        e = runner.execute()
        if e is not None:
            execs.append(e)
    return execs


def per_mrow(execs: list[dict], role: str, rows: int) -> float:
    return statistics.median(e["cpu_s"][role] for e in execs) / rows * 1e6


def layer_metrics(wl, sql: list, rows: int) -> dict:
    """Per-layer figures from the SQL executions of one workload execution."""
    py = PYTHON_NODE_RE.pattern
    m = {
        "spark.plan.scan_nodes": sum(len(e.named(r"^Scan ")) for e in sql),
        "spark.plan.python_nodes": sum(len(e.named(py)) for e in sql),
        "spark.python.run_s": metric_sum(sql, py, "time to run Python workers"),
        "spark.python.bytes_to_worker_per_row": metric_sum(
            sql, py, "data sent to Python workers"
        )
        / rows,
        "spark.python.bytes_from_worker_per_row": metric_sum(
            sql, py, "data returned from Python workers"
        )
        / rows,
        "spark.shuffle.bytes_written": metric_sum(sql, r"Exchange", "shuffle bytes written"),
        "spark.spill.bytes": metric_sum(sql, r".", "spill size"),
        "spark.codegen.ms": metric_sum(sql, r"^WholeStageCodegen", "duration") * 1e3,
        "spark.broadcast.build_ms": metric_sum(sql, r"^BroadcastExchange", "time to build")
        * 1e3,
    }
    if wl.name == "pages_pip_join":
        cand = metric_sum(sql, r"^BroadcastHashJoin", "number of output rows")
        refine_in = sum(
            e.child_rows(n["id"]) for e in sql for n in e.named(r"^MapInPandas")
        )
        refine_out = metric_sum(sql, r"^MapInPandas", "number of output rows")
        m["operators.spatial_join.candidates_per_point"] = cand / rows
        m["operators.spatial_join.interior_share"] = (cand - refine_in) / cand
        m["operators.spatial_join.refine_keep_ratio"] = refine_out / refine_in
    if wl.name == "tile_rollup_write":
        writes = [e for e in sql if e.named(r"InsertIntoHadoopFsRelation")]
        out_rows = metric_sum(writes, r"InsertIntoHadoopFsRelation", "number of output rows")
        m["plans.manifest.write_s"] = sum(e.wall_s for e in writes)
        m["plans.manifest.files_written"] = metric_sum(
            writes, r"InsertIntoHadoopFsRelation", "number of written files"
        )
        m["plans.manifest.bytes_per_row"] = (
            metric_sum(writes, r"InsertIntoHadoopFsRelation", "written output")
            / out_rows
        )
        m["plans.manifest.commit_ms"] = 1e3 * (
            metric_sum(writes, r"InsertIntoHadoopFsRelation", "task commit time")
            + metric_sum(writes, r"InsertIntoHadoopFsRelation", "job commit time")
        )
    return m


GLUE_NODES = ("WholeStageCodegen", "ColumnarToRow", "AdaptiveSparkPlan", "CollectMetrics",
              "OverwriteByExpression")
JOIN_NODES = ("MapInPandas", "Generate", "BroadcastHashJoin", "BroadcastExchange",
              "LocalTableScan", "Union", "Filter", "Project")
TILING_NODES = ("HashAggregate", "Exchange", "AQEShuffleRead", "Filter", "Project")


def node_layers(workload: str, ex) -> dict[int, str]:
    """The repository layer that built each plan node of one SQL execution.
    Every execution of the rollup is issued by write_with_manifest; in its
    write execution the aggregation belongs to operators.tiling."""
    writes = bool(ex.named("InsertIntoHadoopFsRelation"))
    out = {}
    for n in ex.nodes:
        name = n["name"]
        if name.startswith("Scan "):
            layer = "sources.scan"
        elif name.startswith("MapInArrow"):
            layer = "sources.extract"
        elif name.startswith(GLUE_NODES):
            layer = "spark"
        elif workload == "points_knn":
            layer = "operators.knn"
        elif workload == "pages_pip_join":
            layer = "operators.spatial_join" if name.startswith(JOIN_NODES) else "spark"
        elif writes and name.startswith(TILING_NODES):
            layer = "operators.tiling"
        else:
            layer = "plans.manifest"
        out[n["id"]] = layer
    return out


def kernel_rates() -> dict:
    """Spark-free kernel throughput, one thread, median of three."""
    import numpy as np

    from geo_spark.kernel import cellid as ck
    from geo_spark.kernel.pip import loop_contains_points
    from geo_spark.sources.layers import city_loop_regions
    from geo_spark.sources.pages import page_coords

    def median_s(fn) -> float:
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return statistics.median(times)

    lat, lng = page_coords(np.arange(1_000_000, dtype=np.uint64))
    encode_s = median_s(lambda: ck.cellid_from_latlng(lat, lng))
    x, y, z = ck.latlng_to_xyz(lat[:20_000], lng[:20_000])
    pts = np.stack([x, y, z], axis=1)
    loops = [r for _, r in city_loop_regions(50)]
    pip_s = median_s(
        lambda: [loop_contains_points(r.verts, r.origin_inside, pts) for r in loops]
    )
    edges = len(pts) * sum(len(r.verts) for r in loops)
    return {
        "kernel.cellid.encode_pts_per_s": len(lat) / encode_s,
        "kernel.pip.edge_tests_per_s": edges / pip_s,
    }


def stop(spark, runner: Runner) -> None:
    runner.cpu.close()
    spark.stop()


def run_steady(args) -> dict:
    spark, wl, runner, setup_s = setup(args, Tracer(False))
    try:
        warm_up(runner)
        execs = steady(runner, args.seconds)
    finally:
        stop(spark, runner)
    for e in execs:
        del e["hook"]
    return {"setup_s": setup_s, "rows": wl.rows, "execs": execs, **runner.report()}


def run_trace(args) -> dict:
    tracer = Tracer(True)
    spark, wl, runner, setup_s = setup(args, tracer)
    try:
        metrics, sql = traced_window(args, tracer, spark, wl, runner)
    finally:
        stop(spark, runner)
    metrics.update(kernel_rates())  # after stop: the kernels run alone
    metrics.update(span_metrics(tracer))
    return {
        "setup_s": setup_s,
        "rows": wl.rows,
        "metrics": metrics,
        "spans": tracer.spans,
        "sql": [
            {**asdict(x), "layers": node_layers(wl.name, x)} for x in sql
        ],
        **runner.report(),
    }


def traced_sql(tracer: Tracer, store: StatusStore) -> list:
    with tracer.span("status_store"):
        return store.new_executions()


def traced_window(args, tracer, spark, wl, runner) -> tuple[dict, list]:
    """Warm up, then alternate untraced and traced executions; then the
    isolated layer plans.  Returns the metrics and the last traced
    execution's SQL plans."""
    from perfbench.workloads import noop

    store = StatusStore(spark)
    tracer.enabled = False
    warm_up(runner)
    untraced, traced, per_exec = [], [], []
    while (
        sum(e["wall_s"] for e in untraced + traced) < args.seconds
        or len(traced) < MIN_STEADY_EXECS
    ):
        tracer.enabled = False
        e = runner.execute()
        if e is not None:
            untraced.append(e)
        tracer.enabled = True
        tracer.trace_id += 1
        store.mark()
        e = runner.execute(hook=lambda: traced_sql(tracer, store))
        if e is not None:
            traced.append(e)
            per_exec.append(layer_metrics(wl, e["hook"], wl.rows))
    tracer.enabled = False
    rows = wl.rows
    metrics = {k: statistics.median(m[k] for m in per_exec) for k in per_exec[0]}
    rps_u = rows / statistics.median(e["wall_s"] for e in untraced)
    rps_t = rows / statistics.median(e["wall_s"] for e in traced)
    metrics.update(
        {
            "trace.rows_per_s_untraced": rps_u,
            "trace.rows_per_s_traced": rps_t,
            "trace.overhead_share": 1.0 - rps_t / rps_u,
            "cpu.jvm_s_per_mrow": per_mrow(untraced, "jvm", rows),
            "cpu.python_workers_s_per_mrow": per_mrow(untraced, "python_workers", rows),
            "cpu.driver_s_per_mrow": per_mrow(untraced, "driver", rows),
        }
    )
    if wl.name == "points_knn":
        metrics["operators.knn.rows_per_s"] = rps_u
    for layer, df in wl.layer_runs().items():
        walls = []
        for i in range(LAYER_WARMUP_EXECS + LAYER_EXECS):
            t0 = time.monotonic()
            noop(df, tracer)
            if i >= LAYER_WARMUP_EXECS:
                walls.append(time.monotonic() - t0)
        metrics[f"{layer}.rows_per_s"] = rows / statistics.median(walls)
    metrics["mem.jvm_peak_mb"] = peak_rss_mb(runner.cpu.pids("jvm"))
    metrics["mem.python_worker_peak_mb"] = peak_rss_mb(runner.cpu.pids("python_workers"))
    return metrics, traced[-1]["hook"]


SPAN_METRICS = {
    "operators.spatial_join.build_layer": "operators.spatial_join.build_layer_s",
    "operators.spatial_join.spatial_join": "operators.spatial_join.call_s",
    "operators.knn.knn_join": "operators.knn.call_s",
    "plans.manifest.verify_manifest": "plans.manifest.verify_s",
}


def span_metrics(tracer: Tracer) -> dict:
    """Mean self time per span name, and the durations of single calls."""
    out = {f"self_s.{k}": statistics.mean(v) for k, v in tracer.self_times().items()}
    for s in tracer.spans:
        if s["name"] in SPAN_METRICS:
            out.setdefault(SPAN_METRICS[s["name"]], []).append(s["end"] - s["start"])
    for metric in SPAN_METRICS.values():
        if metric in out:
            out[metric] = statistics.median(out[metric])
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("steady", "trace"), required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    run = {"steady": run_steady, "trace": run_trace}[args.mode]
    Path(args.out).write_text(json.dumps(run(args)))


if __name__ == "__main__":
    main()
