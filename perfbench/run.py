"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Prepares the seed's inputs and references
(cached under ``.perfbench/``), then measures the workload in fresh
processes on local[4], one job at a time (a closed loop with one client):

  --trace 0  set-up, warm-up, then steady executions for S seconds.
             Prints rows_per_s, cpu_s_per_mrow and setup_s.
  --trace 1  set-up, warm-up, then alternating untraced and traced
             executions.  Prints the per-layer metrics.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics.  Full reports, spans and SQL plan metrics go to
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
sys.path.insert(0, str(ROOT))

WORKLOADS = ("tile_rollup_write", "pages_pip_join", "points_knn")
# A measured process gets this long; with the stop below, every run ends
# inside 180 s.
RUN_BUDGET_S = 150.0

END_TO_END = {
    "rows_per_s": "rows/s",
    "cpu_s_per_mrow": "s/Mrow",
    "setup_s": "s",
}

# name -> (unit, better).  A layer a workload does not use reads 0.
PER_LAYER = {
    "kernel.cellid.encode_pts_per_s": ("1/s", "higher"),
    "kernel.pip.edge_tests_per_s": ("1/s", "higher"),
    "sources.extract.rows_per_s": ("rows/s", "higher"),
    "operators.tiling.rows_per_s": ("rows/s", "higher"),
    "plans.manifest.write_s": ("s", "lower"),
    "plans.manifest.files_written": ("count", "lower"),
    "plans.manifest.bytes_per_row": ("B", "lower"),
    "plans.manifest.commit_ms": ("ms", "lower"),
    "plans.manifest.verify_s": ("s", "lower"),
    "operators.spatial_join.build_layer_s": ("s", "lower"),
    "operators.spatial_join.call_s": ("s", "lower"),
    "operators.spatial_join.candidates_per_point": ("ratio", "lower"),
    "operators.spatial_join.interior_share": ("ratio", "higher"),
    "operators.spatial_join.refine_keep_ratio": ("ratio", "higher"),
    "operators.knn.call_s": ("s", "lower"),
    "operators.knn.rows_per_s": ("rows/s", "higher"),
    "spark.plan.scan_nodes": ("count", "lower"),
    "spark.plan.python_nodes": ("count", "lower"),
    "spark.python.run_s": ("s", "lower"),
    "spark.python.bytes_to_worker_per_row": ("B", "lower"),
    "spark.python.bytes_from_worker_per_row": ("B", "lower"),
    "spark.shuffle.bytes_written": ("B", "lower"),
    "spark.spill.bytes": ("B", "lower"),
    "spark.codegen.ms": ("ms", "lower"),
    "spark.broadcast.build_ms": ("ms", "lower"),
    "cpu.jvm_s_per_mrow": ("s/Mrow", "lower"),
    "cpu.python_workers_s_per_mrow": ("s/Mrow", "lower"),
    "cpu.driver_s_per_mrow": ("s/Mrow", "lower"),
    "mem.python_worker_peak_mb": ("MiB", "lower"),
    "mem.jvm_peak_mb": ("MiB", "lower"),
    "trace.rows_per_s_untraced": ("rows/s", "higher"),
    "trace.rows_per_s_traced": ("rows/s", "higher"),
    "trace.overhead_share": ("ratio", "lower"),
    # self time per span: its duration minus its child spans', mean per span
    "self_s.setup": ("s", "lower"),
    "self_s.spark.session": ("s", "lower"),
    "self_s.sources.extract.extract_encode": ("s", "lower"),
    "self_s.operators.tiling.tile_counts": ("s", "lower"),
    "self_s.operators.tiling.with_tiles": ("s", "lower"),
    "self_s.operators.spatial_join.build_layer": ("s", "lower"),
    "self_s.operators.spatial_join.spatial_join": ("s", "lower"),
    "self_s.operators.knn.knn_join": ("s", "lower"),
    "self_s.plans.manifest.write_with_manifest": ("s", "lower"),
    "self_s.plans.manifest.verify_manifest": ("s", "lower"),
    "self_s.sink.noop": ("s", "lower"),
    "self_s.execution": ("s", "lower"),
    "self_s.status_store": ("s", "lower"),
    "self_s.check": ("s", "lower"),
}


def child_env() -> dict:
    env = dict(os.environ)
    env.pop("SPARK_MASTER", None)
    env.update(
        {
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(ROOT), env.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": str(STATE / "tmp"),
            "SPARK_LOCAL_DIRS": str(STATE / "spark-local"),
            # one BLAS thread: the kernel rates are single-threaded figures
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
        }
    )
    return env


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(rest[2]) == pgid and rest[0] != "Z":
            return True
    return False


def stop_group(pgid: int, own_exit_s: float) -> None:
    """Wait for every process of the group to end: first on its own for
    own_exit_s (the JVM exits when its driver does), then after SIGTERM,
    then after SIGKILL."""
    for sig, wait_s in ((None, own_exit_s), (signal.SIGTERM, 10.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.05)


def spawn(mode: str, args, fixture: Path, env: dict, deadline: float) -> dict:
    """One fresh measured process; its report, or a failed attempt."""
    out = STATE / "reports" / f"{mode}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.unlink(missing_ok=True)
    work = STATE / "work"
    shutil.rmtree(work, ignore_errors=True)  # no output left by an aborted run
    work.mkdir(parents=True)
    cmd = [
        sys.executable,
        str(HERE / "child.py"),
        "--mode", mode,
        "--workload", args.workload,
        "--fixture", str(fixture),
        "--work", str(work),
        "--seconds", str(args.seconds),
        "--out", str(out),
    ]
    t0 = time.time()
    proc = subprocess.Popen(
        cmd + ["--t0", repr(t0)],
        env=env,
        cwd=str(work),
        stdout=sys.stderr,
        start_new_session=True,
    )
    rc = "timeout"
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        # a process that overran, or an interrupted wait, is stopped at once
        stop_group(proc.pid, own_exit_s=0.0 if rc == "timeout" else 15.0)
        proc.wait()
    if rc == 0 and out.exists():
        return json.loads(out.read_text())
    return {"attempted": 1, "failed": 1, "errors": [f"{mode} process: {rc}"]}


def summarize(report: dict) -> dict:
    """Attempts and failures; an execution whose output differs from the
    most common one failed too."""
    seen = report.get("fingerprints", {})
    failed = report["failed"] + sum(seen.values()) - max(seen.values(), default=0)
    return {"correct": failed == 0, "attempted": report["attempted"], "failed": failed}


def end_to_end(report: dict) -> dict:
    rows = report["rows"]
    execs = report["execs"]
    values = {
        "rows_per_s": rows / statistics.median(e["wall_s"] for e in execs),
        "cpu_s_per_mrow": statistics.median(e["cpu_s"]["total"] for e in execs)
        / rows
        * 1e6,
        "setup_s": report["setup_s"],
    }
    return {k: {"value": values[k], "unit": END_TO_END[k]} for k in END_TO_END}


def per_layer(report: dict) -> dict:
    got = report["metrics"]
    return {
        k: {"value": float(got.get(k, 0.0)), "unit": unit}
        for k, (unit, _) in PER_LAYER.items()
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_BUDGET_S

    # Imports the program: without it the run stops here, printing no result.
    from perfbench import prep

    fixture = prep.prepare(args.workload, args.seed, STATE / "fixtures")
    prep.build_pyfiles_zip(ROOT / "geo_spark", STATE / "tmp" / "geo_spark_pyfiles.zip")
    os.sync()  # no write-back of fresh inputs overlaps the timed processes

    mode = "trace" if args.trace else "steady"
    report = spawn(mode, args, fixture, child_env(), deadline)
    if "rows" not in report:
        print(json.dumps(report), file=sys.stderr)
        return 1
    result = summarize(report)
    result["metrics"] = per_layer(report) if args.trace else end_to_end(report)

    results = STATE / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-trace{args.trace}.json"
    (results / name).write_text(json.dumps({"result": result, "report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
