"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_hourly --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One closed-loop client (each call waits for
the previous one) drives the program on ``local[<cores>]``. Inputs are
generated from ``--seed`` inside ``.perfbench_work/`` of the checkout, which
is removed again at exit. Every metric is printed as ``name value unit``;
the last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.

A per-layer metric belongs to the workload whose layers it measures and
reads 0 on a workload that never calls them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

from common import BATTERY_IO_FAMILIES, BATTERY_SLICE, Context

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "op_latency_ms": "ms",
    "ops_per_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "trace.overhead_ms": "ms",
    "trace.overhead_pct": "%",
    "ingest.raw_scans_per_batch": "count",
    "ingest.dedup_shuffles_per_batch": "count",
    "ingest.shuffle_bytes_per_row": "B",
    "ingest.stages_per_batch": "count",
    "ingest.tasks_per_batch": "count",
    "ingest.task_skew": "ratio",
    "ingest.files_written_per_batch": "count",
    "ingest.bytes_per_row": "B",
    "ingest.run_pipeline_self_ms": "ms",
    "ingest.read_parquet_ms": "ms",
    "ingest.build_silver_ms": "ms",
    "ingest.build_gold_ms": "ms",
    "ingest.observed_counts_ms": "ms",
    "ingest.write_bronze_ms": "ms",
    "ingest.write_silver_ms": "ms",
    "ingest.write_gold_ms": "ms",
    "ingest.write_if_absent_ms": "ms",
    **{f"battery.{e}_s": "s" for e in BATTERY_SLICE},
    **{
        f"battery.{e}.{m}": u
        for e, f in BATTERY_SLICE.items()
        if f in BATTERY_IO_FAMILIES
        for m, u in (("shuffle_bytes", "B"), ("spill_bytes", "B"), ("stages", "count"))
    },
}


def _environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Spark's Python
    workers import the program from the checkout."""
    for sub in ("local", "tmp", "stream"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_STREAM_SCRATCH"] = os.path.join(work, "stream")


def _stop_jvm() -> None:
    """Shut down the Spark JVM and wait for it; it exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest_hourly", "operator_battery"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import flight_radar_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environment(work)

    if args.workload == "ingest_hourly":
        from ingest import run
    else:
        from battery import run

    ctx = Context(args.seed, args.seconds, bool(args.trace), work, len(os.sched_getaffinity(0)))
    try:
        result = run(ctx)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it

    wanted = PER_LAYER if ctx.trace else END_TO_END
    metrics = {n: result.metrics.get(n, 0.0) for n in wanted}
    units = {**END_TO_END, **PER_LAYER, **result.units}
    for name, value in {**result.metrics, **metrics}.items():
        print(f"{name} {value:.6g} {units.get(name, '')}")
    print(
        json.dumps(
            {
                "correct": result.correct,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
