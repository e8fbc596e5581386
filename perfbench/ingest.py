"""``ingest_hourly``: the hourly file-drop batch (the CLI ``run-pipeline``
path) in a closed loop.

Each operation reads one seeded raw drop with the schema-carrying reader and
runs ``pipeline.runner.run_pipeline(flights_raw=..., fact_mode="append")``
into one lake: bronze CSV, silver and gold parquet, date-partitioned. Set-up
is the session start plus the lake's first batch, which creates the
dimensions on a cold session. Every batch's ``run_info`` counts are compared
with the generator's, outside the timed calls.

The traced run keeps Spark's event log on and records spans around the
names ``pipeline.runner`` calls.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import statistics
import sys
import time

import flightgen
from common import Context, Result, dir_stats, op_latency_ms
from spans import EventLog, Tracer, event_log_conf

ROWS_PER_DROP = 40_000
# Untimed batches between set-up and measurement: the first batches of a
# session still run while the JVM compiles Spark's planning and commit paths.
WARMUP_BATCHES = 2


def _untraced(name: str):
    return contextlib.nullcontext()


class Ingest:
    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.dims = flightgen.dimensions(ctx.seed)
        self.hours = itertools.count()
        self.attempted = self.failed = 0
        self.setup_ok = True
        self.raw_rows: dict[str, int] = {}  # lake -> raw rows landed

    def next_drop(self) -> tuple[int, flightgen.Drop]:
        h = next(self.hours)
        path = self.ctx.path("drops", f"h{h}.parquet")
        return h, flightgen.write_drop(self.ctx.seed, h, ROWS_PER_DROP, self.dims, path)

    def batch(self, spark, lake: str, drop: flightgen.Drop, first: bool, tracer: Tracer | None = None):
        """One timed ingest call; returns (seconds, counts as expected)."""
        from flight_radar_pipeline_spark import schemas
        from flight_radar_pipeline_spark.pipeline.runner import run_pipeline
        from flight_radar_pipeline_spark.sources.readers import read_parquet

        fetch_airlines = (lambda: self.dims.airlines) if first else None
        fetch_airports = (lambda: self.dims.airports) if first else None
        span = tracer.span if tracer else _untraced
        t0 = time.perf_counter()
        try:
            with span("sources.read_parquet"):
                raw = read_parquet(spark, drop.path, schema=schemas.FLIGHTS_RAW)
            with span("pipeline.run_pipeline"):
                info = run_pipeline(
                    spark, lake, flights_raw=raw, fact_mode="append",
                    fetch_airlines=fetch_airlines, fetch_airports=fetch_airports,
                ).run_info
        except Exception as exc:  # a failed batch is counted, the loop goes on
            print(f"ingest batch failed: {exc!r}", file=sys.stderr)
            return time.perf_counter() - t0, False
        elapsed = time.perf_counter() - t0
        self.raw_rows[lake] = self.raw_rows.get(lake, 0) + drop.raw_rows
        ok = (info["silver_rows"], info["gold_rows"]) == (drop.silver_rows, drop.gold_rows)
        if not ok:
            print(f"ingest counts {info} != expected {drop}", file=sys.stderr)
        return elapsed, ok

    def setup(self, spark, tag: str, tracer: Tracer | None = None) -> tuple[str, float]:
        """A fresh lake and its first batch; returns (lake, seconds)."""
        lake = self.ctx.path(f"lake-{tag}")
        _, drop = self.next_drop()
        elapsed, ok = self.batch(spark, lake, drop, first=True, tracer=tracer)
        self.setup_ok &= ok
        return lake, elapsed

    def warm_up(self, spark, lake: str, tracer: Tracer | None = None) -> None:
        for _ in range(WARMUP_BATCHES):
            _, drop = self.next_drop()
            if tracer:
                tracer.key = "warm-up"
            _, ok = self.batch(spark, lake, drop, first=False, tracer=tracer)
            self.setup_ok &= ok

    def measure(self, spark, lake: str, tracer: Tracer | None = None) -> tuple[list[float], float, list[int]]:
        """Batches into ``lake`` until ``seconds`` of batch time have passed
        (or twice that of wall time, should batches keep failing fast).
        Returns (latencies of correct batches, measured seconds, hours)."""
        lat, hours, busy = [], [], 0.0
        start = time.perf_counter()
        while busy < self.ctx.seconds and time.perf_counter() - start < 2 * self.ctx.seconds:
            h, drop = self.next_drop()
            hours.append(h)
            if tracer:
                tracer.key = f"h{h}"
            elapsed, ok = self.batch(spark, lake, drop, first=False, tracer=tracer)
            busy += elapsed
            self.attempted += 1
            if ok:
                lat.append(elapsed)
            else:
                self.failed += 1
        return lat, busy, hours


def _trace_layers(tracer: Tracer) -> None:
    from flight_radar_pipeline_spark.pipeline import metrics as pmetrics
    from flight_radar_pipeline_spark.pipeline import runner

    layer = {"bronze": "sinks.write_bronze", "silver": "sinks.write_silver", "gold": "sinks.write_gold"}
    tracer.wrap(runner, "write_partitioned", lambda df, path, **kw: layer[os.path.basename(path)])
    tracer.wrap(runner, "write_if_absent", "sinks.write_if_absent")
    tracer.wrap(runner, "read_parquet", "sources.read_parquet")
    tracer.wrap(runner, "build_silver", "pipeline.build_silver")
    tracer.wrap(runner, "build_gold", "pipeline.build_gold")
    tracer.wrap(pmetrics, "observed_counts", "pipeline.observed_counts")


def _layer_metrics(tracer: Tracer, log: EventLog, hours: list[int], new_files: int) -> dict[str, float]:
    n = len(hours)
    keys = {f"h{h}" for h in hours}
    in_batch = lambda desc: desc.rsplit("@", 1)[-1] in keys  # noqa: E731
    stats = log.stage_stats(in_batch)
    nodes = [node for plan in log.plans(in_batch) for node in plan.nodes]
    scans = sum(1 for name, _, loc in nodes if name.startswith("Scan parquet") and "/drops/" in loc)
    dedups = sum(1 for _, s, _ in nodes if s.startswith("Exchange hashpartitioning(id#"))

    def per_batch_ms(name: str, self_time: bool = False) -> float:
        spans = [s for s in tracer.by_name(name) if s.key in keys]
        return 1000 * sum(tracer.self_time(s) if self_time else s.duration for s in spans) / n

    return {
        "ingest.raw_scans_per_batch": scans / n,
        "ingest.dedup_shuffles_per_batch": dedups / n,
        "ingest.shuffle_bytes_per_row": stats.shuffle_write_bytes / (n * ROWS_PER_DROP),
        "ingest.stages_per_batch": stats.stages / n,
        "ingest.tasks_per_batch": stats.tasks / n,
        "ingest.task_skew": statistics.median(stats.skews) if stats.skews else 1.0,
        "ingest.files_written_per_batch": new_files / n,
        "ingest.run_pipeline_self_ms": per_batch_ms("pipeline.run_pipeline", self_time=True),
        "ingest.read_parquet_ms": per_batch_ms("sources.read_parquet"),
        "ingest.build_silver_ms": per_batch_ms("pipeline.build_silver"),
        "ingest.build_gold_ms": per_batch_ms("pipeline.build_gold"),
        "ingest.observed_counts_ms": per_batch_ms("pipeline.observed_counts"),
        "ingest.write_bronze_ms": per_batch_ms("sinks.write_bronze"),
        "ingest.write_silver_ms": per_batch_ms("sinks.write_silver"),
        "ingest.write_gold_ms": per_batch_ms("sinks.write_gold"),
        "ingest.write_if_absent_ms": 1000 * sum(
            s.duration for s in tracer.by_name("sinks.write_if_absent") if s.key == "setup"
        ),
    }


def run(ctx: Context) -> Result:
    """With ``ctx.trace`` the session runs with the event log on and spans
    around the layer calls; a second, untraced session then repeats set-up
    and measurement to give the tracing overhead."""
    ing = Ingest(ctx)
    log_dir = ctx.path("eventlog", "")
    spark, session_s = ctx.start_session("Europe/Paris", event_log_conf(log_dir) if ctx.trace else None)
    tracer = None
    if ctx.trace:
        tracer = Tracer(spark)
        tracer.key = "setup"
        _trace_layers(tracer)
    try:
        lake, first_s = ing.setup(spark, "main", tracer)
        ing.warm_up(spark, lake, tracer)
        files_before = dir_stats(lake)[0]
        lat, busy, hours = ing.measure(spark, lake, tracer)
    finally:
        if tracer:
            tracer.unwrap()
        spark.stop()
    print(f"ingest session {session_s:.3f} first batch {first_s:.3f} batches (s):",
          " ".join(f"{x:.3f}" for x in lat), file=sys.stderr)
    if not lat:
        raise RuntimeError("no ingest batch succeeded")
    files, size = dir_stats(lake)
    metrics = {
        "setup_s": session_s + first_s,
        "op_latency_ms": op_latency_ms({"batch": lat}),
        "ops_per_s": len(lat) / busy,
    }
    metrics.update(
        {
            "session.start_s": session_s,
            "ingest_batch_p50_s": statistics.median(lat),
            "ingest_batches": len(lat),
            "ingest_rows_per_s": ROWS_PER_DROP * len(lat) / busy,
            "ingest_bytes_per_row": size / ing.raw_rows[lake],
        }
    )
    if ctx.trace:
        metrics.update(_layer_metrics(tracer, EventLog(log_dir), hours, files - files_before))
        metrics["ingest.bytes_per_row"] = metrics["ingest_bytes_per_row"]
        spark, _ = ctx.start_session("Europe/Paris")
        try:
            lake, _ = ing.setup(spark, "untraced")
            ing.warm_up(spark, lake)
            lat, busy, _ = ing.measure(spark, lake)
        finally:
            spark.stop()
        untraced_ms = op_latency_ms({"batch": lat})
        metrics["trace.overhead_ms"] = metrics["op_latency_ms"] - untraced_ms
        metrics["trace.overhead_pct"] = 100 * metrics["trace.overhead_ms"] / untraced_ms
    units = {"ingest_batch_p50_s": "s", "ingest_batches": "count",
             "ingest_rows_per_s": "1/s", "ingest_bytes_per_row": "B"}
    return Result(ing.setup_ok and ing.failed == 0, ing.attempted, ing.failed, metrics, units)
