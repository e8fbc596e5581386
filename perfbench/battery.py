"""``operator_battery``: a fixed slice of the battery registry
(``__spark_entry__.queries()``) forced through the ``noop`` sink, in a
closed loop of whole passes over the slice.

Set-up loads the registry and runs one cold pass that collects every
entry's result; after it, each result is compared with the entry's DuckDB
oracle (``oracle_sql()``) over the same seeded tables, canonicalised as
``tools/check_battery.py`` does. Before every entry the per-session memos
(near-dup pairs, k-means/PQ codebooks) and Spark's cache are cleared, so
the pair build and the index training stay inside the measured work.
"""

from __future__ import annotations

import contextlib
import gc
import statistics
import sys
import time

import tablegen
from common import BATTERY_IO_FAMILIES, BATTERY_SLICE, Context, Result, op_latency_ms
from spans import EventLog, Tracer, event_log_conf

# Whole passes measured at the least, so that each entry's median sets aside
# one pass that a burst of load on the host slowed.
MIN_PASSES = 3


def _canonical(df):
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if str(out[c].dtype).startswith("datetime64"):
            out[c] = out[c].astype("datetime64[us]")
    if len(out):
        out = out.sort_values(by=list(out.columns), ignore_index=True)
    return out


def _mismatch(got, want) -> str | None:
    """Why two canonical frames differ, or None. Integer and float columns
    must agree in kind as well as value."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        kinds = {g.dtype.kind, w.dtype.kind}
        if kinds <= {"i", "u", "f"} and len(kinds) > 1 and "f" in kinds:
            return f"column {c}: dtype {g.dtype} != {w.dtype}"
        try:
            eq = (g.isna() & w.isna()) | (g == w)
        except (TypeError, ValueError):
            eq = g.astype(str) == w.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"column {c} row {i}: {g[i]!r} != {w[i]!r}"
    return None


class Battery:
    def __init__(self, ctx: Context, sf_dir: str):
        self.ctx = ctx
        self.sf_dir = sf_dir
        self.queries: dict = {}
        self.oracles: dict[str, str] = {}
        self.wrong: set[str] = set()
        self.attempted = self.failed = 0

    def _forget(self, spark) -> None:
        from flight_radar_pipeline_spark.plans import battery_corpus, battery_text

        battery_text.clear_pair_cache()
        battery_corpus.clear_kmeans_cache()
        spark.catalog.clearCache()

    def setup(self, spark) -> tuple[float, dict]:
        """Load the registry and run the cold pass; returns (seconds, results)."""
        t0 = time.perf_counter()
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        results = {}
        for name in BATTERY_SLICE:
            self._forget(spark)
            results[name] = self.queries[name](spark, self.sf_dir).toPandas()
        return time.perf_counter() - t0, results

    def check(self, results: dict) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for table in tablegen.TABLES:
                con.sql(f"create view {table} as select * from '{self.sf_dir}/{table}.parquet'")
            for name, got in results.items():
                why = _mismatch(_canonical(got), _canonical(con.sql(self.oracles[name]).df()))
                if why:
                    self.wrong.add(name)
                    print(f"battery {name} differs from its oracle: {why}", file=sys.stderr)
        finally:
            con.close()

    def measure(self, spark, tracer: Tracer | None = None) -> tuple[dict[str, list[float]], list[float]]:
        """Whole passes until ``seconds`` have passed, and at least
        ``MIN_PASSES``; returns (latencies per entry, wall time of each pass)."""
        lat: dict[str, list[float]] = {name: [] for name in BATTERY_SLICE}
        passes: list[float] = []
        while sum(passes) < self.ctx.seconds or len(passes) < MIN_PASSES:
            if tracer:
                tracer.key = f"p{len(passes)}"
            start = time.perf_counter()
            for name in BATTERY_SLICE:
                self._forget(spark)
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"plans.{name}") if tracer else contextlib.nullcontext():
                        self._force(spark, name)
                except Exception as exc:  # a failed entry is counted, the pass goes on
                    print(f"battery {name} failed: {exc!r}", file=sys.stderr)
                    self.failed += 1
                else:
                    if name in self.wrong:
                        self.failed += 1
                    else:
                        lat[name].append(time.perf_counter() - t0)
                self.attempted += 1
            passes.append(time.perf_counter() - start)
        return lat, passes

    def _force(self, spark, name: str) -> None:
        self.queries[name](spark, self.sf_dir).write.format("noop").mode("overwrite").save()


def _layer_metrics(tracer: Tracer, log: EventLog) -> dict[str, float]:
    out: dict[str, float] = {}
    for name, family in BATTERY_SLICE.items():
        spans = tracer.by_name(f"plans.{name}")
        if not spans:
            continue
        out[f"battery.{name}_s"] = statistics.median(s.duration for s in spans)
        if family in BATTERY_IO_FAMILIES:
            keys = {f"plans.{name}@{s.key}" for s in spans}
            stats = log.stage_stats(lambda desc: desc in keys)
            out[f"battery.{name}.shuffle_bytes"] = stats.shuffle_write_bytes / len(spans)
            out[f"battery.{name}.spill_bytes"] = stats.spill_bytes / len(spans)
            out[f"battery.{name}.stages"] = stats.stages / len(spans)
    return out


def run(ctx: Context) -> Result:
    """With ``ctx.trace`` the session runs with the event log on and a span
    around every entry; a second, untraced session then measures again to
    give the tracing overhead."""
    sf_dir = ctx.path("tables", "")
    tablegen.write_tables(ctx.seed, sf_dir)
    bat = Battery(ctx, sf_dir)
    log_dir = ctx.path("eventlog", "")
    spark, session_s = ctx.start_session("UTC", event_log_conf(log_dir) if ctx.trace else None)
    tracer = Tracer(spark) if ctx.trace else None
    try:
        cold_s, results = bat.setup(spark)
        bat.check(results)
        del results
        gc.collect()  # the check's frames and the cold pass's garbage stay out of the pass
        spark._jvm.System.gc()
        lat, passes = bat.measure(spark, tracer)
    finally:
        spark.stop()
    print(f"battery session {session_s:.3f} cold pass {cold_s:.3f} entries (s):",
          " ".join(f"{n}={xs}" for n, xs in lat.items()), file=sys.stderr)
    if not any(lat.values()):
        raise RuntimeError("no battery entry succeeded")
    # a pass made of each entry's median, so one slowed pass does not count
    pass_s = sum(statistics.median(xs) for xs in lat.values() if xs)
    metrics = {
        "setup_s": session_s + cold_s,
        "op_latency_ms": op_latency_ms(lat),
        "ops_per_s": sum(1 for xs in lat.values() if xs) / pass_s,
    }
    metrics.update(
        {
            "session.start_s": session_s,
            "battery_pass_s": pass_s,
            "battery_passes": len(passes),
            "battery_geomean_s": metrics["op_latency_ms"] / 1000,
        }
    )
    if ctx.trace:
        metrics.update(_layer_metrics(tracer, EventLog(log_dir)))
        spark, _ = ctx.start_session("UTC")
        try:
            lat, passes = bat.measure(spark)
        finally:
            spark.stop()
        untraced_ms = op_latency_ms(lat)
        metrics["trace.overhead_ms"] = metrics["op_latency_ms"] - untraced_ms
        metrics["trace.overhead_pct"] = 100 * metrics["trace.overhead_ms"] / untraced_ms
    units = {"battery_pass_s": "s", "battery_passes": "count", "battery_geomean_s": "s"}
    return Result(not bat.wrong and bat.failed == 0, bat.attempted, bat.failed, metrics, units)
