"""Pieces shared by the workloads: run context, result record, metric helpers."""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass

# One entry per family of the battery: a pass of this slice takes about
# 11 s warm at 4 cores, so a run measures three passes and reports medians.
BATTERY_SLICE = {
    "pricing_summary": "plans",
    "minhash_near_dup_pairs": "dedup",
    "embedding_topk_ivfpq_refined": "similarity",
    "entity_min_cost_3hop": "graph",
    "user_kmv_rolling_7d": "sketches",
    "orders_pit_segment": "temporal",
    "hourly_event_counts_stream": "streaming",
}
BATTERY_IO_FAMILIES = ("dedup", "similarity", "graph")


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    work: str
    cores: int

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def start_session(self, timezone: str, extra: dict[str, str] | None = None):
        """Start the program's Spark session; returns (session, seconds to
        start it and finish a first trivial job)."""
        from flight_radar_pipeline_spark.session import get_spark_session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "3g",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # JVM scratch (and no perf-data file in the system temp dir)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
        }
        conf.update(extra or {})
        t0 = time.perf_counter()
        spark = get_spark_session(
            app_name="perfbench", master=f"local[{self.cores}]",
            timezone=timezone, extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).collect()
        return spark, time.perf_counter() - t0


def geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def op_latency_ms(latencies: dict[str, list[float]]) -> float:
    """The geometric mean over operation kinds of each kind's median latency
    (latencies in s), so a short kind counts as much as a long one."""
    return 1000 * geomean([statistics.median(v) for v in latencies.values() if v])


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring checksum and marker files."""
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(base, n))
    return files, size


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    metrics: dict[str, float]
    units: dict[str, str]  # units of the extra, workload-named metrics
