"""Search metrics: trace → DataFrame, per-mode performance stats (A5/A8).

The reference keeps rolling windows of the last 1000 latencies with avg and
p95 (``elasticsearch_adapters.py:486-500``, ``hybrid_search_service.py:
1560-1598``).  Batch-natively, traces accumulate as rows and stats are one
aggregation — exact percentiles instead of sorted-window approximations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.hybrid import SearchTraceStep
from ..sources.tables import local_frame

TRACE_SCHEMA = "query string, stage string, hits int, best_score double, took_ms double"


def traces_to_df(
    spark: SparkSession, traces: list[tuple[str, list[SearchTraceStep]]]
) -> DataFrame:
    """(query, trace steps) pairs → flat metrics DataFrame."""
    rows = [
        (query, s.stage, int(s.hits), float(s.best_score), float(s.took_ms))
        for query, steps in traces
        for s in steps
    ]
    return local_frame(spark, rows, TRACE_SCHEMA)


def query_perf_stats(metrics: DataFrame) -> DataFrame:
    """Per-stage/mode stats: n, avg/min/max/p50/p95 latency, hit rate."""
    return metrics.groupBy("stage").agg(
        F.count("*").cast("long").alias("n"),
        F.avg("took_ms").alias("avg_ms"),
        F.min("took_ms").alias("min_ms"),
        F.max("took_ms").alias("max_ms"),
        F.percentile("took_ms", 0.5).alias("p50_ms"),
        F.percentile("took_ms", 0.95).alias("p95_ms"),
        F.avg((F.col("hits") > 0).cast("double")).alias("hit_rate"),
    )
