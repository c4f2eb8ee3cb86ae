"""Downsampling (pre-aggregation) and pre-agg/raw routing.

Reference semantics (SURVEY §2A A13–A17):

* A13 — 5-minute pre-aggregation: bucket points to ``ts - ts % 300000`` and
  emit ``{min, max, avg, count}`` per (series, bucket)
  (aggregate/aggregate.go:43-137, resolution cassandra/tsdb/tsdb.go:41).
* A15 — use pre-aggregated data iff the query step >= 300 s
  (cassandra/tsdb/read.go:60-72).
* A16 — the PromQL hint function selects WHICH of the four columns stands in
  for the raw samples: counter functions (rate/irate/increase/resets) read
  ``max`` for counter-reset safety, min->min, max->max, count->count,
  everything else ``avg`` (cassandra/tsdb/read.go:548-613).
* A17 — hybrid stitch: pre-agg up to ``fully_aggregated_at``, then the raw
  tail re-downsampled with the same bucket expression so rate() sees uniform
  buckets (cassandra/tsdb/read.go:110-261).

In the Cassandra design this took 4 interleaved XOR streams and a background
shard-sliced job; on Spark it is one grouped aggregate with map-side partial
aggregation, and the "routing" is just which DataFrame feeds the query.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from squirreldb_spark.model import series_json

RESOLUTION_MS = 300_000  # 5 min, cassandra/tsdb/tsdb.go:41

#: PromQL hint function -> downsample column (cassandra/tsdb/read.go:548-613)
_FUNC_COLUMN = {
    "min": "min", "min_over_time": "min",
    "max": "max", "max_over_time": "max",
    "count": "count", "count_over_time": "count",
    "rate": "max", "irate": "max", "increase": "max", "resets": "max",
}


def downsample(
    points: DataFrame,
    keys: Sequence[str],
    resolution_ms: int = RESOLUTION_MS,
) -> DataFrame:
    """A13: (series, bucket_ts) -> min/max/avg/count.

    Map-side partial aggregation makes this a single shuffle whose output is
    ~resolution/cadence times smaller than the input — at 100 TB this is the
    table every wide-range query should hit instead of raw points.
    """
    keys = list(keys)
    bucket = (F.col("ts") - F.col("ts") % F.lit(resolution_ms)).alias("bucket_ts")
    return points.groupBy(*keys, bucket).agg(
        F.min("value").alias("min"),
        F.max("value").alias("max"),
        F.avg("value").alias("avg"),
        F.count("value").alias("count"),
    )


def downsample_map(
    points: DataFrame,
    map_col: str = "labels",
    resolution_ms: int = RESOLUTION_MS,
) -> DataFrame:
    """A13 for dynamic-label points: group by the canonical sorted-JSON
    label fingerprint (maps are not directly groupable) and carry the
    map through. Every row in a group shares the identical map by
    construction of the fingerprint, so ``any_value`` is exact.

    Output: ``(labels, __series__, bucket_ts, min, max, avg, count)`` —
    consumable by the PromQL engine with ``labels_map_col`` (the
    per-query label promotion applies to this table too).
    """
    key = series_json(F.col(map_col))
    bucket = (F.col("ts") - F.col("ts") % F.lit(resolution_ms)).alias("bucket_ts")
    return (
        points.withColumn("__series__", key)
        .groupBy("__series__", bucket)
        .agg(
            F.any_value(F.col(map_col)).alias(map_col),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.avg("value").alias("avg"),
            F.count("value").alias("count"),
        )
    )


def route_column(function: str) -> str:
    """A16: which pre-agg column represents the samples for this function."""
    return _FUNC_COLUMN.get(function, "avg")


def use_preagg(step_ms: int, force_raw: bool = False, force_preagg: bool = False,
               resolution_ms: int = RESOLUTION_MS) -> bool:
    """A15: pre-agg iff step >= resolution, unless forced (force-raw wins)."""
    if force_raw:
        return False
    return force_preagg or step_ms >= resolution_ms


def as_points(ds: DataFrame, keys: Sequence[str], function: str) -> DataFrame:
    """Present a downsample table as a points relation (series, ts, value)
    by selecting the function-appropriate column (A16)."""
    col = route_column(function)
    return ds.select(
        *keys, F.col("bucket_ts").alias("ts"), F.col(col).cast("double").alias("value")
    )


def stitch(
    preagg: DataFrame,
    raw_tail: DataFrame,
    keys: Sequence[str],
    fully_aggregated_at: int,
    function: str,
    resolution_ms: int = RESOLUTION_MS,
) -> DataFrame:
    """A17: pre-agg before the watermark + re-downsampled raw tail after it.

    The tail is re-bucketed with the *same* expression so downstream range
    functions see a uniform 5-minute cadence across the seam
    (read.go:229-238 fix).
    """
    keys = list(keys)
    head = as_points(preagg, keys, function).filter(
        F.col("ts") < F.lit(fully_aggregated_at)
    )
    tail_ds = downsample(
        raw_tail.filter(F.col("ts") >= F.lit(fully_aggregated_at)), keys, resolution_ms
    )
    tail = as_points(tail_ds, keys, function)
    return head.unionByName(tail)
