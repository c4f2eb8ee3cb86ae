"""Streaming ingestion: the remote-write path as Structured Streaming.

Reference pipeline (SURVEY §3.1): HTTP remote-write -> validation + tenant
injection (A2/A3) -> interning (A4) -> short-term store append (A5) ->
deadline/threshold flush (A6) -> Cassandra write -> background 5-min
pre-aggregation (A13/A14). The ownership/takeover/offset-replay machinery
exists because the reference must hand-build exactly-once on Cassandra +
Redis.

Spark mapping (SURVEY §1.5): a streaming source feeds two sinks —

* **raw append**: every valid sample lands in the partitioned points table;
  exactly-once comes from the sink's transactional manifest, so A5/A6's
  ownership protocol has no equivalent here (it simply disappears);
* **watermarked downsample**: the 5-minute pre-aggregate is a windowed
  streaming aggregation with an 8 h watermark — the reference's
  ``MaxPastDelay`` (cassandra/tsdb/aggregate.go:44-48): points later than
  that are still stored raw but skip pre-aggregation. Identical semantics,
  expressed as one `withWatermark().groupBy(window(...))`.

Ingest-time rules mirrored from the reference:
* future-timestamp cap +48 h (config/default.go:100),
* null/invalid sample rejection (api/remotestorage/write.go:185-231),
* tenant label injection (write.go:82-109).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

EVENT_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, value double, props string"
)

MAX_FUTURE_MS = 48 * 3600 * 1000      # config/default.go:100
MAX_PAST_DELAY = "8 hours"            # aggregate.go:44-48 MaxPastDelay
RESOLUTION = "5 minutes"              # tsdb.go:41


def read_event_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-based streaming source of event batches (stand-in for the
    remote-write HTTP receiver; in production: Kafka / a receiver service).

    ``ts`` is epoch-ms (the files written by tests use ms longs directly).
    """
    return spark.readStream.schema(EVENT_SCHEMA).parquet(source_dir)


def decode_write_stream(payloads: DataFrame, body_col: str = "body") -> DataFrame:
    """A1: decode a stream of remote-write HTTP bodies (snappy+prompb)
    into samples — the piece between the receiver and :func:`validate`.

    Works on any DataFrame/stream with a ``binary`` body column (Kafka
    value, file stream of captured payloads). Arrow-batched
    ``mapInPandas`` runs the pure-Python wire codec
    (:mod:`squirreldb_spark.codec`) executor-side — no driver loop, no
    shuffle; output is the dynamic-label samples relation
    ``(labels MAP<STRING,STRING>, ts, value)``.
    """
    import pandas as pd

    def _decode(batches):
        from squirreldb_spark import codec

        for pdf in batches:
            labels, tss, values = [], [], []
            for body in pdf[body_col]:
                for series in codec.decode_remote_write_body(bytes(body)):
                    for s in series.samples:
                        labels.append(series.labels)
                        tss.append(s.timestamp_ms)
                        values.append(s.value)
            yield pd.DataFrame({"labels": labels, "ts": tss, "value": values})

    return payloads.mapInPandas(
        _decode, "labels map<string,string>, ts long, value double"
    )


def validate_map(
    stream: DataFrame, tenant: str = "default", now_ms: int | None = None,
    tenant_label: str = "__account_id", ttl_seconds: int | None = None,
) -> DataFrame:
    """A2/A3 for dynamic-label rows: drop empty-valued labels
    (write.go dropEmptyValue), require a metric name, clamp the future,
    and inject/replace the tenant label inside the map (write.go:82-109
    builder.Set semantics)."""
    out = (
        stream.filter(F.col("value").isNotNull())
        .withColumn(
            "labels", F.map_filter("labels", lambda k, v: v != F.lit(""))
        )
        .filter(F.element_at("labels", F.lit("__name__")).isNotNull())
        .filter(F.col("ts").isNotNull() & (F.col("ts") > 0))
    )
    if now_ms is not None:
        out = out.filter(F.col("ts") <= F.lit(now_ms + MAX_FUTURE_MS))
    out = out.withColumn(
        "labels",
        F.map_concat(
            F.map_filter("labels", lambda k, v: k != F.lit(tenant_label)),
            F.create_map(F.lit(tenant_label), F.lit(tenant)),
        ),
    )
    if ttl_seconds is not None:
        # per-write TTL (X-SquirrelDB-TTL, write.go timeToLiveSeconds):
        # rows carry it so maintenance.apply_retention(ttl_col="ttl_s")
        # can expire each write batch on its own clock
        out = out.withColumn("ttl_s", F.lit(ttl_seconds).cast("long"))
    return out


def validate(stream: DataFrame, tenant: str = "default", now_ms: int | None = None) -> DataFrame:
    """A2/A3: reject invalid samples, clamp the future, inject the tenant.

    Pure narrow filters — no shuffle, fully pushed into the source scan.
    """
    out = (
        stream.filter(F.col("value").isNotNull())
        .filter(F.col("event_type").isNotNull() & (F.col("event_type") != ""))
        .filter(F.col("ts").isNotNull() & (F.col("ts") > 0))
    )
    if now_ms is not None:
        out = out.filter(F.col("ts") <= F.lit(now_ms + MAX_FUTURE_MS))
    return out.withColumn("tenant", F.lit(tenant))


def partition_date(ts: Column) -> Column:
    """The UTC ``date`` partition of an epoch-ms timestamp: the raw
    store's partition column, and what the planner's time-bound pruning
    filters on (the session time zone is UTC)."""
    return F.to_date(F.timestamp_millis(ts))


def points_sink(
    valid: DataFrame, path: str, checkpoint: str, available_now: bool = True
) -> StreamingQuery:
    """Raw append sink, partitioned by UTC date for pruning + retention
    (the Spark analogue of the 5-day base_ts partitions, tsdb.go:39)."""
    pts = valid.select(
        "user_id", "event_type", "tenant", "ts", "value",
        partition_date(F.col("ts")).alias("date"),
    )
    writer = (
        pts.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("date")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def downsample_sink(
    valid: DataFrame, path: str, checkpoint: str, available_now: bool = True
) -> StreamingQuery:
    """Watermarked 5-min pre-aggregation (A13 as a streaming agg).

    Append mode: a window only emits once the watermark (max event time -
    8 h) passes its end — the streaming equivalent of the reference's
    "fullyAggregatedAt" checkpoint; later-arriving points are dropped from
    the aggregate exactly like points older than MaxPastDelay skip
    pre-aggregation in the reference."""
    ds = (
        valid.withColumn("event_time", F.timestamp_millis(F.col("ts")))
        .withWatermark("event_time", MAX_PAST_DELAY)
        .groupBy("user_id", "event_type", F.window("event_time", RESOLUTION))
        .agg(
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.avg("value").alias("avg"),
            F.count("value").alias("count"),
        )
        .select(
            "user_id", "event_type",
            F.unix_millis(F.col("window.start")).alias("bucket_ts"),
            "min", "max", "avg", "count",
        )
    )
    writer = (
        ds.writeStream.format("parquet")
        .outputMode("append")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_ingest(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    tenant: str = "default",
    timeout_s: int = 120,
) -> dict[str, str]:
    """End-to-end ingest of everything currently in ``source_dir``:
    raw points + watermarked downsample, both exactly-once. Returns the
    output table paths."""
    stream = read_event_stream(spark, source_dir)
    valid = validate(stream, tenant=tenant)
    paths = {
        "points": f"{out_dir}/points",
        "downsample": f"{out_dir}/downsample_5m",
    }
    q1 = points_sink(valid, paths["points"], f"{out_dir}/_cp_points")
    q2 = downsample_sink(valid, paths["downsample"], f"{out_dir}/_cp_downsample")
    q1.awaitTermination(timeout_s)
    q2.awaitTermination(timeout_s)
    return paths
