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

The HTTP daemon writes through :class:`PointStore`, whose in-memory head
(A5) flushes (A6) through :func:`write_points`, the batch twin of
:func:`points_sink`.

Ingest-time rules mirrored from the reference:
* future-timestamp cap +48 h (config/default.go:100),
* null/invalid sample rejection (api/remotestorage/write.go:185-231),
* tenant label injection (write.go:82-109).
"""

from __future__ import annotations

import functools
import shutil
import tempfile
import threading
import time
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from squirreldb_spark.model import canonical_series_json
from squirreldb_spark.tsdb.maintenance import MAX_FUTURE_MS, clamp_future

EVENT_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, value double, props string"
)

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
    value, file stream of captured payloads). ``mapInArrow`` runs the
    pure-Python wire codec (:mod:`squirreldb_spark.codec`)
    executor-side — no driver loop, no shuffle; output is the
    dynamic-label samples relation ``(labels MAP<STRING,STRING>, ts,
    value)``. The values go out as an explicit float64 array, so a NaN
    (a Prometheus staleness marker) stays NaN instead of becoming null.
    """
    import pyarrow as pa

    def _decode(batches):
        from squirreldb_spark import codec

        for batch in batches:
            labels, tss, values = [], [], []
            for body in batch.column(body_col).to_pylist():
                for series in codec.decode_remote_write_body(body):
                    items = list(series.labels.items())
                    for s in series.samples:
                        labels.append(items)
                        tss.append(s.timestamp_ms)
                        values.append(s.value)
            yield pa.RecordBatch.from_arrays(
                [pa.array(labels, pa.map_(pa.string(), pa.string())),
                 pa.array(tss, pa.int64()),
                 pa.array(values, pa.float64())],
                names=["labels", "ts", "value"],
            )

    return payloads.select(body_col).mapInArrow(
        _decode, "labels map<string,string>, ts long, value double"
    )


def _valid_samples(stream: DataFrame, now_ms: int | None) -> DataFrame:
    """The sample rules both validators share: a value, ``ts > 0`` and,
    given ``now_ms``, no later than ``now_ms + MAX_FUTURE_MS``."""
    out = stream.filter(F.col("value").isNotNull() & (F.col("ts") > 0))
    return out if now_ms is None else clamp_future(out, now_ms)


def validate_map(
    stream: DataFrame, tenant: str = "default", now_ms: int | None = None,
    tenant_label: str = "__account_id", ttl_seconds: int | None = None,
) -> DataFrame:
    """A2/A3 for dynamic-label rows: drop empty-valued labels
    (write.go dropEmptyValue), require a metric name, clamp the future,
    and inject/replace the tenant label inside the map (write.go:82-109
    builder.Set semantics)."""
    out = (
        _valid_samples(stream, now_ms)
        .withColumn(
            "labels", F.map_filter("labels", lambda k, v: v != F.lit(""))
        )
        .filter(F.element_at("labels", F.lit("__name__")).isNotNull())
        .withColumn("labels", F.map_concat(
            F.map_filter("labels", lambda k, v: k != F.lit(tenant_label)),
            F.create_map(F.lit(tenant_label), F.lit(tenant)),
        ))
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
    return (
        _valid_samples(stream, now_ms)
        .filter(F.col("event_type").isNotNull() & (F.col("event_type") != ""))
        .withColumn("tenant", F.lit(tenant))
    )


def partition_date(ts: Column) -> Column:
    """The UTC ``date`` partition of an epoch-ms timestamp: the raw
    store's partition column, and what the planner's time-bound pruning
    filters on (the session time zone is UTC)."""
    return F.to_date(F.timestamp_millis(ts))


def _with_date(points: DataFrame) -> DataFrame:
    return points.withColumn("date", partition_date(F.col("ts")))


def write_points(valid: DataFrame, path: str) -> None:
    """Batch raw append: ``valid`` (event or map-labelled points) plus its
    ``date`` partition, appended to the date-partitioned parquet table at
    ``path`` (the Spark analogue of the 5-day base_ts partitions,
    tsdb.go:39). :func:`points_sink` is its streaming twin."""
    _with_date(valid).write.partitionBy("date").mode("append").parquet(path)


def points_sink(
    valid: DataFrame, path: str, checkpoint: str, available_now: bool = True
) -> StreamingQuery:
    """Streaming raw append in :func:`write_points`' layout; exactly-once
    through the sink's manifest."""
    writer = (
        _with_date(valid).writeStream.format("parquet")
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
    events = valid.select("user_id", "event_type", "tenant", "ts", "value")
    q1 = points_sink(events, paths["points"], f"{out_dir}/_cp_points")
    q2 = downsample_sink(valid, paths["downsample"], f"{out_dir}/_cp_downsample")
    q1.awaitTermination(timeout_s)
    q2.awaitTermination(timeout_s)
    return paths


#: samples the in-memory head holds before it is flushed to parquet; a
#: head sample costs about 60 B (tracemalloc, 200 series x 10 samples a
#: write), so the head stays under about 16 MB
HEAD_SAMPLES = 2 ** 18

#: what a head sample is taken to add to the store's scan size when the
#: store decides whether a snapshot fits in one scan split: generous,
#: above both its in-memory cost and its ~10 B in parquet
HEAD_SAMPLE_BYTES = 180


class Snapshot(NamedTuple):
    """A store relation and an upper bound on its rows."""

    relation: DataFrame
    rows: int


def _size_in_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df`` (file bytes for a parquet scan)."""
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()


class PointStore:
    """The daemon's samples: the history, the parquet the store flushed
    and an in-memory head of recent writes (A5/A6).

    :meth:`append` keeps what :func:`validate_map` keeps. A full head, or
    :meth:`flush`, goes out through :func:`write_points` into a private
    directory that :meth:`stop` removes. Appends, flushes and the
    :meth:`snapshot` share one lock, and a snapshot copies the head
    entries and fixes its parquet file listing, so a read sees each
    acknowledged sample exactly once.

    A snapshot carries an upper bound on its rows: the history's row
    count (taken once, here), the rows flushed so far and the head
    samples it copied. Given a ``serving`` session
    (:func:`squirreldb_spark.session.serving_session`), a snapshot is
    built there whenever the whole store fits in one scan split: the
    history's and the flushed parquet's Catalyst size plus
    :data:`HEAD_SAMPLE_BYTES` per head sample, against ``spark``'s
    ``spark.sql.files.maxPartitionBytes``. A larger store is read in
    ``spark``.

    The history is map-labelled (``labels MAP<STRING,STRING>``, ``ts``,
    ``value``), the layout :func:`points_sink` writes; any other raises
    ``ValueError`` here rather than on a first read.
    """

    def __init__(self, spark: SparkSession, history: DataFrame | None = None,
                 tenant_label: str = "__account_id",
                 serving: SparkSession | None = None):
        if history is not None:
            types = {f.name: f.dataType.simpleString() for f in history.schema}
            if (types.get("labels") != "map<string,string>"
                    or not {"ts", "value"} <= types.keys()):
                raise ValueError(
                    "a history needs labels map<string,string>, ts and "
                    f"value columns, got {history.schema.simpleString()}")
        self.spark = spark
        self.tenant_label = tenant_label
        self._serving = serving
        self._split_bytes = (
            spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())
        #: one (labels, [ts], [value]) entry per series per append
        self._head: list[tuple[dict, list[int], list[float]]] = []
        self._head_samples = 0
        self._dir: str | None = None
        #: session -> the history and the flushed parquet, read in it
        self._history_in = {} if history is None else self._in_sessions(history)
        self._flushed_in: dict[SparkSession, DataFrame] = {}
        self._history_bytes = 0 if history is None else _size_in_bytes(history)
        #: rows and Catalyst bytes of history ∪ flushed
        self._stored_rows = 0 if history is None else history.count()
        self._stored_bytes = self._history_bytes
        #: canonical series JSON -> max(ts + TTL) in epoch seconds, over
        #: the writes that carried a TTL
        self._expiry: dict[str, float] = {}
        self._lock = threading.RLock()

    def _in_sessions(self, df: DataFrame) -> dict[SparkSession, DataFrame]:
        from squirreldb_spark.session import in_session

        out = {self.spark: df}
        if self._serving is not None:
            out[self._serving] = in_session(df, self._serving)
        return out

    @property
    def head_samples(self) -> int:
        return self._head_samples

    def append(self, series, tenant: str | None = None,
               ttl_s: int | None = None) -> int:
        """A2/A3 + A5: validate, set the tenant label and append to the
        head; returns the samples kept."""
        horizon = int(time.time() * 1000) + MAX_FUTURE_MS
        entries: list[tuple[dict, list[int], list[float]]] = []
        n = 0
        expiry: dict[str, float] = {}
        for ts in series:
            labels = {k: v for k, v in ts.labels.items() if v != ""}
            if "__name__" not in labels:
                continue
            if tenant is not None:
                labels[self.tenant_label] = tenant
            tss: list[int] = []
            values: list[float] = []
            for s in ts.samples:
                if 0 < s.timestamp_ms <= horizon:
                    tss.append(s.timestamp_ms)
                    values.append(s.value)
            if not tss:
                continue
            entries.append((labels, tss, values))
            n += len(tss)
            if ttl_s is not None:
                key = canonical_series_json(labels)
                exp = max(tss) / 1000 + ttl_s
                expiry[key] = max(exp, expiry.get(key, exp))
        with self._lock:
            for key, exp in expiry.items():
                self._expiry[key] = max(exp, self._expiry.get(key, exp))
            for labels, tss, values in entries:
                while len(tss) > HEAD_SAMPLES - self._head_samples:
                    room = HEAD_SAMPLES - self._head_samples
                    self._head.append((labels, tss[:room], values[:room]))
                    self._head_samples = HEAD_SAMPLES
                    self.flush()
                    tss, values = tss[room:], values[room:]
                self._head.append((labels, tss, values))
                self._head_samples += len(tss)
                if self._head_samples >= HEAD_SAMPLES:
                    self.flush()
        return n

    def flush(self) -> int:
        """Write the head out as parquet; returns the samples written."""
        with self._lock:
            n = self._head_samples
            if n:
                if self._dir is None:
                    self._dir = tempfile.mkdtemp(prefix="squirreldb-points-")
                write_points(self._head_frame(self.spark, self._head), self._dir)
                flushed = self.spark.read.parquet(self._dir)
                self._flushed_in = self._in_sessions(flushed)
                self._stored_rows += n
                self._stored_bytes = self._history_bytes + _size_in_bytes(flushed)
                self._head, self._head_samples = [], 0
            return n

    @staticmethod
    def _head_frame(session: SparkSession, entries: list) -> DataFrame:
        return _with_date(session.createDataFrame(
            [(labels, t, v) for labels, tss, values in entries
             for t, v in zip(tss, values)],
            "labels map<string,string>, ts long, value double"))

    def snapshot(self) -> Snapshot:
        """History ∪ flushed ∪ head in the history's columns (with no
        history: ``labels, ts, value, date``), the history itself while
        nothing was written, with an upper bound on its rows."""
        with self._lock:
            head = list(self._head)
            n_head = self._head_samples
            flushed = self._flushed_in
            rows = self._stored_rows + n_head
            size = self._stored_bytes + n_head * HEAD_SAMPLE_BYTES
        session = self.spark
        if self._serving is not None and size <= self._split_bytes:
            session = self._serving
        history = self._history_in.get(session)
        parts = [flushed[session]] if flushed else []
        if history is not None and not (head or parts):
            return Snapshot(history, rows)
        if head or not parts:
            parts.append(self._head_frame(session, head))
        if history is not None:
            parts = [history] + [df.select(*[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in history.schema]) for df in parts]
        return Snapshot(functools.reduce(DataFrame.unionByName, parts), rows)

    def relation(self) -> DataFrame:
        """The relation of a :meth:`snapshot`."""
        return self.snapshot().relation

    def expiry(self) -> dict[str, float]:
        """Series JSON -> expiry epoch seconds, for series written with a TTL."""
        with self._lock:
            return dict(self._expiry)

    def stop(self) -> None:
        """Remove the flushed parquet."""
        with self._lock:
            if self._dir is not None:
                shutil.rmtree(self._dir, ignore_errors=True)
            self._dir = None
            self._flushed_in = {}
