"""Streaming ingestion tests: exactly-once append + watermarked downsample.

Mirrors the reference's write->read equality suite (SURVEY §5,
tests/remote-storage-test) and the late-data rule (late points are stored
raw but skip pre-aggregation).
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from squirreldb_spark.streaming import ingest
from squirreldb_spark.tsdb import downsample as ds_batch


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="sqs_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(rows, ingest.EVENT_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(path)


BASE_TS = 1_700_000_000_000  # aligned-ish epoch ms


def _mk_rows(n, t0=BASE_TS, step=60_000, user=1, etype="cpu"):
    return [(i, t0 + i * step, user, etype, float(i), "{}") for i in range(n)]


def test_ingest_end_to_end(spark, tmpdir):
    src = f"{tmpdir}/src"
    _write_batch(spark, src, _mk_rows(100))
    paths = ingest.run_ingest(spark, src, f"{tmpdir}/out", tenant="t1")

    pts = spark.read.parquet(paths["points"])
    assert pts.count() == 100
    assert set(r.tenant for r in pts.select("tenant").distinct().collect()) == {"t1"}
    # date partitioning present for pruning/retention
    assert "date" in pts.columns

    # downsample windows that closed (watermark = max - 8h; our data spans
    # 100 min, so NO window closes -> empty is correct append-mode behavior)
    # -> extend: write a second far-future batch to advance the watermark
    _write_batch(spark, src, _mk_rows(1, t0=BASE_TS + 10 * 3600 * 1000))
    ingest.run_ingest(spark, src, f"{tmpdir}/out", tenant="t1")
    ds = spark.read.parquet(paths["downsample"])
    closed = ds.count()
    assert closed > 0

    # closed windows must equal the batch downsample of the same rows
    batch = ds_batch.downsample(
        pts.select("user_id", "event_type", "ts", "value"), ["user_id", "event_type"]
    )
    joined = ds.alias("s").join(
        batch.alias("b"),
        on=[
            F.col("s.user_id") == F.col("b.user_id"),
            F.col("s.event_type") == F.col("b.event_type"),
            F.col("s.bucket_ts") == F.col("b.bucket_ts"),
        ],
    )
    assert joined.count() == closed
    mismatches = joined.filter(
        (F.col("s.min") != F.col("b.min"))
        | (F.col("s.max") != F.col("b.max"))
        | (F.col("s.count") != F.col("b.count"))
    ).count()
    assert mismatches == 0


def test_late_data_stored_raw_but_skips_preagg(spark, tmpdir):
    src = f"{tmpdir}/src"
    # batch 1: normal data, then a point 10h in the future advances watermark
    _write_batch(spark, src, _mk_rows(50))
    _write_batch(spark, src, _mk_rows(1, t0=BASE_TS + 12 * 3600 * 1000))
    paths = ingest.run_ingest(spark, src, f"{tmpdir}/out")
    ds_before = spark.read.parquet(paths["downsample"]).count()
    assert ds_before > 0

    # batch 2: a LATE point (far behind the watermark)
    _write_batch(spark, src, [(999, BASE_TS + 1000, 9, "late_metric", 42.0, "{}")])
    ingest.run_ingest(spark, src, f"{tmpdir}/out")

    pts = spark.read.parquet(paths["points"])
    # stored raw (reference: raw write has no past-delay limit)
    assert pts.filter(F.col("event_type") == "late_metric").count() == 1
    # but the pre-aggregate never sees it (MaxPastDelay semantics)
    ds_after = spark.read.parquet(paths["downsample"])
    assert ds_after.filter(F.col("event_type") == "late_metric").count() == 0


def test_validation_rejects_invalid_samples(spark, tmpdir):
    src = f"{tmpdir}/src"
    rows = [
        (1, BASE_TS, 1, "ok", 1.0, "{}"),
        (2, BASE_TS, 1, "", 2.0, "{}"),        # empty metric name
        (3, BASE_TS, 1, None, 3.0, "{}"),      # null name
        (4, BASE_TS, 1, "ok", None, "{}"),     # null value
        (5, None, 1, "ok", 5.0, "{}"),         # null ts
        (6, BASE_TS + 100 * 24 * 3600 * 1000, 1, "ok", 6.0, "{}"),  # too far future
    ]
    _write_batch(spark, src, rows)
    stream = ingest.read_event_stream(spark, src)
    valid = ingest.validate(stream, now_ms=BASE_TS)
    q = ingest.points_sink(valid, f"{tmpdir}/out/points", f"{tmpdir}/out/_cp")
    q.awaitTermination(120)
    pts = spark.read.parquet(f"{tmpdir}/out/points")
    assert pts.count() == 1
    assert pts.collect()[0].event_id if "event_id" in pts.columns else True


def test_remote_write_payload_stream_decodes_end_to_end(spark, tmpdir):
    """A1 fully: snappy+prompb payload bodies -> mapInPandas codec ->
    validated dynamic-label samples, as a real file STREAM."""
    from squirreldb_spark import codec

    payloads = [
        codec.encode_remote_write_body([
            codec.TimeSeries(
                labels={"__name__": "up", "job": "api", "drop_me": ""},
                samples=[codec.Sample(1.0, 1_000), codec.Sample(0.0, 61_000)],
            ),
            codec.TimeSeries(
                labels={"__name__": "up", "job": "db", "__account_id": "evil"},
                samples=[codec.Sample(1.0, 2_000)],
            ),
        ]),
        codec.encode_remote_write_body([
            codec.TimeSeries(labels={"job": "noname"},
                             samples=[codec.Sample(9.0, 3_000)]),
        ]),
    ]
    src = f"{tmpdir}/payloads"
    spark.createDataFrame([(p,) for p in payloads], "body binary").write.parquet(src)

    stream = spark.readStream.schema("body binary").parquet(src)
    decoded = ingest.decode_write_stream(stream)
    valid = ingest.validate_map(decoded, tenant="t1")
    out_dir = f"{tmpdir}/decoded_out"
    q = ingest.points_sink(valid, out_dir, f"{tmpdir}/_cp_dec")
    q.awaitTermination(120)

    rows = spark.read.parquet(out_dir).collect()
    # the nameless series is rejected; 3 samples survive
    assert len(rows) == 3
    by_job = {}
    for r in rows:
        by_job.setdefault(r.labels["job"], []).append(r)
        assert r.labels["__account_id"] == "t1"   # tenant replaces spoof
        assert "drop_me" not in r.labels           # empty value dropped
    assert len(by_job["api"]) == 2
    assert by_job["db"][0].value == 1.0


def test_remote_write_to_promql_query_full_loop(spark, tmpdir):
    """The whole pipe a real user runs: remote-write payloads -> decoded
    stream -> validated -> parquet store -> PromAPI range query over the
    dynamic-label store."""
    from squirreldb_spark import codec
    from squirreldb_spark.api import PromAPI

    body = codec.encode_remote_write_body([
        codec.TimeSeries(labels={"__name__": "cpu", "host": "a"},
                         samples=[codec.Sample(1.0, 10_000), codec.Sample(3.0, 20_000)]),
        codec.TimeSeries(labels={"__name__": "cpu", "host": "b"},
                         samples=[codec.Sample(10.0, 20_000)]),
    ])
    src = f"{tmpdir}/rw_payloads"
    spark.createDataFrame([(body,)], "body binary").write.parquet(src)
    stream = spark.readStream.schema("body binary").parquet(src)
    valid = ingest.validate_map(ingest.decode_write_stream(stream), tenant="t9")
    store = f"{tmpdir}/rw_store"
    q = ingest.points_sink(valid, store, f"{tmpdir}/_cp_rw")
    q.awaitTermination(120)

    pts = spark.read.parquet(store)
    api = PromAPI(pts, label_cols=(), name_label="__name__",
                  lookback_ms=20_000, labels_map_col="labels")
    out = api.query_range("sum by (host) (cpu)", 10_000, 20_000, 10_000).collect()
    got = {(r.host, r.step_ts): r.value for r in out}
    assert got[("a", 10_000)] == 1.0
    assert got[("a", 20_000)] == 3.0
    assert got[("b", 20_000)] == 10.0
    # tenant label injected at ingest is queryable as a matcher
    scoped = api.query_range('sum by (host) (cpu{__account_id="t9"})',
                             10_000, 20_000, 10_000).collect()
    assert len(scoped) == 3


def test_stateful_deltas_across_restarts(spark, tmpdir):
    """applyInPandasWithState: per-series state survives micro-batches AND
    a query restart (the A5 short-term-store semantics, minus the
    ownership protocol — the checkpoint owns the state)."""
    from squirreldb_spark.streaming import stateful

    src, out, cp = f"{tmpdir}/src", f"{tmpdir}/out", f"{tmpdir}/cp"

    def run_once():
        stream = ingest.read_event_stream(spark, src)
        q = (
            stateful.streaming_deltas(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: values 0,10,20 -> deltas null,10,10
    _write_batch(spark, src, [
        (1, BASE_TS + i * 60_000, 1, "cpu", float(i * 10), "{}") for i in range(3)
    ])
    run_once()
    # batch 2 (new query, same checkpoint): value 25 -> delta vs LAST of
    # batch 1 (20.0) = 5.0, proving state restored across the restart
    _write_batch(spark, src, [(3, BASE_TS + 3 * 60_000, 1, "cpu", 25.0, "{}")])
    run_once()

    got = {r.ts: (r.value, r.delta) for r in spark.read.parquet(out).collect()}
    assert got[BASE_TS] == (0.0, None)
    assert got[BASE_TS + 60_000] == (10.0, 10.0)
    assert got[BASE_TS + 120_000] == (20.0, 10.0)
    assert got[BASE_TS + 180_000] == (25.0, 5.0)


def test_streaming_document_dedup_bounded_state(spark, tmpdir):
    """pipeline.dedup.dedup_document_stream: duplicates inside the
    watermark are dropped, state does not require the full corpus."""
    from squirreldb_spark.pipeline.dedup import dedup_document_stream

    src = f"{tmpdir}/docs_src"
    rows = [
        (1, "alpha beta gamma", 1_000),
        (2, "alpha  BETA gamma", 2_000),   # same canonical text -> dup
        (3, "delta epsilon", 3_000),
        (4, "alpha beta gamma", 4_000),    # dup again
        (5, "zeta eta", 5_000),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, ts long")
    df = df.withColumn("event_time", F.timestamp_millis(F.col("ts")))
    df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    out_dir, ckpt = f"{tmpdir}/docs_out", f"{tmpdir}/docs_ckpt"
    q = (
        dedup_document_stream(stream, watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    fps = [r.fingerprint for r in got.collect()]
    assert len(fps) == 3 and len(set(fps)) == 3
    assert {r.doc_id for r in got.collect()} <= {1, 2, 3, 5}  # one per text


def test_streaming_sessionization_across_batches_and_restart(spark, tmpdir):
    """Stateful sessionization: the open session survives micro-batches
    and a query restart; a later event past the gap closes it exactly
    once (exactly-once via the checkpoint)."""
    from squirreldb_spark.streaming import stateful

    src, out, cp = f"{tmpdir}/src", f"{tmpdir}/out", f"{tmpdir}/cp"
    m = 60_000

    def run_once():
        stream = ingest.read_event_stream(spark, src)
        q = (
            stateful.streaming_sessions(stream, gap_ms=30 * m)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: two events 10 min apart -> ONE open session, nothing emitted
    _write_batch(spark, src, [
        (1, BASE_TS, 1, "view", 1.0, "{}"),
        (2, BASE_TS + 10 * m, 1, "click", 1.0, "{}"),
    ])
    run_once()
    import glob
    assert spark.read.schema(stateful.SESSION_OUT_SCHEMA).parquet(out).count() == 0

    # batch 2 (restarted query, same checkpoint): 60 min later -> closes
    # the restored session; another user starts their own
    _write_batch(spark, src, [
        (3, BASE_TS + 70 * m, 1, "view", 1.0, "{}"),
        (4, BASE_TS, 2, "view", 1.0, "{}"),
    ])
    run_once()
    rows = {r.user_id: r for r in spark.read.parquet(out).collect()}
    assert rows[1].session_start == BASE_TS
    assert rows[1].session_end == BASE_TS + 10 * m
    assert rows[1].n_events == 2 and rows[1].duration_ms == 10 * m
    assert len(rows) == 1  # user 2's session is still open (in state)


def test_streaming_ratio_joins_closed_buckets(spark, tmpdir):
    """Watermarked stream-stream join: per-side windowed sums join on
    (user, window) and emit once both sides' watermark passes the
    bucket — the continuous analogue of the batch PromQL binop."""
    from squirreldb_spark.streaming import stateful

    lsrc, rsrc = f"{tmpdir}/l", f"{tmpdir}/r"
    out, cp = f"{tmpdir}/out", f"{tmpdir}/cp"
    h = 3_600_000

    # bucket 0: purchases 3+5, errors 2+2 for user 1 -> ratio 8/4 = 2.0
    _write_batch(spark, lsrc, [
        (1, BASE_TS - BASE_TS % h + 60_000, 1, "purchase", 3.0, "{}"),
        (2, BASE_TS - BASE_TS % h + 120_000, 1, "purchase", 5.0, "{}"),
        # watermark pusher 6 h later (own bucket; no matching error side)
        (3, BASE_TS + 6 * h, 1, "purchase", 1.0, "{}"),
    ])
    _write_batch(spark, rsrc, [
        (4, BASE_TS - BASE_TS % h + 90_000, 1, "error", 2.0, "{}"),
        (5, BASE_TS - BASE_TS % h + 100_000, 1, "error", 2.0, "{}"),
        (6, BASE_TS + 6 * h, 2, "error", 1.0, "{}"),
    ])
    l = ingest.read_event_stream(spark, lsrc).filter(F.col("event_type") == "purchase")
    r = ingest.read_event_stream(spark, rsrc).filter(F.col("event_type") == "error")
    q = (
        stateful.streaming_ratio(l, r)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.read.parquet(out).collect()
    got = {(r.user_id, r.bucket): r for r in rows}
    key = (1, (BASE_TS - BASE_TS % h) // h)
    assert key in got
    assert got[key].l_sum == 8.0 and got[key].r_sum == 4.0
    assert got[key].ratio == 2.0
    # the pusher buckets have no counterpart on the other side: inner join
    assert len(got) == 1


def test_streaming_hopping_counts_emits_closed_windows(spark, tmpdir):
    """The batch hopping-window operator runs unchanged on a stream: with
    a 1 h watermark, windows fully earlier than (max event time - 1 h)
    close and emit in append mode; the open tail stays in state."""
    from squirreldb_spark.pipeline import events as pev

    src, out, cp = f"{tmpdir}/src", f"{tmpdir}/out", f"{tmpdir}/cp"
    t0 = BASE_TS - BASE_TS % 600_000  # align to a window boundary
    _write_batch(spark, src, [
        (1, t0 + 60_000, 1, "view", 1.0, "{}"),
        (2, t0 + 360_000, 1, "view", 2.0, "{}"),
        # watermark pusher 3 h later: closes every window around t0
        (3, t0 + 3 * 3_600_000, 1, "view", 9.0, "{}"),
    ])
    stream = ingest.read_event_stream(spark, src)
    q = (
        pev.hopping_counts(stream, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.window_start_ms, r.event_type): r
        for r in spark.read.parquet(out).collect()
    }
    # event 1 (offset 1 min) -> windows t0-5m and t0; event 2 (offset
    # 6 min) -> windows t0 and t0+5m; all three closed by the pusher
    assert got[(t0 - 300_000, "view")].n_events == 1
    assert got[(t0, "view")].n_events == 2
    assert got[(t0, "view")].sum_value == 3.0
    assert got[(t0 + 300_000, "view")].n_events == 1
    # the pusher's own windows are NOT closed (watermark = its time - 1 h)
    assert (t0 + 3 * 3_600_000, "view") not in got
    assert len(got) == 3


def test_streaming_ratio_zero_rhs_bucket_yields_inf_not_crash(spark, tmpdir):
    """Regression: a bucket whose error-side samples sum to 0.0 divided
    by zero under ANSI mode and killed the whole streaming query; PromQL
    division is IEEE (x/0 = Inf)."""
    import math

    from squirreldb_spark.streaming import stateful

    lsrc, rsrc = f"{tmpdir}/l", f"{tmpdir}/r"
    out, cp = f"{tmpdir}/out", f"{tmpdir}/cp"
    h = 3_600_000
    t0 = BASE_TS - BASE_TS % h
    _write_batch(spark, lsrc, [
        (1, t0 + 60_000, 1, "purchase", 3.0, "{}"),
        (2, t0 + 6 * h, 1, "purchase", 1.0, "{}"),   # watermark pusher
    ])
    _write_batch(spark, rsrc, [
        (3, t0 + 90_000, 1, "error", 0.0, "{}"),     # zero-valued sample
        (4, t0 + 6 * h, 2, "error", 1.0, "{}"),
    ])
    l = ingest.read_event_stream(spark, lsrc).filter(F.col("event_type") == "purchase")
    r = ingest.read_event_stream(spark, rsrc).filter(F.col("event_type") == "error")
    q = (
        stateful.streaming_ratio(l, r)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.read.parquet(out).collect()
    got = {(r.user_id, r.bucket): r for r in rows}
    key = (1, t0 // h)
    assert key in got
    assert got[key].r_sum == 0.0 and math.isinf(got[key].ratio)


def test_streaming_segment_dedup_bounded_state(spark, tmpdir):
    """pipeline.dedup.segment_dedup_stream: a segment repeated across
    documents inside the watermark survives exactly once."""
    from squirreldb_spark.pipeline.dedup import segment_dedup_stream

    src = f"{tmpdir}/seg_src"
    boiler = "a b c d e f g h i j"            # one exact 10-word segment
    rows = [
        (1, boiler + " k l m", 1_000),         # segs: boiler, "k l m"
        (2, boiler + " x y z", 2_000),         # boiler dup; "x y z" new
        (3, "p q r", 3_000),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, ts long")
    df = df.withColumn("event_time", F.timestamp_millis(F.col("ts")))
    df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    out_dir, ckpt = f"{tmpdir}/seg_out", f"{tmpdir}/seg_ckpt"
    q = (
        segment_dedup_stream(stream, watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).collect()
    segs = sorted(r.seg for r in got)
    assert segs.count(boiler) == 1              # dedup across documents
    assert set(segs) == {boiler, "k l m", "x y z", "p q r"}


def test_streaming_hll_registers_match_batch_and_estimate(spark, tmpdir):
    """Registers built incrementally on the stream must be bit-identical
    to the batch hll_rollup's day registers over the same events, and
    the shared estimator must therefore agree exactly; only
    watermark-closed days emit."""
    from squirreldb_spark.pipeline import events as pev
    from squirreldb_spark.streaming import stateful

    src, out, cp = f"{tmpdir}/src", f"{tmpdir}/out", f"{tmpdir}/cp"
    day0 = BASE_TS - BASE_TS % 86_400_000
    rows = [
        (i, day0 + (i % 20) * 3_600_000, i % 7, "view", 1.0, "{}")
        for i in range(60)
    ] + [
        # watermark pusher two days later: closes day0 (and day0+1)
        (999, day0 + 2 * 86_400_000 + 7_200_000, 1, "view", 1.0, "{}")
    ]
    _write_batch(spark, src, rows)
    stream = ingest.read_event_stream(spark, src)
    q = (
        stateful.streaming_hll_registers(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = spark.read.parquet(out)
    got = {
        (r.event_type, r.day, r.bucket): r.r for r in streamed.collect()
    }
    assert got, "no closed registers emitted"
    # the pusher's own day is still open (watermark = its time - 1 h)
    assert all(day != day0 // 86_400_000 + 2 for (_, day, _b) in got)
    # batch twin over the SAME closed-day events
    batch = spark.createDataFrame(rows, ingest.EVENT_SCHEMA).filter(
        F.col("ts") < day0 + 2 * 86_400_000
    )
    ev = batch.select("event_type", "ts", "user_id")
    from squirreldb_spark.pipeline.dedup import _h60_sql_expr

    wbits = pev._HLL_WBITS
    h = _h60_sql_expr("cast(user_id as string)")
    rank = (
        f"CASE WHEN ({h} % {1 << wbits}) = 0 THEN {wbits + 1} "
        f"ELSE {wbits} - cast(floor(log2({h} % {1 << wbits})) as int) END"
    )
    bat = {
        (r.event_type, r.day, r.bucket): r.r
        for r in ev.select(
            "event_type",
            (F.col("ts") / 86_400_000).cast("long").alias("day"),
            F.expr(f"{h} div {1 << wbits}").alias("bucket"),
            F.expr(rank).alias("rank"),
        )
        .groupBy("event_type", "day", "bucket")
        .agg(F.max("rank").alias("r"))
        .collect()
    }
    assert got == bat
    # the shared estimator over streamed registers == over batch registers,
    # and it tracks the true distinct count (7 users)
    est = pev.hll_estimate_from_registers(streamed).collect()
    for r in est:
        assert abs(r.hll_estimate - 7) / 7 < 0.5


def test_streaming_hll_registers_survive_restart(spark, tmpdir):
    """Register state checkpoints: a second run over new files resumes
    from the same state and emits each closed day exactly once."""
    from squirreldb_spark.streaming import stateful

    src, out, cp = f"{tmpdir}/src", f"{tmpdir}/out", f"{tmpdir}/cp"
    day0 = BASE_TS - BASE_TS % 86_400_000

    def run():
        q = (
            stateful.streaming_hll_registers(
                ingest.read_event_stream(spark, src)
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    _write_batch(spark, src, [
        (1, day0 + 3_600_000, 5, "view", 1.0, "{}"),
        (2, day0 + 7_200_000, 6, "view", 1.0, "{}"),
    ])
    run()  # nothing closes yet (no watermark pusher)
    _write_batch(spark, src, [
        (3, day0 + 3 * 86_400_000, 7, "view", 1.0, "{}"),  # pusher
    ])
    run()  # day0 closes now, built from state that includes batch-1 rows
    regs = spark.read.parquet(out)
    day_rows = regs.filter(F.col("day") == day0 // 86_400_000).collect()
    assert len(day_rows) == len({r.bucket for r in day_rows})  # once each
    # both pre-restart users are in the closed registers (2 buckets or a
    # shared one with the max rank — either way state survived)
    assert 1 <= len(day_rows) <= 2


def test_decode_keeps_nan_staleness_markers(spark):
    """A NaN sample (a Prometheus staleness marker) survives decoding and
    validation as NaN, as it does in the daemon's PointStore."""
    import math

    from squirreldb_spark import codec

    body = codec.encode_remote_write_body([codec.TimeSeries(
        labels={"__name__": "up", "job": "a"},
        samples=[codec.Sample(float("nan"), 1_000), codec.Sample(1.0, 2_000)],
    )])
    decoded = ingest.decode_write_stream(
        spark.createDataFrame([(bytearray(body),)], "body binary"))
    rows = sorted(ingest.validate_map(decoded, tenant="t1").collect(),
                  key=lambda r: r.ts)
    assert [r.ts for r in rows] == [1_000, 2_000]
    assert math.isnan(rows[0].value) and rows[1].value == 1.0
