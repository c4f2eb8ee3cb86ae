"""Prometheus-compatible query API surface (SURVEY §2 "Set/DDL API operators").

The reference exposes ``/api/v1/query``, ``/query_range``, ``/series``,
``/labels``, ``/label/<name>/values`` plus remote read/write over HTTP
(reference api/api.go:209-341), with per-request headers driving tenancy,
forced matchers, limits and raw/pre-agg routing
(api/promql/queryable.go:122-249, types/types.go:171-195).

Here the same surface is a driver-side façade over the PromQL engine:
each endpoint builds ONE DataFrame program; HTTP/JSON serialization is a
thin shell around :meth:`PromAPI.query_range` etc. (any WSGI server can
wrap this — the engine itself stays transport-agnostic). The per-request
chain the reference implements as wrapper indexes/readers
(filtering_index -> limiting_index -> caching_reader) collapses to plain
DataFrame filters prepended to every selector:

* tenant / forced matcher (A27)  -> ``points.filter(tenant == X)`` up front
* series limit (A25)             -> distinct-series count of the query's
                                    windowed fact slice
* points limit (A26)             -> row count of that same slice
* time clamp (A28)               -> ``greatest/least`` on the request bounds

Every read selects through the engine over that tenant-scoped relation,
like the reference's one queryable (api/promql/queryable.go:153-165):
queries through :meth:`PromQLEngine.query_range`; ``/series``, the label
lookups (and so the daemon's index dumps) and remote read take raw
samples in an inclusive ``[start, end]`` through
:meth:`PromQLEngine.select_raw` — the same matcher lowering, label
promotion, mutable-label rewrite, ``ts`` bound and ``date`` partition
pruning, with no lookback. The formatters unpack a map-labelled result's
series identity into each ``metric``.
"""

from __future__ import annotations

import functools
import itertools
import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from squirreldb_spark import codec
from squirreldb_spark.promql import parser
from squirreldb_spark.promql.ast import Matcher, VectorSelector
from squirreldb_spark.promql.planner import PromQLEngine

# reference api/promql/time_range_index.go:29-87: clamp query times into
# [epoch, year 3000]
MIN_TS_MS = 0
MAX_TS_MS = 32_503_680_000_000


#: Most rows a query response renders; more is a LimitExceeded (422),
#: never a silently partial answer.
RESULT_LIMIT = 10_000


class LimitExceeded(Exception):
    """A24/A25-style guard tripped (max_evaluated_series / points)."""


def collect_at_most(df: DataFrame, limit: int, what: str) -> list:
    """Collect at most ``limit`` rows; a larger result raises
    :class:`LimitExceeded` (422 over HTTP) instead of being cut."""
    rows = df.limit(limit + 1).collect()
    if len(rows) > limit:
        raise LimitExceeded(f"more than {limit} {what}")
    return rows


class QueryTimeout(Exception):
    """Per-query wall-clock deadline exceeded (the reference engine's
    Timeout=2 min, api/promql/engine.go:39-40)."""


def run_with_timeout(spark, fn, timeout_ms: int | None, desc: str = "promql"):
    """Run ``fn`` (a driver-side materialization) under a wall-clock
    deadline, killing its Spark jobs on expiry.

    The work is tagged with a per-call job group (``interruptOnCancel``
    so running tasks are interrupted, the analogue of the reference's
    context cancellation); a watchdog thread cancels the group at the
    deadline and keeps re-cancelling until ``fn`` returns, so jobs
    submitted after the first cancel don't slip through. Like upstream's
    context deadline, expiry raises :class:`QueryTimeout` even if a
    result arrived late.
    """
    if not timeout_ms:
        return fn()
    import threading
    import uuid

    sc = spark.sparkContext
    gid = f"sq-query-{uuid.uuid4().hex}"
    done = threading.Event()
    expired = threading.Event()

    def watchdog():
        if done.wait(timeout_ms / 1000.0):
            return
        expired.set()
        while not done.is_set():
            try:
                sc.cancelJobGroup(gid)
            except Exception:  # pragma: no cover - JVM teardown race
                pass
            done.wait(0.05)

    sc.setJobGroup(gid, desc, interruptOnCancel=True)
    t = threading.Thread(target=watchdog, daemon=True)
    t.start()
    try:
        result = fn()
    except Exception:
        if expired.is_set():
            raise QueryTimeout(
                f"query execution exceeded {timeout_ms} ms"
            ) from None
        raise
    finally:
        done.set()
        try:
            sc.setLocalProperty("spark.jobGroup.id", None)
        except Exception:  # pragma: no cover
            pass
    if expired.is_set():
        raise QueryTimeout(f"query execution exceeded {timeout_ms} ms")
    return result


@dataclass
class RequestOptions:
    """Per-request knobs, the reference's HTTP headers (types/types.go:171-195)."""

    tenant: str | None = None             # X-SquirrelDB-Tenant
    forced_matchers: dict[str, str] = field(default_factory=dict)  # X-...-Forced-Matcher
    max_evaluated_series: int | None = None
    max_evaluated_points: int | None = None
    force_raw: bool = False               # X-SquirrelDB-ForceRaw
    force_pre_aggregated: bool = False    # X-SquirrelDB-ForcePreAggregated


def clamp_time(ts_ms: int) -> int:
    return max(MIN_TS_MS, min(MAX_TS_MS, ts_ms))


class PromAPI:
    """The /api/v1 endpoint set over a points DataFrame.

    ``points`` columns: ``(*label_cols, ts, value)`` (+ optional ``tenant``).
    ``mutable_mapping`` is the mutable-label mapping as driver-side rows
    (:mod:`squirreldb_spark.tsdb.mutable`).
    """

    def __init__(
        self,
        points: DataFrame,
        label_cols: tuple[str, ...] = ("user_id", "event_type"),
        name_label: str = "event_type",
        lookback_ms: int = 300_000,
        tenant_col: str = "tenant",
        mutable_mapping: list | None = None,
        downsample: DataFrame | None = None,
        preagg_resolution_ms: int = 300_000,
        preagg_until_ms: int | None = None,
        labels_map_col: str | None = None,
        max_samples: int | None = None,
        rows_bound: int | None = None,
    ):
        self.points = points
        self.label_cols = tuple(label_cols)
        self.name_label = name_label
        self.lookback_ms = lookback_ms
        self.tenant_col = tenant_col
        self.mutable_mapping = mutable_mapping
        # A15-A17: optional pre-aggregate table + the raw/pre-agg routing
        # cutoff, handed through to every engine the endpoints build
        self.downsample = downsample
        self.preagg_resolution_ms = preagg_resolution_ms
        self.preagg_until_ms = preagg_until_ms
        # dynamic label model: per-series label sets in a map column
        # (promql.planner promotes referenced names per query)
        self.labels_map_col = labels_map_col
        #: always-on total-sample budget (the reference engine's
        #: MaxSamples=50M, api/promql/engine.go:39-41); None = unlimited
        self.max_samples = max_samples
        #: an upper bound on ``points``' rows (None = unknown), e.g. the
        #: PointStore snapshot's; it lets :meth:`_guard` skip its count
        self.rows_bound = rows_bound

    # ------------------------------------------------------------ internals

    def _scoped(self, opts: RequestOptions | None,
                df: DataFrame | None = None) -> DataFrame:
        """Apply the implicit per-request matchers (tenant + forced)."""
        pts = self.points if df is None else df
        if opts is None:
            return pts
        if opts.tenant is not None:
            if self.tenant_col in pts.columns:
                pts = pts.filter(F.col(self.tenant_col) == opts.tenant)
            elif self.labels_map_col is not None:
                # dynamic-label store: the tenant is a label inside the
                # map (the reference injects __account_id at write,
                # api/remotestorage/write.go:80-170)
                pts = pts.filter(
                    F.element_at(
                        F.col(self.labels_map_col), F.lit(self.tenant_col)
                    )
                    == opts.tenant
                )
            else:
                raise ValueError("points have no tenant column")
        for name, value in opts.forced_matchers.items():
            if name in pts.columns:
                pts = pts.filter(F.col(name).cast("string") == value)
            elif self.labels_map_col is not None:
                pts = pts.filter(
                    F.element_at(F.col(self.labels_map_col), F.lit(name))
                    == value
                )
            else:
                raise ValueError(f"unknown forced matcher label {name!r}")
        return pts

    def _guard(self, scanned: DataFrame,
               opts: RequestOptions | None) -> None:
        """A25/A26 series/points limits plus the engine sample budget
        (``max_samples``), counted on the relation the query reads
        (:attr:`PromQLEngine.scanned`: tenant-scoped, time-bounded to the
        AST's own sample window and partition-pruned).

        The sample limits (``max_samples``, ``max_evaluated_points``) take
        one exact scanned-rows count — unless :attr:`rows_bound` is at
        most every one of them: ``scanned`` is a filter of ``points``, so
        it cannot exceed a limit its whole relation stays under, and no
        count runs (upstream counts while loading and pays no separate
        pass either). The series limit takes a distinct count, only when
        its header is sent."""
        max_points = opts.max_evaluated_points if opts else None
        max_series = opts.max_evaluated_series if opts else None
        budgets = [b for b in (self.max_samples, max_points) if b is not None]
        if budgets and (self.rows_bound is None
                        or self.rows_bound > min(budgets)):
            n = scanned.count()
            if self.max_samples is not None and n > self.max_samples:
                raise LimitExceeded(
                    f"{n} samples > engine budget max_samples={self.max_samples}"
                )
            if max_points is not None and n > max_points:
                raise LimitExceeded(
                    f"{n} points > max_evaluated_points={max_points}"
                )
        if max_series is not None:
            if self.label_cols:
                ident = scanned.select(*self.label_cols)
            elif "__series__" in scanned.columns:
                # dynamic-label store: the canonical map IS the identity
                ident = scanned.select("__series__")
            else:
                ident = scanned
            n = ident.distinct().count()
            if n > max_series:
                raise LimitExceeded(
                    f"{n} series > max_evaluated_series={max_series}"
                )

    def _engine(self, start_ms: int, end_ms: int, step_ms: int,
                opts: RequestOptions | None) -> PromQLEngine:
        start_ms, end_ms = clamp_time(start_ms), clamp_time(end_ms)
        pts = self._scoped(opts)
        ds = self.downsample
        if ds is not None:
            ds = self._scoped(opts, ds)
        return PromQLEngine(
            pts, label_cols=self.label_cols, name_label=self.name_label,
            step_ms=step_ms, lookback_ms=self.lookback_ms,
            start_ms=start_ms, end_ms=end_ms,
            mutable_mapping=self.mutable_mapping,
            tenant=(opts.tenant if opts and opts.tenant else ""),
            downsample=ds,
            preagg_resolution_ms=self.preagg_resolution_ms,
            preagg_until_ms=self.preagg_until_ms,
            force_raw=bool(opts and opts.force_raw),
            force_preagg=bool(opts and opts.force_pre_aggregated),
            labels_map_col=self.labels_map_col,
        )

    def _select(self, sel: VectorSelector, start_ms: int, end_ms: int,
                opts: RequestOptions | None) -> DataFrame:
        """``sel``'s raw samples in the inclusive ``[start, end]`` of the
        tenant-scoped relation (:meth:`PromQLEngine.select_raw`)."""
        start_ms, end_ms = clamp_time(start_ms), clamp_time(end_ms)
        return self._engine(start_ms, end_ms, 1, opts).select_raw(
            sel, start_ms, end_ms
        )

    # ------------------------------------------------------------ endpoints

    def query_range(self, promql: str, start_ms: int, end_ms: int, step_ms: int,
                    opts: RequestOptions | None = None,
                    enrich_mutable: str | None = None) -> DataFrame:
        """/api/v1/query_range -> (labels..., step_ts, value).

        The query is parsed and time-windowed once, by the engine; the
        limits then count the windowed relation it read (:meth:`_guard`).
        ``enrich_mutable`` (A32): attach the named mutable label to result
        series via a broadcast join against the mapping.
        """
        eng = self._engine(start_ms, end_ms, step_ms, opts)
        out = eng.query_range(promql)
        self._guard(eng.scanned, opts)
        if enrich_mutable is not None:
            from squirreldb_spark.tsdb import mutable as mut

            if self.mutable_mapping is None:
                raise ValueError("no mutable mapping configured")
            out = mut.enrich(
                out, self.mutable_mapping,
                opts.tenant if opts and opts.tenant else "", enrich_mutable,
            )
        return out

    def query(self, promql: str, time_ms: int,
              opts: RequestOptions | None = None) -> DataFrame:
        """/api/v1/query (instant): a range query with a single step."""
        return self.query_range(promql, time_ms, time_ms, 1, opts)

    def series(self, matchers: list[str] | None, start_ms: int, end_ms: int,
               opts: RequestOptions | None = None) -> DataFrame:
        """/api/v1/series: the distinct label sets that ``matchers``
        selects in ``[start, end]`` (:meth:`_matching`), as one ``series``
        column of canonical sorted-JSON on a map-labelled store, or the
        ``label_cols`` of a fixed-column one. Mirrors the reference's
        early-exit "series" scan (tsdb/read.go:392-396): Catalyst stops at
        the distinct of the pruned slice — no values read.
        """
        cols = ([F.col("__series__").alias("series")]
                if self.labels_map_col is not None else list(self.label_cols))
        return self._matching(cols, matchers, start_ms, end_ms, opts).distinct()

    def _matching(self, cols: list, matchers: list[str] | None,
                  start_ms: int, end_ms: int,
                  opts: RequestOptions | None) -> DataFrame:
        """``cols`` over the raw samples that any of the ``matchers``
        selectors picks in the inclusive ``[start, end]`` (a union, as
        for repeated ``match[]`` params); with no matchers, every sample
        of the tenant-scoped relation in that range."""
        sels = ([parser.parse(m) for m in matchers] if matchers
                else [VectorSelector(None, ())])
        return functools.reduce(DataFrame.unionByName, [
            self._select(sel, start_ms, end_ms, opts).select(*cols)
            for sel in sels
        ])

    def labels(self, opts: RequestOptions | None = None,
               matchers: list[str] | None = None,
               start_ms: int = MIN_TS_MS, end_ms: int = MAX_TS_MS) -> list[str]:
        """/api/v1/labels — fixed-schema label columns (+ __name__); with
        a dynamic map column, also every label NAME of the samples
        ``matchers`` selects in ``[start, end]`` (the reference's
        label-names index scan, index.go:1903-2136). More than
        :data:`RESULT_LIMIT` names raises :class:`LimitExceeded`."""
        names = set(self.label_cols) | {"__name__"}
        if self.labels_map_col is not None:
            rows = collect_at_most(
                self._matching(
                    [F.explode(F.map_keys(F.col(self.labels_map_col)))
                     .alias("k")],
                    matchers, start_ms, end_ms, opts,
                ).distinct(),
                RESULT_LIMIT, "label names",
            )
            names |= {r.k for r in rows}
        return sorted(names)

    def label_values(self, name: str, opts: RequestOptions | None = None,
                     matchers: list[str] | None = None,
                     start_ms: int = MIN_TS_MS,
                     end_ms: int = MAX_TS_MS) -> DataFrame:
        """/api/v1/label/<name>/values over the samples ``matchers``
        selects in ``[start, end]``."""
        col = self.name_label if name == "__name__" else name
        if col in self.label_cols:
            expr = F.col(col).cast("string")
        elif self.labels_map_col is not None:
            expr = F.element_at(F.col(self.labels_map_col), F.lit(col))
        else:
            raise ValueError(f"unknown label {name!r}")
        return (
            self._matching([expr.alias("value")], matchers, start_ms,
                           end_ms, opts)
            .filter(F.col("value").isNotNull())
            .distinct()
            .orderBy("value")
        )

    # ----------------------------------------------------------- remote read

    def _read_query_slice(self, q, opts: RequestOptions | None) -> DataFrame:
        """A remote-read Query as a ``(_lbl, ts, value)`` DataFrame,
        selected like /series; ``_lbl`` is the canonical sorted-JSON label
        set."""
        sel = VectorSelector(None, tuple(
            Matcher(name, op, value) for op, name, value in q.matchers
        ))
        pts = self._select(sel, q.start_timestamp_ms, q.end_timestamp_ms, opts)
        if self.labels_map_col is not None and not self.label_cols:
            # the engine's model.series_json fingerprint of the labels map
            lbl = F.col("__series__")
        else:
            lbl = F.to_json(F.struct(*[
                F.col(c).cast("string").alias(c) for c in self.label_cols
            ]))
        return pts.select(lbl.alias("_lbl"), "ts", "value")

    def remote_read(self, body: bytes, limit: int = 100_000, *,
                    decompressed: bool = False,
                    opts: RequestOptions | None = None) -> bytes:
        """/api/v1/read SAMPLES response: snappy+prompb ReadRequest in,
        one ReadResponse out (reference api/api.go:58-61; A33/A34), each
        query selected like /series over the ``opts``-scoped relation.

        ``limit`` bounds the rows collected per query — the non-streamed
        response is a driver-side materialization by construction; a
        query matching more raises :class:`LimitExceeded` rather than
        cutting a series short (large reads should negotiate
        STREAMED_XOR_CHUNKS, :meth:`remote_read_frames`).
        ``decompressed=True`` means ``body`` is the raw protobuf (the HTTP
        layer already paid the snappy decode for response-type
        negotiation — don't pay it twice).
        """
        buf = body if decompressed else codec.snappy_decompress(body)
        results: list[list[codec.TimeSeries]] = []
        for q in codec.decode_read_request(buf):
            rows = collect_at_most(
                self._read_query_slice(q, opts).orderBy("_lbl", "ts"), limit,
                "samples in a remote read; negotiate STREAMED_XOR_CHUNKS",
            )
            results.append([
                codec.TimeSeries(labels=labels, samples=list(samples))
                for _, labels, samples in _series_groups(rows)
            ])
        return codec.encode_remote_read_response_body(results)

    def remote_read_frames(
        self,
        body: bytes,
        frame_bytes: int = 1 << 20,
        samples_per_chunk: int = 120,
        *,
        decompressed: bool = False,
        opts: RequestOptions | None = None,
    ):
        """/api/v1/read STREAMED_XOR_CHUNKS response: yields framed
        ``ChunkedReadResponse`` messages, each at most ~``frame_bytes``
        (the reference's 1 MiB ChunkedReadLimit, api/api.go:58-61;
        chunk streaming in api/promql/queryable.go:436-445). Queries are
        selected as in :meth:`remote_read`.

        Driver memory is bounded by ONE frame: rows stream through
        ``toLocalIterator`` over the ts-sorted per-series slices (one
        partition resident at a time), samples cut into XOR chunks of
        ``samples_per_chunk`` (upstream's 120), and a frame flushes as
        soon as it exceeds the budget — no per-query row limit needed.
        """
        buf = body if decompressed else codec.snappy_decompress(body)
        for qi, q in enumerate(codec.decode_read_request(buf)):
            rows = (
                self._read_query_slice(q, opts).orderBy("_lbl", "ts")
                .toLocalIterator()
            )
            frame: list[codec.ChunkedSeries] = []
            frame_size = 0
            for lbl, labels, samples in _series_groups(rows):
                while chunk := list(itertools.islice(samples, samples_per_chunk)):
                    data = codec.encode_xor_chunk(chunk)
                    xor = (chunk[0].timestamp_ms, chunk[-1].timestamp_ms,
                           codec.XOR_ENCODING, data)
                    if frame and frame[-1].labels is labels:
                        frame[-1].chunks.append(xor)
                    else:
                        frame.append(codec.ChunkedSeries(labels=labels,
                                                         chunks=[xor]))
                    frame_size += len(data) + len(lbl) + 16
                    if frame_size >= frame_bytes:
                        yield codec.frame_chunked_message(
                            codec.encode_chunked_read_response(frame, qi)
                        )
                        frame, frame_size = [], 0
            if frame:
                yield codec.frame_chunked_message(
                    codec.encode_chunked_read_response(frame, qi)
                )

    # --------------------------------------------------------- serialization

    def format_vector(self, df: DataFrame) -> dict:
        """Render an instant-query result as the Prometheus JSON body
        (``resultType: vector`` — one sample per series)."""
        rows = collect_at_most(df, RESULT_LIMIT, "samples in the result")
        label_names = [c for c in df.columns if c not in ("step_ts", "value")]
        result = [
            {
                "metric": _metric({l: str(r[l]) for l in label_names}),
                "value": [r["step_ts"] / 1000.0, str(r["value"])],
            }
            for r in rows
        ]
        return {
            "status": "success",
            "data": {"resultType": "vector", "result": result},
        }

    def format_matrix(self, df: DataFrame) -> dict:
        """Render a query_range result as the Prometheus JSON body.

        Driver-side by construction (an API response IS a collect) of at
        most :data:`RESULT_LIMIT` rows.
        """
        rows = collect_at_most(df, RESULT_LIMIT, "samples in the result")
        series: dict[tuple, dict] = {}
        label_names = [c for c in df.columns if c not in ("step_ts", "value")]
        for r in rows:
            key = tuple(str(r[l]) for l in label_names)
            entry = series.get(key)
            if entry is None:
                entry = series[key] = {
                    "metric": _metric(dict(zip(label_names, key))),
                    "values": [],
                }
            entry["values"].append([r["step_ts"] / 1000.0, str(r["value"])])
        for entry in series.values():
            entry["values"].sort(key=lambda v: v[0])
        return {
            "status": "success",
            "data": {"resultType": "matrix", "result": list(series.values())},
        }


def _metric(labels: dict[str, str]) -> dict[str, str]:
    """A result row's label columns as its Prometheus ``metric``. A
    map-labelled store's rows carry the planner's fingerprints: the
    canonical sorted-JSON ``__series__`` is unpacked into the label set,
    the promoted columns added where non-empty (a promoted column holds
    "" for a label the series lacks, Prometheus missing-label
    semantics) and the auxiliary ``__series_*`` fingerprints dropped."""
    fp = labels.pop("__series__", None)
    labels = {k: v for k, v in labels.items() if not k.startswith("__series_")}
    if fp is None:
        return labels
    metric = json.loads(fp)
    metric.update({k: v for k, v in labels.items() if v != ""})
    return metric


def _series_groups(rows):
    """``(labels JSON, labels, samples)`` per series of ``_lbl``/``ts``
    ordered ``(_lbl, ts, value)`` rows: the JSON parsed once a series,
    the samples a lazy iterator over that series' rows."""
    for lbl, group in itertools.groupby(rows, key=lambda r: r["_lbl"]):
        yield lbl, json.loads(lbl), (
            codec.Sample(r["value"], r["ts"]) for r in group)
