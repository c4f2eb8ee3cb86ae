"""HTTP listener over :class:`squirreldb_spark.api.PromAPI`.

The reference is a network daemon: a router binds ``/api/v1/query``,
``/query_range``, ``/series``, ``/labels``, ``/label/<name>/values`` plus
remote read/write, with body-size limits and per-request header options
(reference api/api.go:209-341, 276-336). This module is the same daemon
shape on the Python stdlib — a threading HTTP server whose handler parses
params/headers, drives ``PromAPI``, and serializes Prometheus JSON or
prompb+snappy wire bytes. No third-party framework: ``http.server`` is
enough because every endpoint is one DataFrame program + one driver-side
serialization.

Samples live in one :class:`~squirreldb_spark.streaming.ingest.PointStore`:
the parquet history (``base_points``), the parquet it has flushed, and a
bounded in-memory head of recent writes. A remote write is validated by
the streaming path's rules and appended to the head; a full head (or
``/debug/flush``) is flushed into the streaming sink's date-partitioned
layout. Every request that reads sees ONE points relation, taken on
first use from the store in the history's columns, so a written sample
is immediately queryable and survives the planner's partition pruning
(write -> /query_range round trips over an empty store and over a
date-partitioned history are tested end-to-end in
tests/test_http_api.py). One ``PromAPI`` over that relation serves the
query and its JSON formatting. The tenant header injects the tenant as a
label at write and filters it on every read — queries, /series, label
lookups, remote read and the index dumps — mirroring the reference's
__account_id flow (api/remotestorage/write.go:80-170,
api/promql/queryable.go:153-165).

One layout, one series selection. The store holds map-labelled samples
(``labels MAP<STRING,STRING>, ts, value``), the layout the streaming
sink (:func:`~squirreldb_spark.streaming.ingest.points_sink`) writes; a
history in any other layout is refused when the server is made. Like the
reference's one queryable, every metadata read selects through
``PromAPI``: ``/series`` and the whole, by-labels and by-shard index
dumps take their rows from :meth:`PromAPI.series`, the label lookups
from :meth:`PromAPI.labels` and :meth:`PromAPI.label_values`. Query
results come back from ``PromAPI``'s formatters with each series'
labels already unpacked, so this module never sees the planner's
fingerprint columns.

Serving-sized reads. The server makes one serving session
(:func:`~squirreldb_spark.session.serving_session`: a sibling of the
caller's session on the same SparkContext, with AQE off and one shuffle
partition). A request's relation is built there while the whole store
fits in one scan split — history plus flushed parquet by Catalyst size,
plus an estimate for the head, at most the caller's
``spark.sql.files.maxPartitionBytes`` — because such a scan is one task
anyway; a larger store is read in the caller's session with its AQE.
The caller's confs are never changed. The relation also comes with an
upper bound on its rows, which lets the sample budgets skip their count
job while the whole store is under them (:meth:`PromAPI._guard`).

Headers honored (types/types.go:171-195):

* ``X-SquirrelDB-Tenant``        tenant scope (write: injected label)
* ``X-SquirrelDB-TTL``           per-write TTL seconds (kept as a per-series expiry)
* ``X-SquirrelDB-Forced-Matcher``  ``name=value`` implicit equality
* ``X-SquirrelDB-Max-Evaluated-Series`` / ``-Max-Evaluated-Points``
* ``X-SquirrelDB-ForceRaw`` / ``X-SquirrelDB-ForcePreAggregated``
"""

from __future__ import annotations

import datetime
import functools
import itertools
import json
import re
import threading
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from squirreldb_spark import codec
from squirreldb_spark.api import (
    MAX_TS_MS,
    MIN_TS_MS,
    LimitExceeded,
    PromAPI,
    QueryTimeout,
    RequestOptions,
    collect_at_most,
    run_with_timeout,
)
from squirreldb_spark.model import series_json
from squirreldb_spark.session import serving_session
from squirreldb_spark.streaming.ingest import PointStore

#: reference api/api.go: decoded request bodies are size-limited
MAX_BODY_BYTES = 32 << 20

#: most series one /api/v1/series or /debug/index_dump* answers; more
#: is a LimitExceeded (422)
SERIES_LIMIT = 10_000

_DUMPS = ("/debug/index_dump", "/debug/index_dump_by_labels",
          "/debug/index_dump_by_expiration", "/debug/index_dump_by_shard")


def _parse_time_s(raw: str) -> int:
    """Prometheus API times: float epoch seconds OR RFC3339 -> epoch ms
    (the upstream API accepts both forms)."""
    try:
        return int(float(raw) * 1000)
    except (TypeError, ValueError):
        dt = datetime.datetime.fromisoformat(raw.replace("Z", "+00:00"))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=datetime.timezone.utc)
        return int(dt.timestamp() * 1000)


def _now_ms() -> int:
    import time

    return int(time.time() * 1000)


#: Prometheus config the reference reports on /status/config: it passes
#: ``config.DefaultConfig`` to v1.NewAPI (api/api.go:138, "Only used to
#: read the external labels"), so the endpoint serves the upstream
#: defaults, not a loaded file. Mirror the recognizable default keys.
_DEFAULT_CONFIG_YAML = (
    "global:\n"
    "  scrape_interval: 1m\n"
    "  scrape_timeout: 10s\n"
    "  evaluation_interval: 1m\n"
)

#: The reference mounts the WHOLE upstream web/api/v1 router with mock
#: retrievers (api/api.go:131-201, api/mock.go): scrape/rule/alertmanager
#: state is empty, exemplars and runtime/TSDB stats return
#: errNotImplemented. Mirror each route's exact status + body shape so a
#: client migrating from the reference sees identical responses.
_NOT_IMPLEMENTED = (
    500,
    {"status": "error", "errorType": "internal", "error": "not implemented"},
)
_MOCKED_V1_ROUTES: dict[str, tuple[int, dict]] = {
    # &v1.PrometheusVersion{} -> zero-valued build info (api/api.go:186)
    "/api/v1/status/buildinfo": (200, {
        "status": "success",
        "data": {"version": "", "revision": "", "branch": "",
                 "buildUser": "", "buildDate": "", "goVersion": ""},
    }),
    # nil flagsMap (api/api.go:145-146) marshals to null
    "/api/v1/status/flags": (200, {"status": "success", "data": None}),
    "/api/v1/status/config": (200, {
        "status": "success", "data": {"yaml": _DEFAULT_CONFIG_YAML},
    }),
    # runtimeInfoFunc / mockTSDBAdminStat.{Stats,WALReplayStatus} all
    # return errNotImplemented (api/api.go:136, api/mock.go:87-95)
    "/api/v1/status/runtimeinfo": _NOT_IMPLEMENTED,
    "/api/v1/status/tsdb": _NOT_IMPLEMENTED,
    "/api/v1/status/walreplay": _NOT_IMPLEMENTED,
    # mockTargetRetriever: nil active/dropped maps (api/mock.go:56-63)
    "/api/v1/targets": (200, {
        "status": "success",
        "data": {"activeTargets": [], "droppedTargets": [],
                 "droppedTargetCounts": None},
    }),
    "/api/v1/targets/metadata": (200, {"status": "success", "data": []}),
    "/api/v1/metadata": (200, {"status": "success", "data": {}}),
    # mockScrapePoolRetriever.ScrapePools() nil (api/mock.go:49-53)
    "/api/v1/scrape_pools": (200, {
        "status": "success", "data": {"scrapePools": None},
    }),
    # mockRulesRetriever: no groups / no alerting rules (api/mock.go:99-103)
    "/api/v1/rules": (200, {"status": "success", "data": {"groups": []}}),
    "/api/v1/alerts": (200, {"status": "success", "data": {"alerts": []}}),
    # mockAlertmanagerRetriever: nil urls (api/mock.go:65-69)
    "/api/v1/alertmanagers": (200, {
        "status": "success",
        "data": {"activeAlertmanagers": [], "droppedAlertmanagers": []},
    }),
    # mockExemplarQueryable.ExemplarQuerier errors (api/mock.go:36-40)
    "/api/v1/query_exemplars": _NOT_IMPLEMENTED,
}


def _time_range(params: dict) -> tuple[int, int]:
    """The ``start``/``end`` params in epoch ms; all of time by default."""
    return (_parse_time_s(params.get("start", ["0"])[0]),
            _parse_time_s(params.get("end", ["32503680000"])[0]))


def _bad_data(error: str) -> dict:
    """The Prometheus error body of a bad request."""
    return {"status": "error", "errorType": "bad_data", "error": error}


def _dump_csv(series_jsons) -> bytes:
    """CSV lines ``series_id,labels_json`` (reference IndexDumper.Dump
    shape); the id is the engine's 60-bit md5-prefix content hash of the
    canonical labels JSON (model.py interning convention)."""
    import hashlib

    lines = []
    for sj in sorted(series_jsons):
        sid = int(hashlib.md5(sj.encode()).hexdigest()[:15], 16)
        lines.append(f"{sid},{sj}")
    return ("\n".join(lines) + "\n").encode() if lines else b""


class PromHTTPServer:
    """A live /api/v1 endpoint set over Spark.

    ``base_points`` (optional) is the history, map-labelled like the
    date-partitioned parquet the streaming ingest path writes; any other
    layout raises ``ValueError`` here. It and every remote write live in
    :attr:`store`, a :class:`PointStore` whose in-memory head is bounded
    and flushes to parquet. A reading request takes one store snapshot —
    a points relation, in the serving session while the store fits in
    one scan split, and an upper bound on its rows — and builds one
    :class:`PromAPI` over it (:meth:`_api`) that serves the query, its
    formatting and every series selection.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_points: DataFrame | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
        tenant_label: str = "__account_id",
        lookback_ms: int = 300_000,
        max_body_bytes: int = MAX_BODY_BYTES,
        read_frame_bytes: int = 1 << 20,
        query_timeout_ms: int | None = 120_000,
        max_samples: int | None = 50_000_000,
    ):
        self.spark = spark
        self.store = PointStore(spark, base_points, tenant_label,
                                serving=serving_session(spark))
        self.host = host
        self._requested_port = port
        self.tenant_label = tenant_label
        self.lookback_ms = lookback_ms
        self.max_body_bytes = max_body_bytes
        #: frame budget for streamed remote read (reference 1 MiB
        #: ChunkedReadLimit); tests shrink it to force multi-frame reads
        self.read_frame_bytes = read_frame_bytes
        #: per-query guardrails, the reference engine's Timeout=2 min and
        #: MaxSamples=50M (api/promql/engine.go:39-41)
        self.query_timeout_ms = query_timeout_ms
        self.max_samples = max_samples
        #: mutable-label management state (POST/DELETE /mutable/names,
        #: /mutable/values — reference api/api.go:230-233)
        from squirreldb_spark.tsdb.mutable import MutableLabelStore

        self.mutable_store = MutableLabelStore()
        self._lock = threading.Lock()
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        #: /debug/toggle_debug_query state + captured query strings
        #: (reference toggleDebugQueryHandler flips engine query logging)
        self.debug_query = False
        self._debug_queries: list[str] = []
        #: self-telemetry for /metrics (reference serves promhttp on
        #: /metrics, api/api.go:211): keyed (family, ((label, value),...))
        #: so the exposition can emit one # TYPE line per family with
        #: properly quoted label values
        self._counters: Counter[tuple[str, tuple[tuple[str, str], ...]]] = Counter()

    # ------------------------------------------------------------- store

    def _api(self) -> PromAPI:
        points, rows = self.store.snapshot()
        return PromAPI(
            points, label_cols=(), name_label="__name__",
            labels_map_col="labels", tenant_col=self.tenant_label,
            lookback_ms=self.lookback_ms,
            mutable_mapping=self.mutable_store.rows(),
            max_samples=self.max_samples, rows_bound=rows,
        )

    def ingest(self, series: list[codec.TimeSeries],
               tenant: str | None, ttl_s: int | None) -> int:
        """Append decoded remote-write series to the store; returns the
        samples kept."""
        n = self.store.append(series, tenant, ttl_s)
        with self._lock:
            self._counters["ingested_samples_total", ()] += n
        return n

    # --------------------------------------------------------- lifecycle

    def start(self) -> "PromHTTPServer":
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet test output
                pass

            def do_GET(self):
                server._route(self, body=b"")

            def do_POST(self):
                length = int(self.headers.get("Content-Length") or 0)
                if length > server.max_body_bytes:
                    server._send_json(self, 413, _bad_data("body too large"))
                    return
                server._route(self, body=self.rfile.read(length))

            do_DELETE = do_POST

        self._httpd = ThreadingHTTPServer(
            (self.host, self._requested_port), Handler
        )
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    @property
    def port(self) -> int:
        assert self._httpd is not None, "server not started"
        return self._httpd.server_address[1]

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
        self.store.stop()

    # ----------------------------------------------------------- routing

    @staticmethod
    def _send_json(handler, code: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        handler.send_response(code)
        handler.send_header("Content-Type", "application/json")
        handler.send_header("Content-Length", str(len(body)))
        handler.end_headers()
        handler.wfile.write(body)

    @staticmethod
    def _send_bytes(handler, code: int, body: bytes,
                    content_type: str = "application/x-protobuf",
                    encoding: str | None = "snappy") -> None:
        handler.send_response(code)
        handler.send_header("Content-Type", content_type)
        if encoding is not None:
            # only stamp Content-Encoding when the body really is
            # compressed (prompb read responses); plain text/protobuf
            # bodies must not claim snappy
            handler.send_header("Content-Encoding", encoding)
        handler.send_header("Content-Length", str(len(body)))
        handler.end_headers()
        handler.wfile.write(body)

    def _timeout_ms(self, p) -> int | None:
        """Effective per-query deadline: the Prometheus ``timeout``
        request parameter (seconds), capped by the server default —
        clients may shorten the engine timeout, never extend it."""
        raw = p("timeout")
        if raw is None:
            return self.query_timeout_ms
        try:
            ms = int(float(raw) * 1000)
        except ValueError:
            # Prometheus accepts duration strings ("30s", "1m30s")
            from squirreldb_spark.promql.parser import duration_ms

            ms = duration_ms(raw)
        if self.query_timeout_ms is not None:
            ms = min(ms, self.query_timeout_ms)
        return ms

    @staticmethod
    def _opts(handler) -> RequestOptions:
        h = handler.headers
        forced: dict[str, str] = {}
        fm = h.get("X-SquirrelDB-Forced-Matcher")
        if fm:
            name, _, value = fm.partition("=")
            forced[name.strip()] = value.strip()
        def _int(name):
            v = h.get(name)
            return int(v) if v else None
        return RequestOptions(
            tenant=h.get("X-SquirrelDB-Tenant"),
            forced_matchers=forced,
            max_evaluated_series=_int("X-SquirrelDB-Max-Evaluated-Series"),
            max_evaluated_points=_int("X-SquirrelDB-Max-Evaluated-Points"),
            force_raw=h.get("X-SquirrelDB-ForceRaw", "").lower() == "true",
            force_pre_aggregated=(
                h.get("X-SquirrelDB-ForcePreAggregated", "").lower() == "true"
            ),
        )

    def _route(self, handler, body: bytes) -> None:
        url = urlparse(handler.path)
        with self._lock:
            self._counters["requests_total", (("path", url.path),)] += 1
        params = parse_qs(url.query)
        if body and handler.headers.get("Content-Type", "").startswith(
            "application/x-www-form-urlencoded"
        ):
            params = {**parse_qs(body.decode()), **params}

        def p(name: str, default: str | None = None) -> str | None:
            vals = params.get(name)
            return vals[0] if vals else default

        # the request's one points relation and PromAPI, built on first
        # use; write requests never build it
        api = functools.cache(self._api)

        def timed(fn):
            return run_with_timeout(self.spark, fn, self._timeout_ms(p))

        def series(matchers: list[str] | None, start: int,
                   end: int) -> list[str]:
            """Canonical label-set JSON of every series ``matchers``
            selects in ``[start, end]`` (:meth:`PromAPI.series`); more
            than :data:`SERIES_LIMIT` is a :class:`LimitExceeded`."""
            rows = timed(lambda: collect_at_most(
                api().series(matchers, start, end, self._opts(handler)),
                SERIES_LIMIT, "series match",
            ))
            return [r["series"] for r in rows]

        try:
            path = url.path
            if path in ("/api/v1/write", "/api/v1/otlp/v1/metrics"):
                if path == "/api/v1/write":
                    # version negotiation per the remote-write 2.0 spec:
                    # the proto= Content-Type parameter names the message
                    # (reference allows both, api/api.go:63-66)
                    ctype = handler.headers.get("Content-Type", "")
                    proto = None
                    for part in ctype.split(";"):
                        part = part.strip()
                        if part.startswith("proto="):
                            proto = part[len("proto="):]
                    series = codec.decode_remote_write_body(body, proto=proto)
                else:
                    # OTLP metrics ingest (reference enables the handler
                    # alongside remote write, api/api.go:157-195); body is
                    # uncompressed or gzip protobuf, never snappy
                    if handler.headers.get("Content-Encoding") == "gzip":
                        import gzip

                        body = gzip.decompress(body)
                    series = codec.decode_otlp_metrics(body)
                ttl = handler.headers.get("X-SquirrelDB-TTL")
                self.ingest(
                    series,
                    handler.headers.get("X-SquirrelDB-Tenant"),
                    int(ttl) if ttl else None,
                )
                if path == "/api/v1/write":
                    handler.send_response(204)
                    handler.send_header("Content-Length", "0")
                    handler.end_headers()
                else:
                    self._send_bytes(handler, 200, b"", encoding=None)
                return
            if path == "/api/v1/read":
                # response-type negotiation (prompb ReadRequest
                # accepted_response_types; reference api/api.go:58-61):
                # the FIRST supported entry wins, per the prompb
                # negotiation contract (upstream NegotiateResponseType) —
                # a client listing [SAMPLES, STREAMED] prefers SAMPLES.
                # The body is decompressed ONCE and handed raw to the
                # chosen decoder.
                raw = codec.snappy_decompress(body)
                accepted = codec.decode_read_request_accepted_types(raw)
                supported = (
                    codec.READ_SAMPLES, codec.READ_STREAMED_XOR_CHUNKS
                )
                choice = next(
                    (t for t in accepted if t in supported),
                    codec.READ_SAMPLES,
                )
                opts = self._opts(handler)
                if choice == codec.READ_STREAMED_XOR_CHUNKS:
                    frames = api().remote_read_frames(
                        raw, frame_bytes=self.read_frame_bytes,
                        decompressed=True, opts=opts,
                    )
                    # pull the FIRST frame before committing the 200:
                    # planning/matcher errors surface here and must go
                    # out as a JSON error response, not be spliced into
                    # a half-written chunked stream
                    first = next(frames, None)
                    handler.send_response(200)
                    handler.send_header(
                        "Content-Type",
                        "application/x-streamed-protobuf; "
                        "proto=prometheus.ChunkedReadResponse",
                    )
                    # no Content-Length: the stream is delimited by
                    # connection close (HTTP/1.0 handler); frames flow
                    # as they are produced, never buffered whole
                    handler.end_headers()
                    try:
                        if first is not None:
                            handler.wfile.write(first)
                        for frame in frames:
                            handler.wfile.write(frame)
                    except Exception:
                        # headers are committed: a JSON error body would
                        # corrupt the frame stream — abort the
                        # connection so the client's CRC/length check
                        # fails cleanly (reference behaviour on a
                        # mid-stream chunk error)
                        handler.close_connection = True
                    return
                out = api().remote_read(raw, decompressed=True, opts=opts)
                self._send_bytes(handler, 200, out)
                return
            if path in ("/api/v1/query", "/api/v1/query_range"):
                opts = self._opts(handler)
                q = p("query")
                self._capture_query(q)
                if path == "/api/v1/query":
                    # `time` is optional and defaults to current server
                    # time (upstream API semantics)
                    traw = p("time")
                    t = _now_ms() if traw is None else _parse_time_s(traw)

                    def run():
                        store = api()
                        return store.format_vector(store.query(q, t, opts=opts))
                else:
                    start = _parse_time_s(p("start"))
                    end = _parse_time_s(p("end"))
                    step = int(float(p("step", "60")) * 1000)

                    def run():
                        store = api()
                        return store.format_matrix(
                            store.query_range(q, start, end, step, opts=opts))

                self._send_json(handler, 200, timed(run))
                return
            if (path in ("/api/v1/series", "/debug/index_dump_by_labels")
                    and not params.get("match[]")):
                self._send_json(handler, 400, _bad_data(
                    "no match[] parameter provided"))
                return
            if path == "/api/v1/series":
                sjs = series(params["match[]"], *_time_range(params))
                self._send_json(
                    handler, 200,
                    {"status": "success", "data": [json.loads(s) for s in sjs]},
                )
                return
            if path == "/api/v1/labels":
                opts = self._opts(handler)
                names = timed(lambda: api().labels(
                    opts, params.get("match[]"), *_time_range(params)))
                self._send_json(
                    handler, 200, {"status": "success", "data": names},
                )
                return
            m = re.match(r"^/api/v1/label/([^/]+)/values$", path)
            if m:
                opts = self._opts(handler)
                rows = timed(lambda: collect_at_most(
                    api().label_values(m.group(1), opts, params.get("match[]"),
                                       *_time_range(params)),
                    SERIES_LIMIT, "label values",
                ))
                self._send_json(
                    handler, 200,
                    {"status": "success",
                     "data": [r["value"] for r in rows]},
                )
                return
            if path in ("/api/v1/format_query", "/api/v1/parse_query"):
                # upstream web/api/v1 formatQuery (mounted by the
                # reference via v1.NewAPI, api/api.go:163) prettifies;
                # parse_query (v3.4+) answers the translated AST JSON
                # (web/api/v1/translate_ast.go shape). Parse failures are
                # bad_data like /query.
                from squirreldb_spark.promql.ast_json import parse_query_json
                from squirreldb_spark.promql.prettier import format_query

                q = p("query")
                if q is None:
                    self._send_json(handler, 400, _bad_data(
                        'invalid parameter "query": unknown position: '
                        "parse error: no expression found in input"))
                    return
                fn = format_query if path.endswith("format_query") else parse_query_json
                self._send_json(handler, 200, {"status": "success", "data": fn(q)})
                return
            if path in _MOCKED_V1_ROUTES:
                code, payload = _MOCKED_V1_ROUTES[path]
                self._send_json(handler, code, payload)
                return
            if path in ("/mutable/names", "/mutable/values"):
                self._mutable_route(handler, path, body)
                return
            if path == "/ready":
                self._send_json(handler, 200, {"status": "ok"})
                return
            if path == "/metrics":
                # Prometheus text exposition of the daemon's own counters:
                # one # TYPE line per family, label values quoted/escaped
                # per the exposition format (a real scraper must parse it)
                def esc(v: str) -> str:
                    return (
                        v.replace("\\", "\\\\")
                        .replace('"', '\\"')
                        .replace("\n", "\\n")
                    )

                with self._lock:
                    counters = sorted(self._counters.items())
                lines: list[str] = []
                for family, group in itertools.groupby(
                    counters, key=lambda kv: kv[0][0]
                ):
                    lines.append(f"# TYPE squirreldb_{family} counter")
                    for (_, labels), n in group:
                        lbl = ",".join(f'{k}="{esc(v)}"' for k, v in labels)
                        lines.append(f"squirreldb_{family}{{{lbl}}} {n}"
                                     if lbl else f"squirreldb_{family} {n}")
                # the gauge reports the store's in-memory head only
                lines.append("# TYPE squirreldb_buffered_points gauge")
                lines.append(
                    f"squirreldb_buffered_points {self.store.head_samples}")
                self._send_bytes(
                    handler, 200, ("\n".join(lines) + "\n").encode(),
                    content_type="text/plain; version=0.0.4",
                    encoding=None,
                )
                return
            if path == "/debug/index_info":
                pts = api().points
                info = pts.agg(
                    F.count(F.lit(1)).alias("n_points"),
                    F.countDistinct(series_json(F.col("labels"))).alias("n_series"),
                ).collect()[0]
                tenants = [
                    r[0] for r in pts.select(
                        F.col("labels")[self.tenant_label]
                    ).distinct().collect() if r[0] is not None
                ]
                self._send_json(
                    handler, 200,
                    {"n_points": info["n_points"],
                     "n_series": info["n_series"],
                     "tenants": sorted(tenants)},
                )
                return
            if path == "/debug/index_verify":
                # A40 over the daemon store: fact label-sets vs the
                # interned fingerprint dimension (reference
                # /debug/index_verify, cassandra/index/verify.go)
                from squirreldb_spark.tsdb.maintenance import verify_index

                pts = api().points.withColumn(
                    "__series__", series_json(F.col("labels"))
                )
                dim = pts.select("__series__").distinct()
                rows = verify_index(pts, dim, ["__series__"]).collect()
                self._send_json(
                    handler, 200,
                    {"checks": {r["check"]: r["n"] for r in rows}},
                )
                return
            if path == "/debug/preaggregate":
                # A36 forced pre-aggregation over [from, to]
                from squirreldb_spark.tsdb.downsample import downsample_map

                lo = _parse_time_s(p("from", "0"))
                hi = _parse_time_s(p("to", str(1 << 40)))
                pts = api().points.filter(
                    (F.col("ts") >= lo) & (F.col("ts") < hi)
                )
                n = downsample_map(pts).count()
                self._send_json(
                    handler, 200, {"status": "ok", "buckets": n}
                )
                return
            if path == "/debug/flush":
                # the reference flushes its temporary store here: the
                # head goes out as parquet
                self._send_json(
                    handler, 200, {"status": "ok", "points": self.store.flush()}
                )
                return
            if path == "/debug/mutable_dump":
                self._send_json(
                    handler, 200,
                    {"data": [r.asDict() for r in self.mutable_store.rows()]},
                )
                return
            if path == "/debug/mutable_import":
                # reference api/api.go:640-657: dry-run by default, apply
                # with ?force; the body is the /debug/mutable_dump shape,
                # so dump -> import is a round trip
                payload = json.loads(body.decode() or "{}")
                entries = payload.get("data", [])
                # a bare ?force (no value) is dropped by the default
                # parse_qs; mirror the reference's presence check
                force = "force" in parse_qs(url.query, keep_blank_values=True)
                if not force:
                    self._send_json(
                        handler, 200,
                        {"status": "dry-run", "would_import": len(entries),
                         "note": "add ?force to apply"},
                    )
                    return
                for e in entries:
                    self.mutable_store.set_name(
                        e["tenant"], e["mutable_name"], e["associated_name"]
                    )
                    self.mutable_store.set_values(
                        e["tenant"], e["mutable_name"], e["mutable_value"],
                        e["associated_values"],
                    )
                self._send_json(
                    handler, 200, {"status": "ok", "imported": len(entries)}
                )
                return
            if path in ("/debug", "/debug/"):
                # reference debugHelpHandler: plain-text endpoint listing
                lines = [
                    "/debug/index_info", "/debug/index_verify", *_DUMPS,
                    "/debug/index_block (501: n/a by design)",
                    "/debug/index_unblock (501: n/a by design)",
                    "/debug/toggle_debug_query", "/debug/preaggregate",
                    "/debug/flush", "/debug/mutable_dump",
                    "/debug/mutable_import",
                ]
                self._send_bytes(
                    handler, 200, ("\n".join(lines) + "\n").encode(),
                    content_type="text/plain; charset=utf-8", encoding=None,
                )
                return
            if path in _DUMPS:
                # A40: id -> labels dumps as CSV lines, like the reference
                # IndexDumper.Dump (cassandra/index/verify.go)
                date = p("date")
                if path.endswith(("_expiration", "_shard")) and not date:
                    raise ValueError('expect one parameter "date"')
                if path == "/debug/index_dump":
                    sjs = series(None, MIN_TS_MS, MAX_TS_MS)
                elif path == "/debug/index_dump_by_labels":
                    # matcher-restricted (reference indexDumpByLabels):
                    # the /api/v1/series selection
                    sjs = series(params["match[]"], *_time_range(params))
                elif path == "/debug/index_dump_by_expiration":
                    # reference: ids expiring on ?date=YYYY-MM-DD (daily
                    # expiration bitsets). Our analogue: the store's
                    # per-series max(write ts + per-write TTL).
                    sjs = [
                        sj for sj, exp in self.store.expiry().items()
                        if datetime.datetime.fromtimestamp(
                            exp, datetime.timezone.utc
                        ).strftime("%Y-%m-%d") == date
                    ]
                else:
                    # the reference's 7-day postings shard maps to our
                    # date partition (SURVEY §1.5): series active on ?date=
                    lo = int(datetime.datetime.strptime(date, "%Y-%m-%d")
                             .replace(tzinfo=datetime.timezone.utc)
                             .timestamp() * 1000)
                    sjs = series(None, lo, lo + 86_399_999)
                self._send_bytes(
                    handler, 200, _dump_csv(sjs),
                    content_type="text/csv; charset=utf-8", encoding=None,
                )
                return
            if path in ("/debug/index_block", "/debug/index_unblock"):
                # reference blocks Cassandra index writes cluster-wide
                # during maintenance; n/a by design here (no shared
                # mutable index) — mirror its not-implemented response
                self._send_bytes(
                    handler, 501,
                    b"Index does not implement Block(): "
                    b"single-writer parquet store, nothing to block\n",
                    content_type="text/plain; charset=utf-8", encoding=None,
                )
                return
            if path == "/debug/toggle_debug_query":
                self.debug_query = not self.debug_query
                self._send_json(
                    handler, 200, {"debug_query": self.debug_query}
                )
                return
            self._send_json(
                handler, 404,
                {"status": "error", "errorType": "not_found",
                 "error": f"unknown endpoint {path}"},
            )
        except QueryTimeout as ex:
            # the Prometheus timeout error shape (503 / errorType
            # "timeout"), as a client of the reference would see it
            self._send_json(
                handler, 503,
                {"status": "error", "errorType": "timeout",
                 "error": str(ex)},
            )
        except LimitExceeded as ex:
            self._send_json(
                handler, 422,
                {"status": "error", "errorType": "execution",
                 "error": str(ex)},
            )
        except Exception as ex:  # bad query/params -> Prometheus error body
            self._send_json(
                handler, 400, _bad_data(f"{type(ex).__name__}: {ex}"))

    def _capture_query(self, query: str | None) -> None:
        """When /debug/toggle_debug_query is on, keep the last 100 query
        strings (the reference logs them engine-side)."""
        if self.debug_query and query:
            with self._lock:
                self._debug_queries.append(query)
                del self._debug_queries[:-100]

    def _mutable_route(self, handler, path: str, body: bytes) -> None:
        """Mutable-label management (reference api/api.go:230-233,
        cassandra/mutable/cassandra.go:78-96): JSON arrays in, mutating
        the store; the next request reads the updated rows."""
        entries = json.loads(body.decode() or "[]")
        store = self.mutable_store
        for e in entries:
            tenant, name = e["tenant"], e["name"]
            if path.endswith("names"):
                if handler.command == "DELETE":
                    store.delete_name(tenant, name)
                else:
                    store.set_name(tenant, name, e["associated_name"])
            else:
                if handler.command == "DELETE":
                    store.delete_values(tenant, name, e["value"])
                else:
                    store.set_values(
                        tenant, name, e["value"], e["associated_values"]
                    )
        handler.send_response(204)
        handler.send_header("Content-Length", "0")
        handler.end_headers()
