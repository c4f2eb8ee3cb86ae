"""End-to-end HTTP daemon tests (reference api/api.go:209-341).

A real socket is bound; the client is urllib. The write path POSTs a
snappy-compressed prompb WriteRequest exactly like a Prometheus
remote_write client, then reads the same samples back through
/api/v1/query_range, /api/v1/query, /api/v1/read, /labels,
/label/<name>/values and /series.
"""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

import pytest

from squirreldb_spark import codec
from squirreldb_spark.http_api import PromHTTPServer


def _post(url: str, body: bytes, headers: dict | None = None) -> tuple[int, bytes]:
    req = urllib.request.Request(url, data=body, method="POST")
    for k, v in (headers or {}).items():
        req.add_header(k, v)
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as ex:
        return ex.code, ex.read()


def _get(url: str, headers: dict | None = None) -> tuple[int, dict]:
    req = urllib.request.Request(url)
    for k, v in (headers or {}).items():
        req.add_header(k, v)
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as ex:
        return ex.code, json.loads(ex.read())


@pytest.fixture(scope="module")
def server(spark):
    srv = PromHTTPServer(spark, lookback_ms=300_000).start()
    yield srv
    srv.stop()


@pytest.fixture(scope="module")
def base(server):
    return f"http://127.0.0.1:{server.port}"


@pytest.fixture(scope="module")
def written(server, base):
    """POST a WriteRequest: 2 series x 3 samples, one tenant-scoped."""
    series = [
        codec.TimeSeries(
            labels={"__name__": "http_requests_total", "job": "api", "inst": "a"},
            samples=[codec.Sample(1.0, 10_000), codec.Sample(4.0, 70_000),
                     codec.Sample(9.0, 130_000)],
        ),
        codec.TimeSeries(
            labels={"__name__": "http_requests_total", "job": "api", "inst": "b"},
            samples=[codec.Sample(2.0, 10_000), codec.Sample(3.0, 70_000),
                     codec.Sample(5.0, 130_000)],
        ),
    ]
    body = codec.encode_remote_write_body(series)
    status, _ = _post(
        f"{base}/api/v1/write", body,
        {"X-SquirrelDB-Tenant": "t0", "X-SquirrelDB-TTL": "86400",
         "Content-Encoding": "snappy",
         "Content-Type": "application/x-protobuf"},
    )
    assert status == 204
    return series


def test_write_then_query_range_roundtrip(base, written):
    status, out = _get(
        f"{base}/api/v1/query_range?query=http_requests_total"
        "&start=0&end=130&step=60",
        {"X-SquirrelDB-Tenant": "t0"},
    )
    assert status == 200 and out["status"] == "success"
    assert out["data"]["resultType"] == "matrix"
    result = out["data"]["result"]
    by_inst = {e["metric"]["inst"]: e for e in result}
    assert set(by_inst) == {"a", "b"}
    assert by_inst["a"]["metric"]["__name__"] == "http_requests_total"
    assert by_inst["a"]["metric"]["job"] == "api"
    # step 60s grid at 60/120s sees samples 4.0 (ts=70s? no: lookback):
    # at step 60s the freshest sample <= 60s is ts=10s -> 1.0; at 120s
    # it's ts=70s -> 4.0
    vals_a = {int(t): float(v) for t, v in by_inst["a"]["values"]}
    assert vals_a[60] == 1.0 and vals_a[120] == 4.0


def test_tenant_isolation(base, written):
    status, out = _get(
        f"{base}/api/v1/query_range?query=http_requests_total"
        "&start=0&end=130&step=60",
        {"X-SquirrelDB-Tenant": "other"},
    )
    assert status == 200
    assert out["data"]["result"] == []


def test_instant_query_vector(base, written):
    status, out = _get(
        f"{base}/api/v1/query?query=sum(http_requests_total)&time=130",
        {"X-SquirrelDB-Tenant": "t0"},
    )
    assert status == 200
    result = out["data"]["result"]
    assert out["data"]["resultType"] == "vector"
    assert len(result) == 1
    assert float(result[0]["value"][1]) == 14.0  # 9 + 5 at t=130s


def test_rate_drops_name_over_http(base, written):
    status, out = _get(
        f"{base}/api/v1/query?query=rate(http_requests_total%5B2m%5D)&time=130",
        {"X-SquirrelDB-Tenant": "t0"},
    )
    assert status == 200
    for entry in out["data"]["result"]:
        assert "__name__" not in entry["metric"]
        assert entry["metric"]["job"] == "api"


def test_labels_and_label_values(base, written):
    status, out = _get(f"{base}/api/v1/labels")
    assert status == 200
    assert {"__name__", "job", "inst"} <= set(out["data"])
    status, out = _get(f"{base}/api/v1/label/inst/values")
    assert status == 200
    assert out["data"] == ["a", "b"]
    status, out = _get(f"{base}/api/v1/label/__name__/values")
    assert status == 200
    assert out["data"] == ["http_requests_total"]


def test_series_endpoint(base, written):
    status, out = _get(
        f"{base}/api/v1/series?match[]=http_requests_total&start=0&end=200"
    )
    assert status == 200
    insts = {d["inst"] for d in out["data"]}
    assert insts == {"a", "b"}
    assert all(d["__name__"] == "http_requests_total" for d in out["data"])


def test_remote_read_roundtrip(base, written):
    body = codec.encode_read_request(
        [codec.Query(
            start_timestamp_ms=0, end_timestamp_ms=200_000,
            matchers=[("=", "inst", "a")],
        )]
    )
    status, raw = _post(
        f"{base}/api/v1/read", codec.snappy_compress(body),
        {"Content-Encoding": "snappy",
         "Content-Type": "application/x-protobuf"},
    )
    assert status == 200
    results = codec.decode_read_response(codec.snappy_decompress(raw))
    assert len(results) == 1 and len(results[0]) == 1
    ts = results[0][0]
    assert ts.labels["inst"] == "a"
    assert [(s.value, s.timestamp_ms) for s in ts.samples] == [
        (1.0, 10_000), (4.0, 70_000), (9.0, 130_000)
    ]


def _remote_read(base: str, matchers, streamed: bool,
                 headers: dict | None = None) -> dict[str, list]:
    """POST one remote-read query; ``inst`` -> [(value, ts)] of the reply,
    from a SAMPLES or a STREAMED_XOR_CHUNKS response."""
    body = codec.encode_read_request(
        [codec.Query(start_timestamp_ms=0, end_timestamp_ms=200_000,
                     matchers=matchers)],
        accepted_response_types=[
            codec.READ_STREAMED_XOR_CHUNKS if streamed else codec.READ_SAMPLES
        ],
    )
    status, raw = _post(
        f"{base}/api/v1/read", codec.snappy_compress(body),
        {"Content-Encoding": "snappy", "Content-Type": "application/x-protobuf",
         **(headers or {})},
    )
    assert status == 200
    got: dict[str, list] = {}
    if streamed:
        for fr in codec.iter_chunked_frames(raw):
            for cs in codec.decode_chunked_read_response(fr)[0]:
                for _mn, _mx, _enc, data in cs.chunks:
                    got.setdefault(cs.labels["inst"], []).extend(
                        (s.value, s.timestamp_ms)
                        for s in codec.decode_xor_chunk(data)
                    )
    else:
        [result] = codec.decode_read_response(codec.snappy_decompress(raw))
        for ts in result:
            got[ts.labels["inst"]] = [(s.value, s.timestamp_ms) for s in ts.samples]
    return got


@pytest.mark.parametrize("streamed", [False, True])
def test_remote_read_is_tenant_scoped(base, written, streamed):
    """Remote read enforces the tenant header like /api/v1/query does:
    another tenant reads nothing, the writer's tenant reads its samples,
    and a forced matcher narrows them."""
    matchers = [("=", "__name__", "http_requests_total")]
    assert _remote_read(
        base, matchers, streamed, {"X-SquirrelDB-Tenant": "other"}
    ) == {}
    want = {
        inst: [(s.value, s.timestamp_ms) for s in ts.samples]
        for inst, ts in zip(("a", "b"), written)
    }
    assert _remote_read(
        base, matchers, streamed, {"X-SquirrelDB-Tenant": "t0"}
    ) == want
    assert _remote_read(
        base, matchers, streamed,
        {"X-SquirrelDB-Tenant": "t0", "X-SquirrelDB-Forced-Matcher": "inst=b"},
    ) == {"b": want["b"]}


def test_series_past_limit_is_rejected(spark):
    """/api/v1/series and /debug/index_dump_by_labels answer at most
    10,000 series; more is a 422, not a silently partial list."""
    SERIES_LIMIT = 10_000
    srv = PromHTTPServer(spark).start()
    try:
        b = f"http://127.0.0.1:{srv.port}"
        series = [
            codec.TimeSeries(labels={"__name__": "many", "i": str(i)},
                             samples=[codec.Sample(1.0, 1_000)])
            for i in range(SERIES_LIMIT + 1)
        ]
        status, _ = _post(
            f"{b}/api/v1/write", codec.encode_remote_write_body(series),
            {"Content-Encoding": "snappy",
             "Content-Type": "application/x-protobuf"},
        )
        assert status == 204
        status, out = _get(f"{b}/api/v1/series?match[]=many")
        assert status == 422 and out["errorType"] == "execution"
        status, out = _get(f"{b}/debug/index_dump_by_labels?match[]=many")
        assert status == 422 and out["errorType"] == "execution"
        # one series fewer is answered whole
        status, out = _get(
            f"{b}/api/v1/series?match[]=" + urllib.parse.quote('many{i!="0"}')
        )
        assert status == 200 and len(out["data"]) == SERIES_LIMIT
    finally:
        srv.stop()


def test_remote_read_streamed_chunks(spark):
    """Negotiating STREAMED_XOR_CHUNKS returns MULTIPLE framed
    ChunkedReadResponse messages (uvarint + crc32c framing, XOR-encoded
    chunk payloads) with bounded server memory — the reference's
    streamed read path (api/api.go:58-61 ChunkedReadLimit). A tiny
    frame budget forces one frame per series."""
    srv = PromHTTPServer(
        spark, lookback_ms=300_000, read_frame_bytes=16
    ).start()
    try:
        base2 = f"http://127.0.0.1:{srv.port}"
        series = [
            codec.TimeSeries(
                labels={"__name__": "stream_metric", "inst": f"i{j}"},
                # ts > 0: a sample at 0 is invalid and dropped at write
                samples=[
                    codec.Sample(float(j * 100 + k), 1_000 * (k + 1))
                    for k in range(10)
                ],
            )
            for j in range(3)
        ]
        status, _ = _post(
            f"{base2}/api/v1/write",
            codec.encode_remote_write_body(series),
            {"Content-Encoding": "snappy",
             "Content-Type": "application/x-protobuf"},
        )
        assert status == 204
        body = codec.encode_read_request(
            [codec.Query(
                start_timestamp_ms=0, end_timestamp_ms=1_000_000,
                matchers=[("=", "__name__", "stream_metric")],
            )],
            accepted_response_types=[codec.READ_STREAMED_XOR_CHUNKS],
        )
        req = urllib.request.Request(
            f"{base2}/api/v1/read",
            data=codec.snappy_compress(body), method="POST",
            headers={"Content-Encoding": "snappy",
                     "Content-Type": "application/x-protobuf"},
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith(
                "application/x-streamed-protobuf"
            )
            # the stream is NOT snappy-compressed (chunks already are)
            assert resp.headers.get("Content-Encoding") is None
            raw = resp.read()
        frames = list(codec.iter_chunked_frames(raw))
        assert len(frames) >= 3, "expected one frame per series"
        got: dict[str, list] = {}
        for fr in frames:
            chunked, qi = codec.decode_chunked_read_response(fr)
            assert qi == 0
            for cs in chunked:
                assert cs.labels["__name__"] == "stream_metric"
                for mn, mx, enc, data in cs.chunks:
                    assert enc == codec.XOR_ENCODING
                    smp = codec.decode_xor_chunk(data)
                    assert mn == smp[0].timestamp_ms
                    assert mx == smp[-1].timestamp_ms
                    got.setdefault(cs.labels["inst"], []).extend(
                        (s.value, s.timestamp_ms) for s in smp
                    )
        assert got == {
            f"i{j}": [(float(j * 100 + k), 1_000 * (k + 1)) for k in range(10)]
            for j in range(3)
        }
    finally:
        srv.stop()


def test_forced_matcher_header(base, written):
    status, out = _get(
        f"{base}/api/v1/query?query=http_requests_total&time=130",
        {"X-SquirrelDB-Tenant": "t0",
         "X-SquirrelDB-Forced-Matcher": "inst=a"},
    )
    assert status == 200
    metrics = [e["metric"] for e in out["data"]["result"]]
    assert len(metrics) == 1 and metrics[0]["inst"] == "a"


def test_query_timeout_returns_prometheus_error_shape(spark):
    """A pathological query is killed at the engine deadline and the
    client sees the upstream error shape (503, errorType "timeout") —
    the reference engine's Timeout=2 min (api/promql/engine.go:39-40).
    query_timeout_ms=1 guarantees expiry before any Spark job finishes."""
    srv = PromHTTPServer(spark, lookback_ms=300_000, query_timeout_ms=1).start()
    try:
        b = f"http://127.0.0.1:{srv.port}"
        series = [codec.TimeSeries(
            labels={"__name__": "m"},
            samples=[codec.Sample(1.0, 10_000)],
        )]
        status, _ = _post(
            f"{b}/api/v1/write", codec.encode_remote_write_body(series),
            {"Content-Encoding": "snappy",
             "Content-Type": "application/x-protobuf"},
        )
        assert status == 204
        # a wide 1s-step subquery: hours of grid x range join if unkilled
        status, out = _get(
            f"{b}/api/v1/query?query=sum_over_time(m%5B360000s%3A1s%5D)&time=130"
        )
        assert status == 503
        assert out["errorType"] == "timeout"
        # the per-request timeout param may SHORTEN but never extend:
        # still 503 even though the client asked for 600s
        status, out = _get(f"{b}/api/v1/query?query=m&time=130&timeout=600")
        assert status == 503 and out["errorType"] == "timeout"
    finally:
        srv.stop()


def test_metadata_reads_run_under_the_query_timeout(spark):
    """/series, /labels, label values and the index dumps that select
    series are killed at the engine deadline like /query:
    query_timeout_ms=1 expires before any of their Spark jobs finishes."""
    srv = PromHTTPServer(spark, query_timeout_ms=1).start()
    try:
        b = f"http://127.0.0.1:{srv.port}"
        series = [codec.TimeSeries(labels={"__name__": "m", "job": "a"},
                                   samples=[codec.Sample(1.0, 10_000)])]
        status, _ = _post(
            f"{b}/api/v1/write", codec.encode_remote_write_body(series),
            {"Content-Encoding": "snappy",
             "Content-Type": "application/x-protobuf"},
        )
        assert status == 204
        for path in ("/api/v1/series?match[]=m", "/api/v1/labels",
                     "/api/v1/label/job/values", "/debug/index_dump",
                     "/debug/index_dump_by_labels?match[]=m",
                     "/debug/index_dump_by_shard?date=1970-01-01"):
            status, out = _get(f"{b}{path}")
            assert status == 503 and out["errorType"] == "timeout", path
    finally:
        srv.stop()


def test_sample_budget_returns_422(spark):
    """The engine MaxSamples analog (50M upstream) trips with no
    per-request headers at all."""
    srv = PromHTTPServer(spark, lookback_ms=300_000, max_samples=2).start()
    try:
        b = f"http://127.0.0.1:{srv.port}"
        series = [codec.TimeSeries(
            labels={"__name__": "m"},
            samples=[codec.Sample(float(k), 10_000 * k) for k in range(1, 8)],
        )]
        status, _ = _post(
            f"{b}/api/v1/write", codec.encode_remote_write_body(series),
            {"Content-Encoding": "snappy",
             "Content-Type": "application/x-protobuf"},
        )
        assert status == 204
        status, out = _get(f"{b}/api/v1/query_range?query=m&start=0&end=130&step=10")
        assert status == 422
        assert out["errorType"] == "execution"
        assert "max_samples" in out["error"]
    finally:
        srv.stop()


def test_limit_header_yields_422(base, written):
    status, out = _get(
        f"{base}/api/v1/query_range?query=http_requests_total"
        "&start=0&end=130&step=60",
        {"X-SquirrelDB-Tenant": "t0",
         "X-SquirrelDB-Max-Evaluated-Series": "1"},
    )
    assert status == 422
    assert out["errorType"] == "execution"


def test_bad_query_yields_400(base, written):
    status, out = _get(f"{base}/api/v1/query?query=rate(oops&time=100")
    assert status == 400
    assert out["status"] == "error"


def test_unknown_endpoint_404(base):
    status, out = _get(f"{base}/api/v1/nope")
    assert status == 404


# ------------------------------------------------- mutable label management


def test_mutable_label_management_write_then_query(base, written):
    """POST /mutable/names + /mutable/values, then a query with the
    mutable matcher resolves through the rewrite (A31) — and DELETE
    makes the next query fail to resolve it again (cache invalidated)."""
    body = json.dumps(
        [{"tenant": "t0", "name": "group", "associated_name": "inst"}]
    ).encode()
    status, _ = _post(f"{base}/mutable/names", body)
    assert status == 204
    body = json.dumps(
        [{"tenant": "t0", "name": "group", "value": "g1",
          "associated_values": ["a"]}]
    ).encode()
    status, _ = _post(f"{base}/mutable/values", body)
    assert status == 204

    status, out = _get(
        f'{base}/api/v1/query?query=http_requests_total%7Bgroup%3D%22g1%22%7D'
        "&time=130",
        {"X-SquirrelDB-Tenant": "t0"},
    )
    assert status == 200, out
    metrics = [e["metric"] for e in out["data"]["result"]]
    assert len(metrics) == 1 and metrics[0]["inst"] == "a"

    # DELETE the name -> the rewrite no longer applies; "group" falls
    # back to a plain (absent) label, so the matcher returns EMPTY —
    # upstream semantics for a label no series carries
    req = urllib.request.Request(
        f"{base}/mutable/names",
        data=json.dumps([{"tenant": "t0", "name": "group"}]).encode(),
        method="DELETE",
    )
    with urllib.request.urlopen(req) as resp:
        assert resp.status == 204
    status, out = _get(
        f'{base}/api/v1/query?query=http_requests_total%7Bgroup%3D%22g1%22%7D'
        "&time=130",
        {"X-SquirrelDB-Tenant": "t0"},
    )
    assert status == 200
    assert out["data"]["result"] == []


def test_write_v2_then_query_range(base, written):
    """A PRW2 (symbol-table) WriteRequest lands alongside v1 data: POST
    with the spec's proto= Content-Type parameter, read back via
    /api/v1/query_range."""
    series = [
        codec.TimeSeries(
            labels={"__name__": "prw2_metric", "job": "v2"},
            samples=[codec.Sample(11.0, 10_000), codec.Sample(12.0, 70_000)],
        ),
    ]
    body = codec.encode_remote_write_body_v2(series)
    status, _ = _post(
        f"{base}/api/v1/write", body,
        {"X-SquirrelDB-Tenant": "t0",
         "Content-Encoding": "snappy",
         "Content-Type":
             "application/x-protobuf;proto=io.prometheus.write.v2.Request"},
    )
    assert status == 204
    status, out = _get(
        f"{base}/api/v1/query_range?query=prw2_metric"
        "&start=0&end=130&step=60",
        {"X-SquirrelDB-Tenant": "t0"},
    )
    assert status == 200, out
    results = out["data"]["result"]
    assert len(results) == 1
    assert results[0]["metric"]["job"] == "v2"
    assert [v for _, v in results[0]["values"]] == ["11.0", "12.0"]


def test_otlp_write_then_query(base, written):
    """OTLP number points land through /api/v1/otlp/v1/metrics (gzip
    protobuf) and come back through the PromQL surface."""
    import gzip

    series = [
        codec.TimeSeries(
            labels={"__name__": "otlp.cpu.usage", "core": "0"},
            samples=[codec.Sample(0.25, 10_000), codec.Sample(0.75, 70_000)],
        ),
    ]
    body = gzip.compress(
        codec.encode_otlp_metrics(series, resource_attrs={"host": "h9"})
    )
    status, _ = _post(
        f"{base}/api/v1/otlp/v1/metrics", body,
        {"X-SquirrelDB-Tenant": "t0",
         "Content-Encoding": "gzip",
         "Content-Type": "application/x-protobuf"},
    )
    assert status == 200
    status, out = _get(
        f"{base}/api/v1/query_range?query=otlp_cpu_usage"
        "&start=0&end=130&step=60",
        {"X-SquirrelDB-Tenant": "t0"},
    )
    assert status == 200, out
    results = out["data"]["result"]
    assert len(results) == 1
    assert results[0]["metric"]["host"] == "h9"
    assert [v for _, v in results[0]["values"]] == ["0.25", "0.75"]


# ---------------------------------------------------- operational routes


def test_ready_and_metrics(base, written):
    status, out = _get(f"{base}/ready")
    assert status == 200 and out["status"] == "ok"
    req = urllib.request.Request(f"{base}/metrics")
    with urllib.request.urlopen(req) as resp:
        assert resp.status == 200
        # plain text body: must NOT claim a compressed encoding
        assert resp.headers.get("Content-Encoding") is None
        text = resp.read().decode()
    assert "squirreldb_ingested_samples_total" in text
    assert "squirreldb_buffered_points" in text
    # exposition-format validity: quoted label values, one # TYPE line
    # per family, every sample line parseable by a Prometheus scraper
    assert 'squirreldb_requests_total{path="/api/v1/write"}' in text
    import re

    sample_re = re.compile(
        r'^[a-zA-Z_:][a-zA-Z0-9_:]*'
        r'(\{[a-zA-Z_][a-zA-Z0-9_]*="(?:[^"\\]|\\.)*"'
        r'(,[a-zA-Z_][a-zA-Z0-9_]*="(?:[^"\\]|\\.)*")*\})? '
        r'-?[0-9.eE+]+$'
    )
    families = []
    for line in text.strip().splitlines():
        if line.startswith("# TYPE "):
            families.append(line.split()[2])
            continue
        assert sample_re.match(line), f"unparseable exposition line: {line!r}"
        # every sample belongs to the most recent TYPE'd family
        assert families and line.startswith(families[-1]), line
    assert len(families) == len(set(families)), "duplicate # TYPE family"


def test_debug_index_info_and_verify(base, written):
    status, out = _get(f"{base}/debug/index_info")
    assert status == 200
    assert out["n_points"] >= 6 and out["n_series"] >= 2
    assert "t0" in out["tenants"]
    status, out = _get(f"{base}/debug/index_verify")
    assert status == 200
    checks = out["checks"]
    assert checks["orphan_fact_series"] == 0
    assert checks["empty_dim_series"] == 0
    assert checks["n_series"] >= 2
    assert checks["n_points"] >= checks["n_series"]


def test_debug_preaggregate_and_flush(base, written):
    status, out = _get(f"{base}/debug/preaggregate?from=0&to=1000")
    assert status == 200 and out["buckets"] >= 1
    status, out = _get(f"{base}/debug/flush")
    assert status == 200 and out["points"] >= 6


def test_debug_mutable_dump(base, written):
    body = json.dumps(
        [{"tenant": "t9", "name": "grp", "value": "g1",
          "associated_values": ["a", "b"]}]
    ).encode()
    # need the name registered first
    _post(f"{base}/mutable/names", json.dumps(
        [{"tenant": "t9", "name": "grp", "associated_name": "inst"}]
    ).encode(), {"Content-Type": "application/json"})
    status, _ = _post(f"{base}/mutable/values", body,
                      {"Content-Type": "application/json"})
    assert status == 204
    status, out = _get(f"{base}/debug/mutable_dump")
    assert status == 200
    entries = [e for e in out["data"] if e["tenant"] == "t9"]
    assert entries and entries[0]["associated_values"] == ["a", "b"]


def _get_raw(url: str, headers: dict | None = None) -> tuple[int, bytes]:
    req = urllib.request.Request(url, headers=headers or {})
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as ex:
        return ex.code, ex.read()


def test_debug_help_lists_endpoints(base, written):
    status, body = _get_raw(f"{base}/debug/")
    assert status == 200
    text = body.decode()
    for ep in ("/debug/index_dump", "/debug/mutable_import",
               "/debug/toggle_debug_query"):
        assert ep in text


def test_debug_index_dump_full_and_by_labels(base, written):
    status, body = _get_raw(f"{base}/debug/index_dump")
    assert status == 200
    lines = body.decode().strip().splitlines()
    assert len(lines) >= 2
    # CSV shape: 60-bit id, canonical sorted-labels JSON
    sid, sj = lines[0].split(",", 1)
    assert int(sid) > 0 and json.loads(sj)

    import urllib.parse

    sel = urllib.parse.quote('http_requests_total{inst="a"}')
    status, body = _get_raw(
        f"{base}/debug/index_dump_by_labels?match[]={sel}"
    )
    assert status == 200
    lines = [l for l in body.decode().strip().splitlines() if l]
    assert len(lines) >= 1
    assert all(json.loads(l.split(",", 1)[1]).get("inst") == "a"
               for l in lines)


def test_debug_index_dump_by_expiration_and_shard(base, written):
    # the `written` fixture posts TTL=86400 s at ts 10-130 s epoch ->
    # every series expires on 1970-01-02
    status, body = _get_raw(
        f"{base}/debug/index_dump_by_expiration?date=1970-01-02"
    )
    assert status == 200
    assert len(body.decode().strip().splitlines()) >= 2
    status, body = _get_raw(
        f"{base}/debug/index_dump_by_expiration?date=2030-01-01"
    )
    assert status == 200 and body == b""
    # all sample timestamps fall in the 1970-01-01 date shard
    status, body = _get_raw(
        f"{base}/debug/index_dump_by_shard?date=1970-01-01"
    )
    assert status == 200
    assert len(body.decode().strip().splitlines()) >= 2
    # missing parameter -> Prometheus error shape
    status, out = _get(f"{base}/debug/index_dump_by_expiration")
    assert status == 400 and out["errorType"] == "bad_data"


def test_debug_block_not_implemented(base):
    status, body = _get_raw(f"{base}/debug/index_block")
    assert status == 501 and b"does not implement" in body


def test_debug_toggle_query_captures(base, server, written):
    status, out = _get(f"{base}/debug/toggle_debug_query")
    assert status == 200 and out["debug_query"] is True
    _get(
        f"{base}/api/v1/query?query=http_requests_total&time=130",
        {"X-SquirrelDB-Tenant": "t0"},
    )
    assert "http_requests_total" in server._debug_queries
    status, out = _get(f"{base}/debug/toggle_debug_query")
    assert status == 200 and out["debug_query"] is False


def test_debug_mutable_import_dry_run_then_force(base, server, written):
    entries = {"data": [{
        "tenant": "t7", "mutable_name": "team", "mutable_value": "core",
        "associated_name": "inst", "associated_values": ["a", "b"],
    }]}
    body = json.dumps(entries).encode()
    status, out = _post(f"{base}/debug/mutable_import", body)
    out = json.loads(out)
    assert status == 200 and out["status"] == "dry-run"
    assert not any(
        r.tenant == "t7" for r in server.mutable_store.rows()
    )
    status, out = _post(f"{base}/debug/mutable_import?force", body)
    out = json.loads(out)
    assert status == 200 and out["imported"] == 1
    # dump -> import is a round trip
    status, dump = _get(f"{base}/debug/mutable_dump")
    assert any(
        r["tenant"] == "t7" and r["associated_values"] == ["a", "b"]
        for r in dump["data"]
    )


def test_streamed_read_planning_error_yields_json_not_corrupt_stream(spark):
    """Regression: a planning error (here an invalid regex matcher) used
    to surface AFTER the 200 + streamed headers were committed, splicing
    a JSON error into the chunk stream. The first frame is now pulled
    before the headers, so the client gets a proper JSON 400."""
    srv = PromHTTPServer(spark).start()
    try:
        body = codec.encode_read_request(
            [codec.Query(
                start_timestamp_ms=0, end_timestamp_ms=1_000_000,
                matchers=[("=~", "job", "(")],
            )],
            accepted_response_types=[codec.READ_STREAMED_XOR_CHUNKS],
        )
        status, raw = _post(
            f"http://127.0.0.1:{srv.port}/api/v1/read",
            codec.snappy_compress(body),
            {"Content-Encoding": "snappy",
             "Content-Type": "application/x-protobuf"},
        )
        assert status == 400
        out = json.loads(raw)
        assert out["status"] == "error" and out["errorType"] == "bad_data"
    finally:
        srv.stop()


def test_remote_read_negotiation_prefers_first_accepted(base, written):
    """Regression: a client listing [SAMPLES, STREAMED] prefers SAMPLES;
    the server must honor the ORDER, not just membership."""
    body = codec.encode_read_request(
        [codec.Query(
            start_timestamp_ms=0, end_timestamp_ms=1_000_000,
            matchers=[("=", "__name__", "http_requests_total")],
        )],
        accepted_response_types=[
            codec.READ_SAMPLES, codec.READ_STREAMED_XOR_CHUNKS
        ],
    )
    req = urllib.request.Request(
        f"{base}/api/v1/read",
        data=codec.snappy_compress(body), method="POST",
        headers={"Content-Encoding": "snappy",
                 "Content-Type": "application/x-protobuf",
                 "X-SquirrelDB-Tenant": "t0"},
    )
    with urllib.request.urlopen(req) as resp:
        assert resp.status == 200
        # the plain (non-streamed) protobuf response
        assert resp.headers["Content-Type"] == "application/x-protobuf"
        raw = resp.read()
    results = codec.decode_read_response(codec.snappy_decompress(raw))
    assert results and results[0]


def test_instant_query_defaults_time_to_now(base, written):
    status, out = _get(
        f"{base}/api/v1/query?query=http_requests_total",
        {"X-SquirrelDB-Tenant": "t0"},
    )
    # valid per the upstream API (time optional); samples are ancient so
    # the result is empty, but the request must succeed
    assert status == 200 and out["status"] == "success"


def test_series_selection_without_match_gives_upstreams_error(base, written):
    """/series and the by-labels dump need a match[] param; without one
    they answer upstream's bad_data error (web/api/v1), not a parse
    error of a default selector."""
    for path in ("/api/v1/series", "/debug/index_dump_by_labels"):
        status, out = _get(f"{base}{path}?start=0&end=200")
        assert status == 400, path
        assert out == {"status": "error", "errorType": "bad_data",
                       "error": "no match[] parameter provided"}, path


def test_series_union_of_repeated_match_params(base, written):
    status, out = _get(
        f"{base}/api/v1/series?match[]="
        + urllib.parse.quote('http_requests_total{inst="a"}')
        + "&match[]=" + urllib.parse.quote('http_requests_total{inst="b"}'),
        {"X-SquirrelDB-Tenant": "t0"},
    )
    assert status == 200
    insts = sorted(e["inst"] for e in out["data"])
    assert insts == ["a", "b"]


def test_rfc3339_timestamps_accepted(base, written):
    status, out = _get(
        f"{base}/api/v1/query_range?query=http_requests_total"
        "&start=1970-01-01T00:00:00Z&end=1970-01-01T00:02:10Z&step=60",
        {"X-SquirrelDB-Tenant": "t0"},
    )
    assert status == 200 and out["status"] == "success"
    assert out["data"]["result"]


def test_timeout_accepts_duration_string(base, written):
    status, out = _get(
        f"{base}/api/v1/query?query=http_requests_total&time=130&timeout=30s",
        {"X-SquirrelDB-Tenant": "t0"},
    )
    assert status == 200 and out["status"] == "success"


def test_canonical_series_json_matches_spark_to_json(spark):
    """The driver-side canonical_series_json must emit the SAME labels
    JSON as model.series_json's to_json(map) — values stringified (longs
    quoted), keys sorted, compact separators, null labels dropped: the
    expiration dump's ids come from the store's driver-side keys, the
    other dumps' from series_json, and the 60-bit ids must agree."""
    from pyspark.sql import functions as F

    from squirreldb_spark.model import canonical_series_json, series_json

    df = spark.createDataFrame(
        [({"job": "api", "shard": "7", "inst": "a"},)], "labels map<string,string>"
    )
    want = df.select(series_json(F.col("labels")).alias("s")).collect()[0]["s"]
    # column-store row shape: a long-typed label and a NULL label
    got = canonical_series_json(
        {"job": "api", "shard": 7, "inst": "a", "extra": None}
    )
    assert got == want


def test_format_query_endpoint(base):
    """Upstream formatQuery (mounted by the reference via v1.NewAPI):
    success with the prettified string; missing query -> bad_data."""
    q = urllib.parse.quote("sum by(job)  ( rate( m[5m] ) )")
    code, body = _get(f"{base}/api/v1/format_query?query={q}")
    assert code == 200 and body["status"] == "success"
    assert body["data"] == "sum by (job) (rate(m[5m]))"
    code, body = _get(f"{base}/api/v1/format_query")
    assert code == 400 and body["errorType"] == "bad_data"
    # a parse error is bad_data too
    bad = urllib.parse.quote("sum by (")
    code, body = _get(f"{base}/api/v1/format_query?query={bad}")
    assert code == 400 and body["errorType"] == "bad_data"


def test_mocked_v1_surface_matches_reference(base):
    """The reference mounts the whole upstream v1 router with mock
    retrievers (api/api.go:131-201, api/mock.go): empty scrape/rule/
    alertmanager state, errNotImplemented for exemplars and runtime/TSDB
    stats. Every route must answer with that exact shape, not 404."""
    ok = {
        "/api/v1/status/buildinfo": lambda d: d["data"]["version"] == "",
        "/api/v1/status/flags": lambda d: d["data"] is None,
        "/api/v1/status/config": lambda d: "scrape_interval" in d["data"]["yaml"],
        "/api/v1/targets": lambda d: d["data"]["activeTargets"] == [],
        "/api/v1/targets/metadata": lambda d: d["data"] == [],
        "/api/v1/metadata": lambda d: d["data"] == {},
        "/api/v1/scrape_pools": lambda d: d["data"]["scrapePools"] is None,
        "/api/v1/rules": lambda d: d["data"]["groups"] == [],
        "/api/v1/alerts": lambda d: d["data"]["alerts"] == [],
        "/api/v1/alertmanagers": lambda d: d["data"]["activeAlertmanagers"] == [],
    }
    for path, check in ok.items():
        code, body = _get(base + path)
        assert code == 200 and body["status"] == "success", (path, body)
        assert check(body), (path, body)
    for path in ("/api/v1/status/runtimeinfo", "/api/v1/status/tsdb",
                 "/api/v1/status/walreplay", "/api/v1/query_exemplars"):
        code, body = _get(base + path)
        assert code == 500, (path, code)
        assert body == {"status": "error", "errorType": "internal",
                        "error": "not implemented"}, (path, body)


def test_parse_query_endpoint(base):
    """parse_query (v3.4+): translated AST JSON in the upstream
    translate_ast.go shape."""
    q = urllib.parse.quote('sum by (job) (rate(m{env="prod"}[5m])) / scalar(n)')
    code, body = _get(f"{base}/api/v1/parse_query?query={q}")
    assert code == 200 and body["status"] == "success"
    d = body["data"]
    assert d["type"] == "binaryExpr" and d["op"] == "/"
    assert d["matching"] is None                      # scalar rhs
    agg = d["lhs"]
    assert agg["type"] == "aggregation" and agg["grouping"] == ["job"]
    call = agg["expr"]
    assert call["func"] == {"name": "rate", "argTypes": ["matrix"],
                            "variadic": 0, "returnType": "vector"}
    sel = call["args"][0]
    assert sel["type"] == "matrixSelector" and sel["range"] == 300000
    assert {"name": "__name__", "type": "=", "value": "m"} in sel["matchers"]
    assert {"name": "env", "type": "=", "value": "prod"} in sel["matchers"]
    # vector-vector default matching is one-to-one
    q2 = urllib.parse.quote("a + b")
    _, body2 = _get(f"{base}/api/v1/parse_query?query={q2}")
    assert body2["data"]["matching"] == {
        "card": "one-to-one", "labels": [], "on": False, "include": [],
    }
    code, body3 = _get(f"{base}/api/v1/parse_query?query=sum%20by%20(")
    assert code == 400 and body3["errorType"] == "bad_data"


def test_writes_after_partitioned_history_are_queryable(spark, tmp_path):
    """Remote writes after a date-partitioned history (built the
    streaming-ingest way: decode_write_stream -> validate_map ->
    write_points) are read together with it. The store serves writes in
    the history's columns, so the planner's date pruning keeps the
    written rows instead of dropping them for a null ``date``."""
    from squirreldb_spark.streaming import ingest

    labels = {"__name__": "m", "job": "node"}
    history = codec.TimeSeries(
        labels=labels,
        samples=[codec.Sample(float(k), 10_000 * k) for k in range(1, 31)],
    )
    bodies = spark.createDataFrame(
        [(bytearray(codec.encode_remote_write_body([history])),)], "body binary"
    )
    path = str(tmp_path / "history")
    ingest.write_points(
        ingest.validate_map(ingest.decode_write_stream(bodies), tenant="t1"),
        path,
    )
    srv = PromHTTPServer(spark, base_points=spark.read.parquet(path)).start()
    try:
        b = f"http://127.0.0.1:{srv.port}"
        written = codec.TimeSeries(
            labels=labels,
            samples=[codec.Sample(float(k), 10_000 * k) for k in range(31, 61)],
        )
        status, _ = _post(
            f"{b}/api/v1/write", codec.encode_remote_write_body([written]),
            {"X-SquirrelDB-Tenant": "t1", "Content-Encoding": "snappy",
             "Content-Type": "application/x-protobuf"},
        )
        assert status == 204
        tenant = {"X-SquirrelDB-Tenant": "t1"}
        q = urllib.parse.quote("count_over_time(m[10m])")
        status, out = _get(f"{b}/api/v1/query?query={q}&time=600", tenant)
        assert status == 200
        [sample] = out["data"]["result"]
        assert float(sample["value"][1]) == 60.0
        status, out = _get(
            f"{b}/api/v1/query_range?query=m&start=240&end=600&step=60", tenant
        )
        assert status == 200
        [series] = out["data"]["result"]
        assert series["metric"] == {**labels, "__account_id": "t1"}
        # 240 and 300 come from the history, 360.. from the writes
        assert [(int(t), float(v)) for t, v in series["values"]] == [
            (t, t / 10) for t in range(240, 601, 60)
        ]
    finally:
        srv.stop()


def test_series_over_partitioned_history_prunes_dates(spark, tmp_path):
    """/api/v1/series selects through the engine's time bound, so over a
    date-partitioned history (built the streaming-ingest way) its scan
    carries a ``date`` partition filter, and it stays tenant-scoped."""
    from squirreldb_spark.api import RequestOptions
    from squirreldb_spark.streaming import ingest

    labels = {"__name__": "m", "job": "node"}
    history = codec.TimeSeries(
        labels=labels,
        samples=[codec.Sample(float(k), 10_000 * k) for k in range(1, 31)],
    )
    bodies = spark.createDataFrame(
        [(bytearray(codec.encode_remote_write_body([history])),)], "body binary"
    )
    path = str(tmp_path / "history")
    ingest.write_points(
        ingest.validate_map(ingest.decode_write_stream(bodies), tenant="t1"),
        path,
    )
    srv = PromHTTPServer(spark, base_points=spark.read.parquet(path)).start()
    try:
        b = f"http://127.0.0.1:{srv.port}"
        url = f"{b}/api/v1/series?match[]=m&start=0&end=600"
        status, out = _get(url, {"X-SquirrelDB-Tenant": "t1"})
        assert status == 200
        assert out["data"] == [{**labels, "__account_id": "t1"}]
        status, out = _get(url, {"X-SquirrelDB-Tenant": "other"})
        assert status == 200 and out["data"] == []

        df = srv._api().series(["m"], 0, 600_000, RequestOptions(tenant="t1"))
        plan = df._jdf.queryExecution().executedPlan().toString()
        seg = plan[plan.index("PartitionFilters: [") + len("PartitionFilters: ["):]
        assert not seg.startswith("]") and "date" in seg[:seg.index("]")], plan
    finally:
        srv.stop()


def test_or_queries_leave_no_cached_tables(spark, base, written):
    """`or` reads its sides once, with no persist: N `or` queries through
    the daemon leave the cache manager empty after every response."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    q = urllib.parse.quote(
        'http_requests_total{inst="a"} or http_requests_total{inst="b"}'
    )
    for _ in range(3):
        status, out = _get(
            f"{base}/api/v1/query_range?query={q}&start=0&end=130&step=60",
            {"X-SquirrelDB-Tenant": "t0"},
        )
        assert status == 200
        assert {e["metric"]["inst"] for e in out["data"]["result"]} == {
            "a", "b"}
        assert cache.isEmpty()


def test_debug_index_dump_is_tenant_scoped(base, written):
    status, body = _get_raw(f"{base}/debug/index_dump",
                            {"X-SquirrelDB-Tenant": "t0"})
    lines = body.decode().splitlines()
    assert status == 200 and len(lines) >= 2
    assert all(json.loads(l.split(",", 1)[1])["__account_id"] == "t0"
               for l in lines)
    for path in ("/debug/index_dump", "/debug/index_dump_by_shard?date=1970-01-01"):
        status, body = _get_raw(f"{base}{path}",
                                {"X-SquirrelDB-Tenant": "other"})
        assert status == 200 and body == b""


@pytest.fixture(scope="module")
def many_base(spark):
    """A daemon holding 10,001 one-sample series: one past every cap."""
    srv = PromHTTPServer(spark).start()
    b = f"http://127.0.0.1:{srv.port}"
    series = [
        codec.TimeSeries(labels={"__name__": "many", "i": str(i)},
                         samples=[codec.Sample(1.0, 1_000)])
        for i in range(10_001)
    ]
    status, _ = _post(
        f"{b}/api/v1/write", codec.encode_remote_write_body(series),
        {"Content-Encoding": "snappy",
         "Content-Type": "application/x-protobuf"},
    )
    assert status == 204
    yield b
    srv.stop()


def test_query_result_past_limit_is_rejected(many_base):
    """A result past 10,000 rows is a 422, not an arbitrary subset."""
    status, out = _get(f"{many_base}/api/v1/query?query=many&time=2")
    assert status == 422 and out["errorType"] == "execution"
    status, out = _get(
        f"{many_base}/api/v1/query_range?query=many&start=2&end=2&step=60")
    assert status == 422 and out["errorType"] == "execution"
    # one series fewer is answered whole
    q = urllib.parse.quote('many{i!="0"}')
    status, out = _get(f"{many_base}/api/v1/query?query={q}&time=2")
    assert status == 200 and len(out["data"]["result"]) == 10_000


def test_label_reads_past_limit_are_rejected(spark, many_base):
    """Label values and label names answer at most 10,000 entries; more
    is a 422, not an uncapped collect."""
    status, out = _get(f"{many_base}/api/v1/label/i/values")
    assert status == 422 and out["errorType"] == "execution"
    status, out = _get(f"{many_base}/api/v1/label/__name__/values")
    assert status == 200 and out["data"] == ["many"]
    status, out = _get(f"{many_base}/api/v1/labels")
    assert status == 200 and set(out["data"]) == {"__name__", "i"}
    srv = PromHTTPServer(spark).start()
    try:
        b = f"http://127.0.0.1:{srv.port}"
        labels = {"__name__": "wide", **{f"l{i}": "v" for i in range(10_001)}}
        status, _ = _post(
            f"{b}/api/v1/write",
            codec.encode_remote_write_body([codec.TimeSeries(
                labels=labels, samples=[codec.Sample(1.0, 1_000)])]),
            {"Content-Encoding": "snappy",
             "Content-Type": "application/x-protobuf"},
        )
        assert status == 204
        status, out = _get(f"{b}/api/v1/labels")
        assert status == 422 and out["errorType"] == "execution"
    finally:
        srv.stop()


def test_debug_index_dump_past_limit_is_rejected(many_base):
    for path in ("/debug/index_dump", "/debug/index_dump_by_shard?date=1970-01-01"):
        status, out = _get(f"{many_base}{path}")
        assert status == 422 and out["errorType"] == "execution"



# ------------------------------------------------------------ point store

_SNAPPY = {"Content-Encoding": "snappy",
           "Content-Type": "application/x-protobuf"}


def _gauge(b: str) -> int:
    _, text = _get_raw(f"{b}/metrics")
    for line in text.decode().splitlines():
        if line.startswith("squirreldb_buffered_points "):
            return int(line.split()[1])
    raise AssertionError("no squirreldb_buffered_points line")


def _count(b: str, tenant: str = "t1") -> int:
    """Every sample of metric ``w`` through one count_over_time read."""
    q = urllib.parse.quote("sum(count_over_time(w[1h]))")
    status, out = _get(f"{b}/api/v1/query?query={q}&time=3600",
                       {"X-SquirrelDB-Tenant": tenant})
    assert status == 200, out
    return sum(int(float(r["value"][1])) for r in out["data"]["result"])


def _write_w(b: str, batch: int, n: int, ttl: str | None = None) -> None:
    """POST ``n`` samples of ``w{batch=...}`` spread over the first hour."""
    body = codec.encode_remote_write_body([codec.TimeSeries(
        labels={"__name__": "w", "batch": str(batch)},
        samples=[codec.Sample(float(k), 1_000 + 10_000 * k) for k in range(n)],
    )])
    headers = dict(_SNAPPY, **{"X-SquirrelDB-Tenant": "t1"})
    if ttl is not None:
        headers["X-SquirrelDB-TTL"] = ttl
    status, _ = _post(f"{b}/api/v1/write", body, headers)
    assert status == 204


@pytest.fixture
def store_server(spark, monkeypatch):
    from squirreldb_spark.streaming import ingest

    monkeypatch.setattr(ingest, "HEAD_SAMPLES", 40)
    srv = PromHTTPServer(spark).start()
    yield srv, f"http://127.0.0.1:{srv.port}"
    srv.stop()


def test_write_validation_matches_validate_map(spark):
    """The daemon keeps exactly the samples the streaming path keeps: a
    series without ``__name__``, empty-valued labels and a sample past
    now + 48 h are dropped, and only kept samples are counted."""
    import time

    from squirreldb_spark.streaming import ingest

    future = int(time.time() * 1000) + 49 * 3600 * 1000
    body = codec.encode_remote_write_body([
        codec.TimeSeries(labels={"__name__": "v", "job": "a", "empty": ""},
                         samples=[codec.Sample(1.0, 10_000),
                                  codec.Sample(2.0, future)]),
        codec.TimeSeries(labels={"job": "noname"},
                         samples=[codec.Sample(3.0, 10_000)]),
    ])
    srv = PromHTTPServer(spark).start()
    try:
        b = f"http://127.0.0.1:{srv.port}"
        tenant = {"X-SquirrelDB-Tenant": "t1"}
        status, _ = _post(f"{b}/api/v1/write", body, dict(_SNAPPY, **tenant))
        assert status == 204
        status, out = _get(
            f"{b}/api/v1/series?match[]=%7Bjob%3D~%22.%2B%22%7D"
            "&start=0&end=32503680000", tenant)
        assert status == 200
        assert out["data"] == [{"__name__": "v", "job": "a", "__account_id": "t1"}]
        status, out = _get(f"{b}/api/v1/query?query=v&time={future // 1000}",
                           tenant)
        assert status == 200 and out["data"]["result"] == []
        _, text = _get_raw(f"{b}/metrics")
        assert "squirreldb_ingested_samples_total 1\n" in text.decode()

        def samples(df):
            return sorted((tuple(sorted(r["labels"].items())), r["ts"], r["value"])
                          for r in df.collect())

        streamed = ingest.validate_map(
            ingest.decode_write_stream(
                spark.createDataFrame([(bytearray(body),)], "body binary")),
            tenant="t1", now_ms=int(time.time() * 1000),
        )
        assert samples(srv.store.relation()) == samples(streamed)
    finally:
        srv.stop()


def test_sustained_writes_keep_the_head_bounded(store_server):
    """Writes past several bounds flush; the head never holds more than
    the bound and a read sees every acknowledged sample exactly once."""
    srv, b = store_server
    for i in range(10):
        _write_w(b, i, 15)
        assert _gauge(b) <= 40
    assert srv.store.head_samples == 150 - 3 * 40
    assert _count(b) == 150


def test_read_overlapping_a_flush_sees_each_sample_once(store_server):
    """A relation taken before a flush, and reads running while flushes
    happen, count every acknowledged sample once."""
    from concurrent.futures import ThreadPoolExecutor

    srv, b = store_server
    _write_w(b, 0, 30)
    before = srv.store.relation()
    assert srv.store.flush() == 30
    _write_w(b, 1, 30)
    between = srv.store.relation()
    assert srv.store.flush() == 30
    assert before.count() == 30 and between.count() == 60
    _write_w(b, 2, 30)
    with ThreadPoolExecutor(max_workers=3) as ex:
        reads = [ex.submit(_count, b) for _ in range(2)]
        flushed = ex.submit(_get, f"{b}/debug/flush")
        assert [r.result(timeout=300) for r in reads] == [90, 90]
        assert flushed.result(timeout=300)[1]["points"] == 30
    assert _count(b) == 90


def test_debug_flush_empties_the_head(store_server):
    srv, b = store_server
    _write_w(b, 0, 25)
    assert _gauge(b) == 25
    status, out = _get(f"{b}/debug/flush")
    assert status == 200 and out["points"] == 25
    assert _gauge(b) == 0
    assert _count(b) == 25


def test_expiration_dump_survives_a_flush(store_server):
    srv, b = store_server
    _write_w(b, 0, 5, ttl="86400")
    _write_w(b, 1, 5)
    url = f"{b}/debug/index_dump_by_expiration?date=1970-01-02"
    _, dump = _get_raw(url)
    assert len(dump.decode().splitlines()) == 1
    _get(f"{b}/debug/flush")
    assert _get_raw(url)[1] == dump


def test_history_the_daemon_cannot_serve_is_rejected(spark):
    """A history that is not map-labelled (labels MAP<STRING,STRING>, ts,
    value) is refused when the store is made, not found on a first read
    or after a write was acknowledged."""
    from squirreldb_spark.streaming import ingest

    fixed = spark.createDataFrame(
        [(1, "m", 10_000, 1.0)], "user_id long, __name__ string, ts long, value double")
    with pytest.raises(ValueError, match="labels map<string,string>"):
        ingest.PointStore(spark, fixed)
    no_value = spark.createDataFrame(
        [({"__name__": "m"}, 10_000)], "labels map<string,string>, ts long")
    with pytest.raises(ValueError):
        PromHTTPServer(spark, base_points=no_value)


def test_stop_removes_the_flushed_parquet(spark, monkeypatch):
    import os

    from squirreldb_spark.streaming import ingest

    monkeypatch.setattr(ingest, "HEAD_SAMPLES", 10)
    srv = PromHTTPServer(spark).start()
    _write_w(f"http://127.0.0.1:{srv.port}", 0, 12)
    path = srv.store._dir
    assert path and os.listdir(path)
    srv.stop()
    assert not os.path.exists(path)


def test_concurrent_appends_lose_no_sample(spark, monkeypatch):
    """More appending threads than cores, a short switch interval and a
    small bound: every kept sample is in the relation exactly once and
    the head never passes the bound."""
    import sys
    import threading

    from squirreldb_spark.streaming import ingest

    monkeypatch.setattr(ingest, "HEAD_SAMPLES", 300)
    store = ingest.PointStore(spark)
    peak = []

    def writer(w: int) -> None:
        for i in range(20):
            store.append([codec.TimeSeries(
                labels={"__name__": "w", "writer": str(w), "i": str(i)},
                samples=[codec.Sample(1.0, 1_000 + k) for k in range(10)],
            )], "t1", 60)
            peak.append(store.head_samples)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer, args=(w,)) for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    try:
        assert max(peak) <= 300
        assert store.relation().count() == 8 * 20 * 10
        assert len(store.expiry()) == 8 * 20
    finally:
        store.stop()


# ------------------------------------------------- serving-sized reads


def _post_m(b: str, name: str, n: int) -> None:
    """POST ``n`` samples of metric ``name`` at 10 s, 20 s, ..."""
    body = codec.encode_remote_write_body([codec.TimeSeries(
        labels={"__name__": name, "job": "a"},
        samples=[codec.Sample(float(k), 10_000 * k) for k in range(1, n + 1)],
    )])
    assert _post(f"{b}/api/v1/write", body, _SNAPPY)[0] == 204


def _job_groups(monkeypatch) -> list[str]:
    """Record the job group every request sets from here on."""
    from pyspark import SparkContext

    groups: list[str] = []
    orig = SparkContext.setJobGroup

    def set_job_group(sc, gid, *a, **kw):
        groups.append(gid)
        return orig(sc, gid, *a, **kw)

    monkeypatch.setattr(SparkContext, "setJobGroup", set_job_group)
    return groups


def test_small_store_read_runs_at_most_two_jobs(spark, monkeypatch):
    """A read over a store that fits in one scan split is planned without
    AQE in one shuffle partition and skips the sample count: the whole
    read is at most two Spark jobs."""
    srv = PromHTTPServer(spark).start()
    try:
        b = f"http://127.0.0.1:{srv.port}"
        _post_m(b, "m", 30)
        groups = _job_groups(monkeypatch)
        tracker = spark.sparkContext.statusTracker()
        for q in ("sum by (job) (rate(m[1m]))", "topk(1, m)"):
            status, out = _get(f"{b}/api/v1/query_range?query="
                               f"{urllib.parse.quote(q)}&start=0&end=300&step=30")
            assert status == 200 and out["data"]["result"], q
            assert 1 <= len(tracker.getJobIdsForGroup(groups[-1])) <= 2, q
    finally:
        srv.stop()


def test_read_under_the_store_bound_runs_no_count(spark, monkeypatch):
    """The store's row bound is under the default 50M budget, so a read
    counts nothing before it runs."""
    from test_api import count_calls

    srv = PromHTTPServer(spark).start()
    try:
        b = f"http://127.0.0.1:{srv.port}"
        _post_m(b, "m", 7)
        counted = count_calls(spark, monkeypatch)
        status, out = _get(f"{b}/api/v1/query_range?query=m&start=0&end=130&step=10")
        assert status == 200 and len(out["data"]["result"][0]["values"]) == 13
        assert counted == []
    finally:
        srv.stop()


def test_store_bound_over_the_budget_keeps_the_exact_count(spark):
    """With the store's bound (10 rows) over max_samples=5, the budget is
    checked on each query's own time slice: an instant read whose 10 s
    lookback holds 2 samples passes, a range over all 10 is a 422."""
    srv = PromHTTPServer(spark, max_samples=5, lookback_ms=10_000).start()
    try:
        b = f"http://127.0.0.1:{srv.port}"
        _post_m(b, "few", 3)
        _post_m(b, "many", 7)
        assert srv.store.snapshot().rows == 10
        status, out = _get(f"{b}/api/v1/query?query=many&time=25")
        assert status == 200 and out["data"]["result"][0]["value"][1] == "2.0"
        status, out = _get(f"{b}/api/v1/query_range?query=many&start=0&end=130&step=10")
        assert status == 422 and "max_samples" in out["error"]
    finally:
        srv.stop()


def test_serving_session_leaves_the_callers_confs(spark):
    """A small store is read in the serving session (AQE off, one shuffle
    partition); the caller's session keeps AQE on and its own shuffle
    partitions after a read."""
    before = {k: spark.conf.get(k) for k in (
        "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")}
    srv = PromHTTPServer(spark).start()
    try:
        b = f"http://127.0.0.1:{srv.port}"
        _post_m(b, "m", 5)
        assert _get(f"{b}/api/v1/query?query=m&time=50")[0] == 200
        serving = srv.store.snapshot().relation.sparkSession
        assert serving is not spark
        assert serving.conf.get("spark.sql.adaptive.enabled") == "false"
        assert serving.conf.get("spark.sql.shuffle.partitions") == "1"
    finally:
        srv.stop()
    assert before == {"spark.sql.adaptive.enabled": "true",
                      "spark.sql.shuffle.partitions": "4"}
    assert {k: spark.conf.get(k) for k in before} == before


def test_store_past_one_scan_split_is_read_in_the_callers_session(spark, tmp_path):
    """A store larger than spark.sql.files.maxPartitionBytes keeps the
    caller's session (and its AQE) for reads, history and head alike."""
    from pyspark.sql import functions as F

    hist = str(tmp_path / "hist")
    spark.createDataFrame(
        [({"__name__": "h", "job": "a"}, 10_000 * k, float(k)) for k in range(1, 50)],
        "labels map<string,string>, ts long, value double",
    ).withColumn("date", F.to_date(F.timestamp_millis("ts"))).write.partitionBy(
        "date").parquet(hist)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        srv = PromHTTPServer(spark, base_points=spark.read.parquet(hist)).start()
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    try:
        b = f"http://127.0.0.1:{srv.port}"
        assert srv.store.snapshot().relation.sparkSession is spark
        _post_m(b, "m", 5)
        snap = srv.store.snapshot()
        assert snap.relation.sparkSession is spark and snap.rows == 49 + 5
        status, out = _get(f"{b}/api/v1/query?query=sum(h)%2Bsum(m)&time=50")
        assert status == 200 and out["data"]["result"][0]["value"][1] == "10.0"
    finally:
        srv.stop()


# ------------------------------------------------------- label lookups


def test_label_lookups_honour_start_end(spark):
    """/labels and label values read only the samples in [start, end]."""
    srv = PromHTTPServer(spark).start()
    try:
        b = f"http://127.0.0.1:{srv.port}"
        body = codec.encode_remote_write_body([
            codec.TimeSeries(labels={"__name__": "early", "job": "a"},
                             samples=[codec.Sample(1.0, 10_000)]),
            codec.TimeSeries(labels={"__name__": "late", "zone": "z1"},
                             samples=[codec.Sample(1.0, 500_000)]),
        ])
        assert _post(f"{b}/api/v1/write", body, _SNAPPY)[0] == 204
        status, out = _get(f"{b}/api/v1/label/__name__/values?start=0&end=200")
        assert status == 200 and out["data"] == ["early"]
        status, out = _get(f"{b}/api/v1/label/__name__/values?start=400&end=600")
        assert status == 200 and out["data"] == ["late"]
        status, out = _get(f"{b}/api/v1/labels?start=400")
        assert status == 200 and out["data"] == ["__name__", "zone"]
        status, out = _get(f"{b}/api/v1/labels?end=200")
        assert status == 200 and out["data"] == ["__name__", "job"]
        # no parameters: every sample, as before
        status, out = _get(f"{b}/api/v1/label/__name__/values")
        assert status == 200 and out["data"] == ["early", "late"]
    finally:
        srv.stop()


def test_label_lookups_honour_match(base, written):
    """``match[]`` restricts both lookups to the selected series; repeated
    params are a union."""
    q = urllib.parse.quote('http_requests_total{inst="a"}')
    status, out = _get(f"{base}/api/v1/label/inst/values?match[]={q}")
    assert status == 200 and out["data"] == ["a"]
    status, out = _get(f"{base}/api/v1/label/inst/values?match[]={q}"
                       f"&match[]=" + urllib.parse.quote('{inst="b"}'))
    assert status == 200 and out["data"] == ["a", "b"]
    status, out = _get(f"{base}/api/v1/label/inst/values?match[]=nothing_here")
    assert status == 200 and out["data"] == []
    status, out = _get(f"{base}/api/v1/labels?match[]={q}",
                       {"X-SquirrelDB-Tenant": "t0"})
    assert status == 200 and {"inst", "job", "__account_id"} <= set(out["data"])
    status, out = _get(f"{base}/api/v1/labels?match[]=nothing_here")
    assert status == 200 and out["data"] == ["__name__"]


def test_label_lookups_with_params_keep_the_cap(many_base):
    """The 10,000-entry cap holds under ``match[]`` and a time range."""
    status, out = _get(f"{many_base}/api/v1/label/i/values?match[]=many"
                       "&start=0&end=10")
    assert status == 422 and out["errorType"] == "execution"
    q = urllib.parse.quote('many{i!="0"}')
    status, out = _get(f"{many_base}/api/v1/label/i/values?match[]={q}")
    assert status == 200 and len(out["data"]) == 10_000
    status, out = _get(f"{many_base}/api/v1/label/i/values?start=5&end=10")
    assert status == 200 and out["data"] == []
