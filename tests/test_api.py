"""Endpoint-level tests for the /api/v1 façade (reference api/api.go:209-341)."""

import pytest

from squirreldb_spark.api import (
    MAX_TS_MS,
    LimitExceeded,
    PromAPI,
    RequestOptions,
    clamp_time,
)

H = 3_600_000


@pytest.fixture(scope="module")
def api(spark):
    rows = []
    for h in range(1, 25):  # hourly samples across one day, 2 tenants
        rows.append(("a", "cpu", "t1", h * H, float(h)))
        rows.append(("b", "cpu", "t2", h * H, float(h * 2)))
    pts = spark.createDataFrame(
        rows, "host string, name string, tenant string, ts long, value double"
    )
    return PromAPI(pts, label_cols=("host", "name"), name_label="name",
                   lookback_ms=2 * H)


def test_query_range_explicit_grid(api):
    out = api.query_range("cpu", start_ms=6 * H, end_ms=10 * H, step_ms=2 * H)
    steps = sorted({r.step_ts for r in out.collect()})
    assert steps == [6 * H, 8 * H, 10 * H]


def test_instant_query_single_step(api):
    out = api.query("cpu", time_ms=12 * H).collect()
    assert {r.step_ts for r in out} == {12 * H}
    got = {r.host: r.value for r in out}
    assert got == {"a": 12.0, "b": 24.0}


def test_instant_query_with_range_function(api):
    # step=1ms with a wide range must not explode the bucket join
    out = api.query("sum_over_time(cpu[6h])", time_ms=12 * H).collect()
    got = {r.host: r.value for r in out}
    # samples at 7..12 for host a -> 57; doubled for host b
    assert got == {"a": 57.0, "b": 114.0}


def test_tenant_scoping(api):
    out = api.query("cpu", time_ms=12 * H, opts=RequestOptions(tenant="t1")).collect()
    assert [r.host for r in out] == ["a"]


def test_forced_matcher(api):
    opts = RequestOptions(forced_matchers={"host": "b"})
    out = api.query("cpu", time_ms=12 * H, opts=opts).collect()
    assert [r.host for r in out] == ["b"]


def test_series_limit_trips(api):
    opts = RequestOptions(max_evaluated_series=1)
    with pytest.raises(LimitExceeded):
        api.query("cpu", time_ms=12 * H, opts=opts)


def test_points_limit_trips(api):
    opts = RequestOptions(max_evaluated_points=3)
    with pytest.raises(LimitExceeded):
        api.query_range("cpu", 1 * H, 24 * H, H, opts=opts)


def test_limits_pass_under_threshold(api):
    opts = RequestOptions(max_evaluated_series=10, max_evaluated_points=1000)
    assert api.query("cpu", time_ms=12 * H, opts=opts).count() == 2


def test_engine_sample_budget_always_on(spark):
    # the MaxSamples analog trips with NO per-request opts at all
    rows = [("a", "cpu", h * H, float(h)) for h in range(1, 25)]
    pts = spark.createDataFrame(rows, "host string, name string, ts long, value double")
    capped = PromAPI(pts, label_cols=("host", "name"), name_label="name",
                     lookback_ms=2 * H, max_samples=3)
    with pytest.raises(LimitExceeded, match="max_samples"):
        capped.query_range("cpu", 1 * H, 24 * H, H)
    roomy = PromAPI(pts, label_cols=("host", "name"), name_label="name",
                    lookback_ms=2 * H, max_samples=10_000)
    assert roomy.query("cpu", time_ms=12 * H).count() == 1


def test_run_with_timeout_kills_runaway_job(spark):
    from squirreldb_spark.api import QueryTimeout, run_with_timeout

    # a deliberately huge aggregation (minutes of CPU if left alone;
    # modulo keeps the sum inside long range under ANSI mode)
    big = spark.range(1 << 40).selectExpr("sum(id % 1000) AS s")
    import time

    t0 = time.monotonic()
    with pytest.raises(QueryTimeout):
        run_with_timeout(spark, lambda: big.collect(), timeout_ms=500)
    assert time.monotonic() - t0 < 60, "cancellation did not interrupt the job"
    # the session must stay healthy for subsequent queries
    assert spark.range(10).count() == 10


def test_run_with_timeout_passes_fast_work(spark):
    from squirreldb_spark.api import run_with_timeout

    assert run_with_timeout(
        spark, lambda: spark.range(5).count(), timeout_ms=60_000
    ) == 5


def test_series_endpoint(api):
    out = api.series(['{name="cpu"}'], 0, 48 * H).collect()
    assert sorted((r.host, r.name) for r in out) == [("a", "cpu"), ("b", "cpu")]


def test_labels_and_label_values(api):
    assert api.labels() == ["__name__", "host", "name"]
    vals = [r.value for r in api.label_values("host").collect()]
    assert vals == ["a", "b"]
    assert [r.value for r in api.label_values("__name__").collect()] == ["cpu"]
    with pytest.raises(ValueError):
        api.label_values("nope")


def test_time_clamp():
    assert clamp_time(-5) == 0
    assert clamp_time(MAX_TS_MS + 1) == MAX_TS_MS


def test_format_matrix(api):
    body = api.format_matrix(api.query_range("cpu", 6 * H, 8 * H, 2 * H))
    assert body["status"] == "success"
    assert body["data"]["resultType"] == "matrix"
    result = body["data"]["result"]
    assert len(result) == 2  # one entry per series
    a = next(e for e in result if e["metric"]["host"] == "a")
    assert a["values"] == [[21600.0, "6.0"], [28800.0, "8.0"]]


def test_api_force_routing_headers(spark):
    """A15 via request options: ForcePreAggregated serves the pre-agg
    column even when the step is finer than the resolution; ForceRaw
    wins when both are set (reference header precedence)."""
    from squirreldb_spark.api import PromAPI, RequestOptions
    from squirreldb_spark.tsdb import downsample as ds

    pts = spark.createDataFrame(
        [("a", "cpu", 1_000, 1.0), ("a", "cpu", 8_000, 5.0),
         ("a", "cpu", 12_000, 9.0)],
        "host string, name string, ts long, value double",
    )
    preagg = ds.downsample(pts, ["host", "name"], resolution_ms=10_000)
    api = PromAPI(pts, label_cols=("host", "name"), name_label="name",
                  lookback_ms=10_000, downsample=preagg,
                  preagg_resolution_ms=10_000)
    q = "max_over_time(cpu[10s])"
    # step 5s < resolution -> raw by default
    raw = api.query_range(q, 10_000, 10_000, 5_000).collect()
    assert {r.value for r in raw} == {5.0}
    forced = api.query_range(
        q, 10_000, 10_000, 5_000,
        opts=RequestOptions(force_pre_aggregated=True),
    ).collect()
    # pre-agg serves buckets at their start ts: bucket [0,10s) max=5 AND
    # bucket [10s,20s) max=9 both fall in (0,10s] -> 9.0. The coarser
    # answer is exactly what forcing pre-agg below its resolution means.
    assert {r.value for r in forced} == {9.0}
    both = api.query_range(
        q, 10_000, 10_000, 5_000,
        opts=RequestOptions(force_pre_aggregated=True, force_raw=True),
    ).collect()
    assert {r.value for r in both} == {5.0}  # ForceRaw wins
    eng = api._engine(10_000, 10_000, 5_000,
                      RequestOptions(force_pre_aggregated=True))
    assert eng._use_preagg()
    eng2 = api._engine(10_000, 10_000, 5_000,
                       RequestOptions(force_pre_aggregated=True, force_raw=True))
    assert not eng2._use_preagg()


def test_format_vector_instant(spark):
    from squirreldb_spark.api import PromAPI

    pts = spark.createDataFrame(
        [("a", "cpu", 1_000, 2.5)],
        "host string, name string, ts long, value double",
    )
    api = PromAPI(pts, label_cols=("host", "name"), name_label="name",
                  lookback_ms=10_000)
    body = api.format_vector(api.query("cpu", 5_000))
    assert body["data"]["resultType"] == "vector"
    assert body["data"]["result"][0]["metric"]["host"] == "a"
    assert body["data"]["result"][0]["value"] == [5.0, "2.5"]


def test_api_dynamic_labels_endpoints(spark):
    from squirreldb_spark.api import PromAPI

    rows = [
        ({"__name__": "cpu", "host": "a", "dc": "east"}, 10_000, 1.0),
        ({"__name__": "cpu", "host": "b"}, 20_000, 2.0),
        ({"__name__": "mem", "host": "a"}, 20_000, 3.0),
    ]
    pts = spark.createDataFrame(rows, "labels map<string,string>, ts long, value double")
    api = PromAPI(pts, label_cols=(), name_label="__name__",
                  lookback_ms=20_000, labels_map_col="labels")
    assert api.labels() == ["__name__", "dc", "host"]
    vals = [r.value for r in api.label_values("dc").collect()]
    assert vals == ["east"]
    series = {r.series for r in api.series(['{__name__="cpu"}'], 0, 30_000).collect()}
    assert series == {
        '{"__name__":"cpu","dc":"east","host":"a"}',
        '{"__name__":"cpu","host":"b"}',
    }
    # the formatter unpacks the series identity: whole label sets, no
    # planner fingerprint columns
    body = api.format_vector(api.query("cpu", 20_000))
    assert {e["metric"]["host"]: e["metric"] for e in body["data"]["result"]} == {
        "a": {"__name__": "cpu", "dc": "east", "host": "a"},
        "b": {"__name__": "cpu", "host": "b"},
    }
    out = api.query_range("sum by (host) (cpu)", 10_000, 20_000, 10_000).collect()
    got = {(r.host, r.step_ts): r.value for r in out}
    assert got[("a", 10_000)] == 1.0 and got[("b", 20_000)] == 2.0


def test_remote_write_codec_decodes_payload():
    from squirreldb_spark import codec

    body = codec.encode_remote_write_body([
        codec.TimeSeries(labels={"__name__": "up", "job": "api"},
                         samples=[codec.Sample(1.0, 1000)]),
    ])
    series = codec.decode_remote_write_body(body)
    assert series[0].labels["job"] == "api"
    assert series[0].samples[0].timestamp_ms == 1000
    with pytest.raises(ValueError):
        codec.decode_remote_write_body(b"")  # not a valid snappy body


# ------------------------------------------------- mutable labels (A31/A32)


@pytest.fixture(scope="module")
def mapi(spark):
    from squirreldb_spark.tsdb import mutable as mut

    rows = []
    for h in range(1, 25):
        for host in ("a", "b", "c"):
            rows.append((host, "cpu", "t1", h * H, float(h)))
    pts = spark.createDataFrame(
        rows, "host string, name string, tenant string, ts long, value double"
    )
    mapping = spark.createDataFrame(
        [
            ("t1", "group", "web", "host", ["a", "b"]),
            ("t1", "group", "db", "host", ["c"]),
        ],
        mut.MAPPING_SCHEMA,
    ).collect()
    return PromAPI(pts, label_cols=("host", "name"), name_label="name",
                   lookback_ms=2 * H, mutable_mapping=mapping)


def test_mutable_matcher_equality_rewrite(mapi):
    opts = RequestOptions(tenant="t1")
    out = mapi.query('cpu{group="web"}', time_ms=12 * H, opts=opts).collect()
    assert sorted(r.host for r in out) == ["a", "b"]


def test_mutable_matcher_regex_and_negation(mapi):
    opts = RequestOptions(tenant="t1")
    out = mapi.query('cpu{group=~"w.*"}', time_ms=12 * H, opts=opts).collect()
    assert sorted(r.host for r in out) == ["a", "b"]
    out = mapi.query('cpu{group!="web"}', time_ms=12 * H, opts=opts).collect()
    assert [r.host for r in out] == ["c"]


def test_mutable_matcher_no_match_is_empty(mapi):
    opts = RequestOptions(tenant="t1")
    assert mapi.query('cpu{group="nope"}', time_ms=12 * H, opts=opts).count() == 0


def test_mutable_unknown_label_still_errors(mapi):
    with pytest.raises(ValueError):
        mapi.query('cpu{bogus="x"}', time_ms=12 * H,
                   opts=RequestOptions(tenant="t1"))


def test_mutable_enrichment(mapi):
    opts = RequestOptions(tenant="t1")
    out = mapi.query_range("cpu", 12 * H, 12 * H, H, opts=opts,
                           enrich_mutable="group").collect()
    got = {r.host: r.group for r in out}
    assert got == {"a": "web", "b": "web", "c": "db"}


def test_series_endpoint_resolves_mutable_matcher(mapi):
    """Regression: /series used to build its engine without the mutable
    mapping, so a mutable matcher that worked in query_range raised."""
    opts = RequestOptions(tenant="t1")
    out = mapi.series(['cpu{group="web"}'], 0, 30 * H, opts=opts).collect()
    hosts = sorted(r.host for r in out)
    assert hosts == ["a", "b"]


def test_sample_budget_sees_long_range_selector(spark):
    """Regression: the budget guard counted only the (start - lookback,
    end] slice; a rate over a long range selector scans far more and
    must trip the same budget."""
    rows = [("a", "cpu", h * H, float(h)) for h in range(1, 25)]
    pts = spark.createDataFrame(
        rows, "host string, name string, ts long, value double"
    )
    capped = PromAPI(pts, label_cols=("host", "name"), name_label="name",
                     lookback_ms=1, max_samples=5)
    # instant query at 24h: default slice holds ~0 rows, but the 23h
    # range selector touches 23 samples > 5
    with pytest.raises(LimitExceeded, match="max_samples"):
        capped.query("rate(cpu[23h])", time_ms=24 * H)
    # a narrow selector over the same store stays under budget
    assert capped.query("rate(cpu[2h])", time_ms=24 * H).count() >= 0


def test_guarded_query_range_parses_once(spark, monkeypatch):
    """A query under every limit is parsed and time-windowed once: the
    budgets count the relation the engine's own window produced, with
    no second parse to re-derive it."""
    from squirreldb_spark.promql import parser, planner

    calls = []
    parse = parser.parse

    def counting_parse(text):
        calls.append(text)
        return parse(text)

    monkeypatch.setattr(parser, "parse", counting_parse)
    monkeypatch.setattr(planner, "parse", counting_parse)
    rows = [("a", "cpu", h * H, float(h)) for h in range(1, 25)]
    pts = spark.createDataFrame(
        rows, "host string, name string, ts long, value double"
    )
    capped = PromAPI(pts, label_cols=("host", "name"), name_label="name",
                     lookback_ms=H, max_samples=1_000)
    opts = RequestOptions(max_evaluated_series=10, max_evaluated_points=1_000)
    out = capped.query_range("rate(cpu[2h])", 12 * H, 14 * H, H, opts=opts)
    assert calls == ["rate(cpu[2h])"]
    assert out.count() == 3


def test_sample_budget_sees_at_anchored_selector_window(spark):
    """ADVICE r4: the budget guard widened @-anchored selectors by the
    default lookback only, so ``rate(m[23h] @ t)`` with ``t`` outside
    [start, end] under-counted ~23h of scanned samples.  The widening
    must use the expression's OWN window."""
    rows = [("a", "cpu", h * H, float(h)) for h in range(1, 25)]
    pts = spark.createDataFrame(
        rows, "host string, name string, ts long, value double"
    )
    capped = PromAPI(pts, label_cols=("host", "name"), name_label="name",
                     lookback_ms=1, max_samples=5)
    # query far in the future, anchored back at 24h: the selector scans
    # the 23 samples in (1h, 24h] regardless of the query time
    with pytest.raises(LimitExceeded, match="max_samples"):
        capped.query(f"rate(cpu[23h] @ {24 * 3600})", time_ms=48 * H)
    # same anchor, narrow window: under budget
    assert capped.query(
        f"rate(cpu[2h] @ {24 * 3600})", time_ms=48 * H
    ).count() >= 0


def count_calls(spark, monkeypatch) -> list:
    """Record every DataFrame.count() made from here on."""
    cls = type(spark.range(1))
    calls: list = []
    orig = cls.count

    def count(df):
        calls.append(df)
        return orig(df)

    monkeypatch.setattr(cls, "count", count)
    return calls


def test_sample_budget_skips_its_count_under_the_rows_bound(spark, monkeypatch):
    """A relation bounded at or under every sample limit cannot exceed
    one, so no count runs; a bound over any limit brings the exact count
    back, and it still trips."""
    rows = [("a", "cpu", h * H, float(h)) for h in range(1, 25)]
    pts = spark.createDataFrame(rows, "host string, name string, ts long, value double")

    def api(bound, budget):
        return PromAPI(pts, label_cols=("host", "name"), name_label="name",
                       lookback_ms=2 * H, max_samples=budget, rows_bound=bound)

    calls = count_calls(spark, monkeypatch)
    api(24, 24).query_range("cpu", 1 * H, 24 * H, H)
    api(24, 100).query("cpu", 12 * H, opts=RequestOptions(max_evaluated_points=24))
    assert calls == []
    api(25, 24).query_range("cpu", 1 * H, 24 * H, H)
    assert len(calls) == 1
    with pytest.raises(LimitExceeded, match="max_evaluated_points"):
        api(24, 100).query_range("cpu", 1 * H, 24 * H, H,
                                 opts=RequestOptions(max_evaluated_points=3))
    with pytest.raises(LimitExceeded, match="max_samples"):
        api(24, 3).query_range("cpu", 1 * H, 24 * H, H)


def _equivalence_rows():
    rows = []
    for inst in ("a", "b", "c"):
        for k in range(61):
            ts = 10_000 * k
            rows.append(({"__name__": "c", "job": "j1" if inst != "c" else "j2",
                          "instance": inst}, ts, float(k * (ord(inst) - 96))))
            rows.append(({"__name__": "g", "instance": inst}, ts,
                         float((k * 7 + ord(inst)) % 13)))
        for le, share in (("0.1", 1), ("0.5", 3), ("+Inf", 4)):
            for k in range(61):
                rows.append(({"__name__": "h_bucket", "le": le,
                              "instance": inst}, 10_000 * k, float(k * share)))
    return rows


@pytest.mark.parametrize("query", [
    "rate(c[1m])",
    "sum by (job) (rate(c[1m]))",
    "topk(2, g)",
    "quantile_over_time(0.9, g[2m])",
    "g > 6 or c",
    "histogram_quantile(0.9, sum by (le) (rate(h_bucket[2m])))",
    "max_over_time(rate(c[1m])[3m:30s] @ 400)",
])
def test_serving_session_gives_identical_rows(spark, query):
    """A serving session (AQE off, one shuffle partition) and the test
    session's plans return the same rows for every operator family the
    daemon serves."""
    from squirreldb_spark.promql import PromQLEngine
    from squirreldb_spark.session import serving_session

    serving = serving_session(spark)
    assert serving.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    def rows(session):
        pts = session.createDataFrame(
            _equivalence_rows(), "labels map<string,string>, ts long, value double")
        eng = PromQLEngine(pts, label_cols=(), name_label="__name__",
                           step_ms=30_000, lookback_ms=60_000,
                           start_ms=120_000, end_ms=600_000,
                           labels_map_col="labels")
        out = eng.query_range(query)
        assert out.sparkSession is session
        # float sums may add in another order across partitions
        return sorted(tuple(
            ("nan" if v != v else round(v, 9)) if isinstance(v, float) else v
            for v in r) for r in out.collect())

    got = rows(serving)
    assert got and got == rows(spark)
