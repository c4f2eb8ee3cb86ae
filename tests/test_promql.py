"""Parser and planner tests for the native PromQL engine."""

import pytest

from squirreldb_spark.promql import parse
from squirreldb_spark.promql.ast import (
    Aggregation,
    BinaryOp,
    FunctionCall,
    Matcher,
    MatrixSelector,
    NumberLiteral,
    Unary,
    VectorSelector,
)
from squirreldb_spark.promql.parser import ParseError, duration_ms


# ---------------------------------------------------------------- parser


def test_parse_selector_with_matchers():
    got = parse('http_requests{job="api", code=~"5..", env!="dev"}')
    assert got == VectorSelector(
        "http_requests",
        (
            Matcher("job", "=", "api"),
            Matcher("code", "=~", "5.."),
            Matcher("env", "!=", "dev"),
        ),
    )


def test_parse_range_and_offset():
    got = parse("rate(m[5m] offset 1h)")
    assert got == FunctionCall(
        "rate", (MatrixSelector(VectorSelector("m", (), 3_600_000), 300_000),)
    )


def test_parse_aggregation_prefix_and_postfix():
    pre = parse("sum by (job) (m)")
    post = parse("sum (m) by (job)")
    assert pre == post == Aggregation("sum", VectorSelector("m"), ("job",), False, None)


def test_parse_without():
    got = parse("avg without (instance) (m)")
    assert got == Aggregation("avg", VectorSelector("m"), ("instance",), True, None)


def test_parse_topk_param():
    got = parse("topk(3, m)")
    assert got == Aggregation("topk", VectorSelector("m"), (), False, 3.0)


def test_parse_precedence():
    # ^ binds tighter than *, * tighter than +, comparison loosest
    got = parse("a + b * c ^ 2 > d")
    assert isinstance(got, BinaryOp) and got.op == ">"
    add = got.lhs
    assert add.op == "+" and isinstance(add.lhs, VectorSelector)
    mul = add.rhs
    assert mul.op == "*"
    assert mul.rhs.op == "^"


def test_parse_pow_right_assoc():
    got = parse("a ^ b ^ c")
    assert got.op == "^" and got.rhs.op == "^"


def test_parse_vector_matching():
    got = parse("a / on(job, instance) group_left(extra) b")
    assert got.on == ("job", "instance")
    assert got.group_side == "left"
    assert got.group_labels == ("extra",)


def test_parse_bool_modifier():
    got = parse("a > bool 0")
    assert got.bool_mode and got.rhs == NumberLiteral(0.0)


def test_parse_set_ops_precedence():
    got = parse("a and b or c")
    assert got.op == "or" and got.lhs.op == "and"


def test_parse_unary():
    got = parse("-a")
    assert got == Unary("-", VectorSelector("a"))


def test_parse_subquery():
    from squirreldb_spark.promql.ast import Subquery

    got = parse("avg_over_time(sum(m)[1h:5m])")
    sub = got.args[0]
    assert isinstance(sub, Subquery)
    assert sub.range_ms == 3_600_000 and sub.step_ms == 300_000
    assert isinstance(sub.inner, Aggregation)


def test_parse_at_modifier():
    got = parse("m @ 1705276800")
    assert got == VectorSelector("m", (), 0, 1_705_276_800_000)
    got2 = parse("rate(m[5m] @ 1705276800)")
    assert got2.args[0].inner.at_ms == 1_705_276_800_000


def test_durations():
    assert duration_ms("5m") == 300_000
    assert duration_ms("14d") == 14 * 86_400_000
    assert duration_ms("1w") == 7 * 86_400_000


@pytest.mark.parametrize(
    "bad", ["{", "m[", "m[xyz]", "sum by job (m)", 'm{a=}', "m offset", "1 +"]
)
def test_parse_errors(bad):
    with pytest.raises(ParseError):
        parse(bad)


def test_ast_walk_labels_and_time_window():
    """One expression with every node kind: the label names, the sample
    window and the nodes every planner rule reads through ``walk``."""
    from squirreldb_spark.promql import ast as A
    from squirreldb_spark.promql.planner import referenced_labels, time_window

    node = parse(
        'histogram_quantile(0.9, sum without (instance) (label_join('
        'label_replace(max_over_time(rate(req{job="api"}[5m])[30m:1m]'
        ' offset 10m @ 1000), "dst", "$1", "src", "(.*)"),'
        ' "joined", "-", "a", "b")))'
        ' * on (le) group_left (extra)'
        ' -sort_by_label(avg by (pod) (up{env!="dev"} @ 2000), "pod")'
        " / ignoring (zone) up offset -1m"
    )
    # label_replace/label_join destinations are not references
    assert referenced_labels(node) == {
        "__name__", "job", "instance", "src", "a", "b", "le", "extra",
        "pod", "env", "zone",
    }
    # behind: 5m range + 30m subquery range + 10m offset; ahead: the
    # -1m offset; anchors: both absolute @ times, in walk order
    assert time_window(node, 300_000) == (2_700_000, 60_000,
                                          [1_000_000, 2_000_000])
    assert [type(n).__name__ for n in A.walk(node)] == [
        "BinaryOp", "BinaryOp", "FunctionCall", "NumberLiteral",
        "Aggregation", "FunctionCall", "FunctionCall", "FunctionCall",
        "Subquery", "FunctionCall", "MatrixSelector", "VectorSelector",
        "Unary", "FunctionCall", "Aggregation", "VectorSelector",
        "VectorSelector",
    ]


# ---------------------------------------------------------------- planner


@pytest.fixture(scope="module")
def engine(spark):
    from squirreldb_spark.promql import PromQLEngine

    rows = [
        # two series: cpu{host=a} counter, cpu{host=b} counter
        ("a", "cpu", 10_000, 0.0),
        ("a", "cpu", 20_000, 10.0),
        ("a", "cpu", 30_000, 20.0),
        ("b", "cpu", 10_000, 0.0),
        ("b", "cpu", 20_000, 5.0),
        ("b", "cpu", 30_000, 10.0),
        ("a", "mem", 30_000, 7.0),
    ]
    pts = spark.createDataFrame(rows, "host string, name string, ts long, value double")
    return PromQLEngine(
        pts, label_cols=("host", "name"), name_label="name",
        step_ms=10_000, lookback_ms=20_000,
    )


def test_plan_selector(engine):
    out = engine.query_range('cpu{host="a"}').collect()
    got = {(r.host, r.step_ts): r.value for r in out}
    assert got[("a", 30_000)] == 20.0
    assert all(r.host == "a" for r in out)


def test_plan_rate_sum(engine):
    # rate() drops __name__ (upstream DropMetricName), so grouping by the
    # name label afterwards groups on a missing label -> one global group
    out = engine.query_range("sum by (name) (rate(cpu[20s]))").collect()
    assert "name" not in out[0].asDict()
    by = {r.step_ts: r.value for r in out}
    # at t=30s: rate(a) = 1.0/s over the window, rate(b) = 0.5/s -> sum 1.5
    assert by[30_000] == pytest.approx(1.5)


def test_plan_binop_vector(engine):
    out = engine.query_range('cpu{host="a"} - on(host) cpu{host="a"}').collect()
    assert all(r.value == 0.0 for r in out)


def test_plan_scalar_ops(engine):
    out = engine.query_range("cpu * 2 + 1").collect()
    src = engine.query_range("cpu").collect()
    want = {(r.host, r.step_ts): r.value * 2 + 1 for r in src}
    got = {(r.host, r.step_ts): r.value for r in out}
    assert got == want


def test_plan_unsupported_function_raises(engine):
    with pytest.raises(ValueError):
        engine.query_range("no_such_function(cpu)")


def test_scalar_multi_series_is_nan(engine):
    # cpu has two series -> scalar(cpu) is NaN at every step (upstream
    # semantics); scalar of a single-series selector passes the value
    import math

    multi = engine.query_range("scalar(cpu)").collect()
    assert multi and all(math.isnan(r.value) for r in multi)
    single = engine.query_range('scalar(cpu{host="a"})').collect()
    got = {r.step_ts: r.value for r in single}
    assert got[30_000] == 20.0
    # and the step-join against a vector must not fan out
    out = engine.query_range('cpu{host="a"} - scalar(cpu{host="a"})').collect()
    keys = [(r.host, r.step_ts) for r in out]
    assert len(keys) == len(set(keys))
    assert all(r.value == 0.0 for r in out)


def test_sort_desc_orders_by_value(engine):
    rows = engine.query_range("sort_desc(cpu)").collect()
    vals = [r.value for r in rows]
    assert vals == sorted(vals, reverse=True)
    rows2 = engine.query_range("sort(cpu)").collect()
    vals2 = [r.value for r in rows2]
    assert vals2 == sorted(vals2)


def test_absent_derives_matcher_labels(engine):
    # equality matchers become result labels; __name__ excluded
    out = engine.query_range('absent(nosuch{host="z"})').collect()
    assert out and all(r.host == "z" for r in out)
    # regex / inequality matchers contribute nothing
    bare = engine.query_range('absent(nosuch{host=~"z.*"})').collect()
    assert bare and "host" not in bare[0].asDict()


def test_agg_group_by_name_label(engine):
    # sum by (__name__) groups on the name column instead of dropping it
    out = engine.query_range("sum by (__name__) (cpu)").collect()
    assert out and all(r.name == "cpu" for r in out)
    both = engine.query_range('sum by (__name__) ({__name__=~"cpu|mem"})').collect()
    assert {r.name for r in both} == {"cpu", "mem"}


@pytest.fixture(scope="module")
def map_engine(spark):
    """Pure dynamic-label points: every label lives in a map column, with
    per-series label sets differing (host b has no 'dc' label)."""
    from squirreldb_spark.promql import PromQLEngine

    rows = [
        ({"__name__": "cpu", "host": "a", "dc": "east"}, 10_000, 1.0),
        ({"__name__": "cpu", "host": "a", "dc": "east"}, 20_000, 2.0),
        ({"__name__": "cpu", "host": "b"}, 10_000, 10.0),
        ({"__name__": "cpu", "host": "b"}, 20_000, 20.0),
        ({"__name__": "mem", "host": "a"}, 20_000, 7.0),
    ]
    pts = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double"
    )
    return PromQLEngine(
        pts, label_cols=(), name_label="__name__",
        step_ms=10_000, lookback_ms=20_000, labels_map_col="labels",
    )


def test_map_labels_selector_and_grouping(map_engine):
    # a label that exists only in the map drives matching and grouping
    out = map_engine.query_range('sum by (dc) (cpu)').collect()
    by = {(r.dc, r.step_ts): r.value for r in out}
    assert by[("east", 20_000)] == 2.0
    assert by[("", 20_000)] == 20.0  # missing label groups as ""


def test_map_labels_missing_matches_empty(map_engine):
    # {dc=""} matches series WITHOUT the label (upstream semantics)
    out = map_engine.query_range('sum by (host) (cpu{dc=""})').collect()
    assert {r.host for r in out} == {"b"}
    out2 = map_engine.query_range('sum by (host) (cpu{dc="east"})').collect()
    assert {r.host for r in out2} == {"a"}


def test_map_labels_series_identity_preserved(map_engine):
    # count(cpu) must see two distinct series even though the query
    # references no distinguishing label
    out = map_engine.query_range("count(cpu)").collect()
    got = {r.step_ts: r.value for r in out}
    assert got[20_000] == 2.0


def test_map_labels_rate_and_regex(map_engine):
    out = map_engine.query_range(
        'sum by (host) (rate({__name__=~"cpu|mem", host=~"a|b"}[20s]))'
    ).collect()
    by = {(r.host, r.step_ts): r.value for r in out}
    assert by[("a", 20_000)] == pytest.approx(0.1)
    assert by[("b", 20_000)] == pytest.approx(1.0)


def test_map_labels_without_grouping(map_engine):
    import json

    # without(dc) must merge series differing only in dc (the full
    # fingerprint embeds dc and would block the merge); the remaining
    # label set is the result's __series__ fingerprint
    out = map_engine.query_range("sum without (dc) (cpu)").collect()
    by_host = {
        (json.loads(r["__series__"]).get("host"), r.step_ts): r.value
        for r in out
    }
    assert by_host[("a", 20_000)] == 2.0
    assert by_host[("b", 20_000)] == 20.0
    # host a and b have different dc values; without(host, dc) merges all
    merged = map_engine.query_range("sum without (host, dc) (cpu)").collect()
    got = {r.step_ts: r.value for r in merged}
    assert got[20_000] == 22.0


def test_limitk_caps_series_per_group(engine):
    # experimental upstream aggregation: at most k series per (group, step)
    rows = engine.query_range("limitk(1, cpu)").collect()
    per_step: dict[int, int] = {}
    for r in rows:
        per_step[r.step_ts] = per_step.get(r.step_ts, 0) + 1
    assert per_step and all(n <= 1 for n in per_step.values())
    # deterministic pick order: the series-key sort order -> host "a"
    assert {r.host for r in rows} == {"a"}
    all_rows = engine.query_range("limitk(5, cpu)").collect()
    assert len(all_rows) == len(engine.query_range("cpu").collect())


def test_limit_ratio_is_deterministic_partition(engine):
    # limit_ratio(r) + limit_ratio(r - 1) must partition the vector
    # exactly (upstream: negative ratio selects the complement)
    full = engine.query_range("cpu").collect()
    kept = engine.query_range("limit_ratio(0.6, cpu)").collect()
    comp = engine.query_range("limit_ratio(-0.4, cpu)").collect()
    assert len(kept) + len(comp) == len(full)
    key = lambda r: (r.host, r.step_ts)
    assert {key(r) for r in kept} | {key(r) for r in comp} == {key(r) for r in full}
    assert not ({key(r) for r in kept} & {key(r) for r in comp})
    # a series is kept at EVERY step or none (step-independent hash)
    hosts_kept = {r.host for r in kept}
    assert all((r.host in hosts_kept) == (key(r) in {key(x) for x in kept})
               for r in full)


def test_sort_by_label_map_mode_and_missing_label(map_engine):
    # regression: the sort keys are label references, so the dynamic-label
    # store must promote them from the map (previously ValueError); a
    # label a series lacks sorts as "" (upstream labels.Get), never errors
    out = map_engine.query_range('sort_by_label(cpu, "dc")').collect()
    assert out
    vals = [r.dc or "" for r in out]
    assert vals == sorted(vals)
    desc = map_engine.query_range('sort_by_label_desc(cpu, "dc")').collect()
    dvals = [r.dc or "" for r in desc]
    assert dvals == sorted(dvals, reverse=True)
    # a label NO series has: all-empty sort key, result set unchanged
    out2 = map_engine.query_range('sort_by_label(cpu, "nosuch")').collect()
    assert len(out2) == len(out)


@pytest.fixture(scope="module")
def map_engine2(spark):
    """Map-labelled metrics with ALIGNED label sets (upstream matching
    requires the name-less label sets to be identical)."""
    from squirreldb_spark.promql import PromQLEngine

    rows = [
        ({"__name__": "cpu", "host": "a"}, 20_000, 2.0),
        ({"__name__": "cpu", "host": "b"}, 20_000, 20.0),
        ({"__name__": "mem", "host": "a"}, 20_000, 7.0),
    ]
    pts = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double"
    )
    return PromQLEngine(
        pts, label_cols=(), name_label="__name__",
        step_ms=10_000, lookback_ms=20_000, labels_map_col="labels",
    )


def test_map_labels_binop_across_metrics(map_engine2):
    # default matching excludes __name__: cpu{host=a} and mem{host=a}
    # share the name-less label set {host=a} -> they match
    out = map_engine2.query_range('cpu{host=~".+"} - mem').collect()
    got = {(r.host, r.step_ts): r.value for r in out}
    assert got[("a", 20_000)] == 2.0 - 7.0
    # host b has no mem series -> no row
    assert all(r.host == "a" for r in out)


def test_map_labels_set_ops_across_metrics(map_engine2):
    got = map_engine2.query_range('cpu{host=~".+"} and mem').collect()
    # mem exists only for host=a (name excluded from matching)
    assert {r.host for r in got} == {"a"}
    un = map_engine2.query_range('cpu{host=~".+"} unless mem').collect()
    assert {(r.host, r.step_ts) for r in un} == {("b", 20_000)}


def test_map_labels_differing_sets_never_match(map_engine):
    # cpu{host=a,dc=east} vs mem{host=a}: remaining label sets differ ->
    # upstream yields no match; so do we
    assert map_engine.query_range('cpu{host=~".+"} - mem').collect() == []


def test_map_labels_histogram_quantile(spark):
    """histogram_quantile over a map-labelled store: the 'le' bucket
    label lives only in the map and is promoted per query."""
    from squirreldb_spark.promql import PromQLEngine

    rows = [
        ({"__name__": "lat_bucket", "le": "0.1"}, 10_000, 5.0),
        ({"__name__": "lat_bucket", "le": "0.5"}, 10_000, 8.0),
        ({"__name__": "lat_bucket", "le": "+Inf"}, 10_000, 10.0),
    ]
    pts = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double"
    )
    eng = PromQLEngine(pts, label_cols=(), name_label="__name__",
                       step_ms=10_000, lookback_ms=20_000,
                       labels_map_col="labels")
    out = eng.query_range("histogram_quantile(0.5, lat_bucket)").collect()
    got = {r.step_ts: r.value for r in out}
    # median: rank 5 of 10; first bucket holds 5 -> upper bound 0.1 exactly
    assert got[10_000] == pytest.approx(0.1)


def test_map_labels_route_to_preagg(spark, map_engine):
    """Dynamic labels + A15/A16: a map-labelled pre-agg table
    (downsample_map) serves max_over_time when step >= resolution, and
    agrees with the raw path evaluated over pre-bucketed points."""
    from squirreldb_spark.promql import PromQLEngine
    from squirreldb_spark.tsdb import downsample as ds

    pts = map_engine.points
    preagg = ds.downsample_map(pts, "labels", resolution_ms=10_000)
    routed = PromQLEngine(
        pts, label_cols=(), name_label="__name__",
        step_ms=10_000, lookback_ms=20_000, labels_map_col="labels",
        downsample=preagg, preagg_resolution_ms=10_000,
    )
    assert routed._use_preagg()
    out = routed.query_range("sum by (host) (max_over_time(cpu[20s]))").collect()
    got = {(r.host, r.step_ts): r.value for r in out}
    assert got[("a", 20_000)] == 2.0
    assert got[("b", 20_000)] == 20.0


def test_set_or_different_label_sets(engine):
    # sides with different label sets union with missing labels as ""
    out = engine.query_range(
        "sum by (host) (cpu) or sum by (name) (mem)"
    ).collect()
    hosts = {(r.host, r.name) for r in out}
    assert ("a", "") in hosts and ("b", "") in hosts
    assert ("", "mem") in hosts


def test_plan_deriv(engine):
    # series a rises 1.0/s steadily -> slope 1.0 everywhere it has >= 2 samples
    out = engine.query_range('deriv(cpu{host="a"}[20s])').collect()
    got = {r.step_ts: r.value for r in out}
    assert got[30_000] == pytest.approx(1.0)


def test_plan_holt_winters_runs(engine):
    out = engine.query_range("holt_winters(cpu[30s], 0.5, 0.3)").collect()
    assert len(out) > 0


def test_plan_timestamp_and_vector(engine):
    out = engine.query_range("timestamp(cpu)").collect()
    assert all(r.value == r.step_ts / 1000 for r in out)


def test_plan_timestamp_returns_sample_ts(spark):
    """timestamp(m) is the SAMPLE's timestamp, not the eval step."""
    from squirreldb_spark.promql import PromQLEngine

    pts = spark.createDataFrame(
        [("a", "cpu", 12_000, 1.0), ("a", "cpu", 27_000, 2.0)],
        "host string, name string, ts long, value double",
    )
    eng = PromQLEngine(pts, label_cols=("host", "name"), name_label="name",
                       step_ms=10_000, lookback_ms=20_000)
    out = eng.query_range("timestamp(cpu)").collect()
    got = {r.step_ts: r.value for r in out}
    assert got[20_000] == 12.0  # last sample before the 20s step is at 12s


def test_data_grid_degenerate_inputs(spark):
    from squirreldb_spark.tsdb.grid import data_grid

    one = spark.createDataFrame([(12_000, 1.0)], "ts long, value double")
    assert data_grid(one, 10_000).collect() == []  # no step inside [12s, 12s]
    empty = one.filter("ts < 0")
    assert data_grid(empty, 10_000).collect() == []


def test_plan_time_minus_timestamp(engine):
    out = engine.query_range("time() - timestamp(cpu)").collect()
    got = {(r.host, r.step_ts): r.value for r in out}
    # every sample lands exactly on a step in the fixture -> age 0
    assert all(v == 0.0 for v in got.values())
    assert len(got) > 0


def test_plan_trig_and_pi(engine):
    import math

    out = engine.query_range("cos(cpu * (pi() / pi()) * 0)").collect()
    assert all(r.value == pytest.approx(math.cos(0.0)) for r in out)
    out = engine.query_range("deg(rad(cpu))").collect()
    src = engine.query_range("cpu").collect()
    assert sorted(r.value for r in out) == pytest.approx(
        sorted(float(r.value) for r in src)
    )


def test_plan_absent_over_time(engine):
    out = engine.query_range("absent_over_time(nosuch[20s])").collect()
    # present at every grid step since the metric never exists
    assert sorted(r.step_ts for r in out) == [10_000, 20_000, 30_000]
    assert all(r.value == 1.0 for r in out)
    gone = engine.query_range("absent_over_time(cpu[20s])").collect()
    assert gone == []


def test_plan_histogram_quantile(spark):
    from squirreldb_spark.promql import PromQLEngine

    rows = []
    # one histogram: buckets le=1 (cum 5), le=2 (cum 9), +Inf (cum 10)
    for le, cum in [("1", 5.0), ("2", 9.0), ("+Inf", 10.0)]:
        rows.append(("api", le, 10_000, cum))
    pts = spark.createDataFrame(rows, "job string, le string, ts long, value double")
    eng = PromQLEngine(pts, label_cols=("job", "le"), name_label="job",
                       step_ms=10_000, lookback_ms=20_000)
    out = eng.query_range("histogram_quantile(0.5, api)").collect()
    got = {r.step_ts: r.value for r in out}
    # rank = 0.5*10 = 5 -> exactly the le=1 bucket boundary
    assert got[10_000] == pytest.approx(1.0)


def test_plan_atan2_binop(engine):
    import math

    out = engine.query_range("cpu atan2 cpu").collect()
    src = {(r.host, r.step_ts): r.value for r in engine.query_range("cpu").collect()}
    got = {(r.host, r.step_ts): r.value for r in out}
    for k, v in got.items():
        assert v == pytest.approx(math.atan2(src[k], src[k]))


def test_plan_at_start_end(engine):
    start = engine.query_range("cpu @ start()").collect()
    end = engine.query_range("cpu @ end()").collect()
    # @ start(): value fixed at the first step (10s) -> a=0.0 everywhere;
    # @ end(): value fixed at the last step (30s) -> a=20.0 everywhere
    a_start = {r.step_ts: r.value for r in start if r.host == "a"}
    a_end = {r.step_ts: r.value for r in end if r.host == "a"}
    assert set(a_start.values()) == {0.0} and len(a_start) == 3
    assert set(a_end.values()) == {20.0} and len(a_end) == 3


def test_preagg_routing_decision_and_lossless_max(spark):
    """A15: route iff step >= resolution (force flags override, force_raw
    wins); A16: max routes to the max stream, which is lossless when the
    buckets align with the window."""
    from squirreldb_spark.promql import PromQLEngine
    from squirreldb_spark.tsdb import downsample as ds_mod

    rows = [("a", "cpu", t * 1_000, float(t % 7)) for t in range(120)]
    pts = spark.createDataFrame(rows, "host string, name string, ts long, value double")
    ds = ds_mod.downsample(pts, ["host", "name"], 10_000)
    kw = dict(label_cols=("host", "name"), name_label="name",
              lookback_ms=60_000, downsample=ds, preagg_resolution_ms=10_000)

    routed = PromQLEngine(pts, step_ms=30_000, **kw)
    assert routed._use_preagg()
    raw = PromQLEngine(pts, step_ms=30_000, force_raw=True, **kw)
    assert not raw._use_preagg()
    assert not PromQLEngine(pts, step_ms=5_000, **kw)._use_preagg()
    assert PromQLEngine(pts, step_ms=5_000, force_preagg=True, **kw)._use_preagg()
    forced_both = PromQLEngine(pts, step_ms=30_000, force_raw=True,
                               force_preagg=True, **kw)
    assert not forced_both._use_preagg()  # force-raw wins (types.go:180-186)

    q = "max_over_time(cpu[30s])"
    got_routed = {r.step_ts: r.value for r in routed.query_range(q).collect()}
    got_raw = {r.step_ts: r.value for r in raw.query_range(q).collect()}
    # bucketed reference: buckets carry their START timestamp (reference
    # offset_second semantics), so a bucket at bts == step includes samples
    # past the window end — the documented pre-agg boundary approximation
    buckets: dict[int, float] = {}
    for _, _, t, v in rows:
        b = t // 10_000 * 10_000
        buckets[b] = max(buckets.get(b, float("-inf")), v)
    for step, got in got_routed.items():
        want = max(v for b, v in buckets.items() if step - 30_000 < b <= step)
        assert got == want, f"step {step}"
    # raw path remains exact; routed path is the bucketed approximation
    assert set(got_raw) == set(got_routed)
    assert all(got_raw[s] <= got_routed[s] for s in got_raw)

    # A17: pre-agg head + re-bucketed raw tail == uniform downsample (the
    # reference's stitch invariant, read.go:229-238) — even when the
    # downsample table is truncated at the watermark
    truncated = ds.filter("bucket_ts < 60000")
    stitched = PromQLEngine(pts, step_ms=30_000, label_cols=("host", "name"),
                            name_label="name", lookback_ms=60_000,
                            downsample=truncated, preagg_resolution_ms=10_000,
                            preagg_until_ms=60_000)
    got_stitched = {r.step_ts: r.value for r in stitched.query_range(q).collect()}
    assert got_stitched == got_routed


def test_plan_bottomk_and_group(engine):
    out = engine.query_range("bottomk(1, cpu)").collect()
    per_step = {}
    for r in out:
        per_step.setdefault(r.step_ts, []).append((r.host, r.value))
    for step, rows in per_step.items():
        assert len(rows) == 1
    # host b is always the smaller counter (except the tied start)
    assert per_step[30_000][0][0] == "b"
    grp = engine.query_range("group by (name) (cpu)").collect()
    assert all(r.value == 1.0 for r in grp)


def test_double_exponential_smoothing_alias(engine):
    a = engine.query_range("holt_winters(cpu[30s], 0.5, 0.3)").collect()
    b = engine.query_range(
        "double_exponential_smoothing(cpu[30s], 0.5, 0.3)"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) and len(a) > 0


def test_mad_over_time_hand_math(engine):
    # window values v -> median m -> median(|v-m|); spot-check one step
    rows = engine.query_range("mad_over_time(cpu[10m])").collect()
    assert rows
    raw = engine.query_range("cpu").collect()
    assert all(r.value >= 0 for r in rows)
    # single-sample windows have MAD exactly 0
    ones = engine.query_range("count_over_time(cpu[10m])").collect()
    counts = {(r.host, r.step_ts): r.value for r in ones}
    for r in rows:
        if counts.get((r.host, r.step_ts)) == 1.0:
            assert r.value == 0.0


def test_sort_by_label_orders_lexicographically(engine):
    rows = engine.query_range('sort_by_label(cpu, "host")').collect()
    hosts = [r.host for r in rows]
    assert hosts == sorted(hosts)
    rows2 = engine.query_range('sort_by_label_desc(cpu, "host")').collect()
    hosts2 = [r.host for r in rows2]
    assert hosts2 == sorted(hosts2, reverse=True)
    # upstream labels.Get semantics: a label no series has sorts as ""
    # rather than raising (Prometheus never errors on a missing label)
    rows3 = engine.query_range('sort_by_label(cpu, "nope")').collect()
    assert len(rows3) == len(rows)


def test_topk_and_limitk_over_fully_aggregated_vector(engine):
    """Regression: topk/limitk over a global aggregate (no series keys
    left) must not crash — the two-phase shard hash has zero columns
    there and is skipped."""
    rows = engine.query_range("topk(1, sum(cpu))").collect()
    assert rows
    per_step = {r.step_ts: r.value for r in rows}
    assert per_step[20_000] == 15.0  # sum over hosts a(10) + b(5)
    assert engine.query_range("limitk(1, sum(cpu))").count() == len(rows)
    assert engine.query_range("bottomk(1, sum(cpu))").count() == len(rows)


def test_deriv_over_subquery_with_reduced_labels(engine):
    """Regression: range functions over a subquery must group by the
    subquery's OWN (reduced) label set, not the engine's label_cols."""
    out = engine.query_range("deriv(sum by (host) (cpu)[40s:10s])").collect()
    assert out  # used to raise UNRESOLVED_COLUMN on the missing label
    assert {r.host for r in out} <= {"a", "b"}
    out2 = engine.query_range(
        "predict_linear(sum by (host) (cpu)[40s:10s], 10)"
    ).collect()
    assert out2


def test_parser_unescapes_string_literals(engine):
    from squirreldb_spark.promql.parser import parse

    sel = parse(r'cpu{host=~"a\\d*"}')
    assert sel.matchers[0].value == r"a\d*"
    sel2 = parse('cpu{host="a\\nb"}')
    assert sel2.matchers[0].value == "a\nb"
    # a regex with an escaped dot must still match the literal value
    rows = engine.query_range(r'cpu{host=~"a\\.?"}').collect()
    assert rows and all(r.host == "a" for r in rows)
    import pytest as _pt
    from squirreldb_spark.promql.parser import ParseError

    with _pt.raises(ParseError):
        parse(r'cpu{host=~"bad\descape"}')


def test_parser_compound_durations(engine):
    from squirreldb_spark.promql.parser import duration_ms, parse

    assert duration_ms("1h30m") == 5_400_000
    assert duration_ms("1m30s") == 90_000
    node = parse("rate(cpu[1m30s])")
    assert node.args[0].range_ms == 90_000
    # still rejects garbage
    import pytest as _pt
    from squirreldb_spark.promql.parser import ParseError

    with _pt.raises(ParseError):
        duration_ms("90")


def test_rate_tolerates_duplicate_timestamp_writes(spark):
    """Regression: un-deduped double writes (same series, same ts) must
    not crash rate/irate with a zero-interval division under ANSI."""
    from squirreldb_spark.promql import PromQLEngine

    rows = [
        ("a", "cpu", 10_000, 1.0),
        ("a", "cpu", 10_000, 1.0),   # duplicate write
        ("a", "cpu", 20_000, 5.0),
    ]
    pts = spark.createDataFrame(
        rows, "host string, name string, ts long, value double"
    )
    eng = PromQLEngine(
        pts, label_cols=("host", "name"), name_label="name",
        step_ms=10_000, lookback_ms=20_000,
    )
    assert eng.query_range("rate(cpu[30s])").collect() is not None
    assert eng.query_range("irate(cpu[30s])").collect() is not None


def test_without_name_merges_on_map_store_with_custom_name_label(spark):
    """Regression: the without-fingerprint digest must apply the same
    __name__ -> name_label translation at promotion and eval time, or
    without(__name__) never merges series on a dynamic-label store."""
    from squirreldb_spark.promql import PromQLEngine

    rows = [
        ({"name": "cpu", "host": "a"}, 20_000, 1.0),
        ({"name": "mem", "host": "a"}, 20_000, 2.0),
        ({"name": "cpu", "host": "b"}, 20_000, 10.0),
    ]
    pts = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double"
    )
    eng = PromQLEngine(
        pts, label_cols=(), name_label="name",
        step_ms=10_000, lookback_ms=20_000, labels_map_col="labels",
    )
    out = eng.query_range(
        'sum without (__name__) ({__name__=~"cpu|mem"})'
    ).collect()
    by_step = {}
    for r in out:
        if r.step_ts == 20_000:
            by_step.setdefault(r.step_ts, []).append(r.value)
    # host a's cpu+mem MERGE into one 3.0 row; host b stays 10.0
    assert sorted(by_step[20_000]) == [3.0, 10.0]


def test_label_replace_literal_dollar_template(engine):
    out = engine.query_range(
        'label_replace(cpu, "cost", "price_$", "host", "a")'
    ).collect()
    assert out
    got = {r.host: r.cost for r in out if r.step_ts == 20_000}
    assert got["a"] == "price_$"
    assert got["b"] == ""


class TestStringEscapeStrictness:
    """ADVICE r4: unquote must reject what Go strconv.Unquote rejects —
    wrong digit counts, octal > \\377, unicode digits, bad code points —
    with ParseError, never a bare ValueError from int()."""

    def test_valid_escapes_round_trip(self):
        from squirreldb_spark.promql.parser import unquote

        assert unquote(r'"\101\x42C\U00000044"') == "ABCD"
        assert unquote(r'"\n\t\\\""') == '\n\t\\"'

    @pytest.mark.parametrize("lit", [
        r'"\777"',      # octal value 511 > 255
        r'"\400"',      # octal value 256 > 255
        r'"\8"',        # 8 is not an octal digit
        r'"\07"',       # short octal (2 digits)
        '"\\٣٣0"',  # non-ASCII unicode digits (Arabic-Indic)
        r'"\x4"',       # short hex
        r'"\xZZ"',      # non-hex
        r'"\u12"',      # short \u
        r'"\U0001"',    # short \U
        r'"\UFFFFFFFF"',  # beyond U+10FFFF
        r'"\UD800DC00"',  # hex form is 8 digits but > 10FFFF anyway
        r'"\U0000D800"',  # surrogate
        r'"a\"',        # trailing backslash inside the body
    ])
    def test_invalid_escapes_raise_parse_error(self, lit):
        from squirreldb_spark.promql.parser import unquote

        with pytest.raises(ParseError):
            unquote(lit)


def test_holt_winters_rejects_out_of_range_factors(engine):
    import pytest as _pt

    for bad in ("holt_winters(cpu[30s], 0, 0.3)",
                "holt_winters(cpu[30s], 1, 0.3)",
                "double_exponential_smoothing(cpu[30s], 0.5, 1.5)"):
        with _pt.raises(ValueError, match="factor"):
            engine.query_range(bad)


def test_count_values_rejects_invalid_label_name(engine):
    import pytest as _pt

    with _pt.raises(ValueError, match="invalid label name"):
        engine.query_range('count_values("0bad", cpu)')


# ---------------------------------------------------------------- prettier


def test_format_query_goldens():
    """Formatter contract (upstream promql/parser/prettier.go): short
    expressions stay single-line in canonical String() form; the
    documented divergence is that redundant user parens normalize away
    while every precedence-REQUIRED paren survives."""
    from squirreldb_spark.promql.prettier import format_query

    cases = {
        'rate(http_requests_total{job="api",code=~"5.."}[5m])':
            'rate(http_requests_total{job="api", code=~"5.."}[5m])',
        "sum by(job)(rate(m[5m]))": "sum by (job) (rate(m[5m]))",
        "sum without(instance)(m)": "sum without (instance) (m)",
        "topk(5, m)": "topk(5, m)",
        'count_values("ver", build_info)': 'count_values("ver", build_info)',
        "a + b * c": "a + b * c",
        "(a + b) * c": "(a + b) * c",
        "a - (b - c)": "a - (b - c)",
        "a - b - c": "a - b - c",
        "(a - b) - c": "a - b - c",        # redundant paren normalized
        "a ^ b ^ c": "a ^ b ^ c",          # right-assoc: no parens
        "(a ^ b) ^ c": "(a ^ b) ^ c",      # left-grouped power keeps them
        "sum(a) > bool 0": "sum(a) > bool 0",
        "a / on(x) group_left(y) b": "a / on (x) group_left (y) b",
        "m[1h:10s] offset 5m": "m[1h:10s] offset 5m",
        "m offset 90s": "m offset 1m30s",
        "foo @ 1609746000": "foo @ 1609746000.000",
        "-(a + b)": "-(a + b)",
    }
    for src, want in cases.items():
        assert format_query(src) == want, src


def test_format_query_splits_long_expressions():
    """Nodes whose one-line form exceeds 100 chars split with two-space
    indents: aggregations/calls open a paren block, binary operators put
    the operator on its own line between indented operands."""
    from squirreldb_spark.promql.prettier import format_query

    long_sel = (
        'really_long_metric_name_for_line_splitting_test'
        '{label_one="value_one", label_two="value_two"}'
    )
    out = format_query(f"avg(rate({long_sel}[5m])) + avg(rate(n[5m]))")
    lines = out.splitlines()
    assert lines[0] == "  avg("
    assert lines[1] == "    rate("
    assert "+" in [ln.strip() for ln in lines]
    assert lines[-1] == "  avg(rate(n[5m]))"
    # formatting is a fixed point modulo whitespace
    from squirreldb_spark.promql.prettier import format_query as fq
    assert fq(" ".join(out.split())) == out


def test_format_query_paren_reinsertion_edges():
    """Review regressions: parens our AST lowered away must re-appear
    wherever the canonical form needs them — subquery inners, unary on
    the LHS of '^', and the multiline unary/subquery branches."""
    from squirreldb_spark.promql.parser import parse
    from squirreldb_spark.promql.prettier import format_query

    cases = {
        "(a + b)[5m:1m]": "(a + b)[5m:1m]",
        "(-a) ^ b": "(-a) ^ b",
        "a ^ -b": "a ^ -b",
        "-a * b": "-a * b",
        "rate(m[5m])[30m:5m]": "rate(m[5m])[30m:5m]",
    }
    for src, want in cases.items():
        out = format_query(src)
        assert out == want, (src, out)
    # multiline branches: semantic round-trip after whitespace collapse
    long_sum = "(" + " + ".join(
        f'really_long_metric_name_number_{i}{{env="prod"}}' for i in range(3)
    ) + ")"
    for src in (f"-{long_sum}", f"{long_sum}[30m:5m]"):
        out = format_query(src)
        assert parse(" ".join(out.split())) == parse(src), src
