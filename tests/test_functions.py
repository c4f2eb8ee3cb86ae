"""Goldens for the long-tail functions: histogram_quantile interpolation,
linreg, mutable labels, export pivot."""

import math

import pytest
from pyspark.sql import functions as F

from squirreldb_spark.promql.ast import Matcher
from squirreldb_spark.tsdb import functions as fns
from squirreldb_spark.tsdb import mutable as mut


def test_histogram_quantile_interpolation(spark):
    # one group, buckets le=1 (cum 2), le=2 (cum 6), le=+Inf (cum 10)
    rows = [
        ("g", 0, 1.0, 2.0),
        ("g", 0, 2.0, 6.0),
        ("g", 0, float("inf"), 10.0),
    ]
    vec = spark.createDataFrame(rows, "grp string, step_ts long, le double, value double")
    out = fns.histogram_quantile(vec, 0.5, ["grp"]).collect()
    # rank = 5 -> in bucket (1, 2]: 1 + (2-1) * (5-2)/(6-2) = 1.75
    assert out[0].value == pytest.approx(1.75)


def test_histogram_quantile_inf_bucket_returns_max_finite(spark):
    rows = [("g", 0, 1.0, 1.0), ("g", 0, float("inf"), 10.0)]
    vec = spark.createDataFrame(rows, "grp string, step_ts long, le double, value double")
    out = fns.histogram_quantile(vec, 0.9, ["grp"]).collect()
    assert out[0].value == 1.0  # falls in +Inf bucket -> highest finite le


def test_linreg_slope_and_prediction(spark):
    # y = 2x + 5 (x seconds): slope 2, value at step (x=0) is 5
    rows = [("s", (i - 10) * 1000, 2.0 * (i - 10) + 5.0) for i in range(10)]
    pts = spark.createDataFrame(rows, "series string, ts long, value double")
    deriv = fns.linreg(pts, ["series"], step_ms=1000, range_ms=20_000)
    for r in deriv.collect():
        assert r.value == pytest.approx(2.0)
    pred = fns.linreg(pts, ["series"], 1000, 20_000, predict_s=10.0)
    got = {r.step_ts: r.value for r in pred.collect()}
    # at step t: true value = 2*(t/1000) + 5; prediction 10s ahead adds 20
    for step, v in got.items():
        assert v == pytest.approx(2.0 * (step / 1000) + 5.0 + 20.0)


def test_mutable_label_rewrite_and_enrich(spark):
    mapping = spark.createDataFrame(
        [("t1", "group", "web", "host", ["a", "b"])], mut.MAPPING_SCHEMA
    ).collect()
    pts = spark.createDataFrame(
        [("a", 1, 1.0), ("b", 1, 2.0), ("c", 1, 3.0)], "host string, ts long, value double"
    )
    filtered = mut.rewrite_filter(pts, mapping, "t1", Matcher("group", "=", "web"))
    assert {r.host for r in filtered.collect()} == {"a", "b"}
    enriched = mut.enrich(filtered, mapping, "t1", "group")
    assert all(r.group == "web" for r in enriched.collect())
    # unknown mutable value -> empty
    assert mut.rewrite_filter(
        pts, mapping, "t1", Matcher("group", "=", "nope")
    ).count() == 0
    # all four ops; an equality value is never compiled as a regex
    for op, value, hosts in [("!=", "a(", {"a", "b"}), ("=~", "w.*", {"a", "b"}),
                             ("!~", "w.*", set())]:
        got = mut.rewrite_filter(pts, mapping, "t1", Matcher("group", op, value))
        assert {r.host for r in got.collect()} == hosts
    # the associated label as a key of a labels map
    mpts = pts.select(F.create_map(F.lit("host"), "host").alias("labels"), "ts")
    got = mut.rewrite_filter(mpts, mapping, "t1", Matcher("group", "=", "web"), "labels")
    assert got.count() == 2
    with pytest.raises(ValueError, match="unknown label"):
        mut.rewrite_filter(pts, mapping, "t2", Matcher("group", "=", "web"))


def test_export_pivot_wide_layout(spark):
    rows = [(100, "m1", 1.0), (100, "m2", 2.0), (200, "m1", 3.0)]
    pts = spark.createDataFrame(rows, "ts long, name string, value double")
    wide = fns.export_pivot(pts, "name", ["m1", "m2"])
    got = {r.ts: (r.m1, r.m2) for r in wide.collect()}
    assert got == {100: (1.0, 2.0), 200: (3.0, None)}


def test_date_parts_conventions(spark):
    # 2024-01-07 was a Sunday -> day_of_week 0 (PromQL convention)
    grid = spark.createDataFrame([(1_704_585_600_000,)], "step_ts long")
    r = fns.date_parts(grid).collect()[0]
    assert r.day_of_week == 0.0
    assert (r.day_of_month, r.month, r.year) == (7.0, 1.0, 2024.0)
    assert r.days_in_month == 31.0


def test_histogram_quantile_empty_histogram_is_nan(spark):
    """Regression: a histogram with zero observations (all cumulative
    counts 0) interpolated 0/0 — ANSI raised; upstream returns NaN."""
    import math

    rows = [
        ("g", 0, 1.0, 0.0),
        ("g", 0, 2.0, 0.0),
        ("g", 0, float("inf"), 0.0),
    ]
    vec = spark.createDataFrame(
        rows, "grp string, step_ts long, le double, value double"
    )
    out = fns.histogram_quantile(vec, 0.5, ["grp"]).collect()
    assert len(out) == 1 and math.isnan(out[0].value)


def test_label_replace_literal_dollar_and_groups(spark):
    rows = [("a", 0, 1.0)]
    vec = spark.createDataFrame(rows, "src string, step_ts long, value double")
    out = fns.label_replace(vec, "dst", "x_$1_$", "src", "(a)").collect()
    assert out[0].dst == "x_a_$"


def test_enrich_preserves_row_count_on_multi_bound_values(spark):
    """Regression: a concrete value bound to TWO mutable values fanned
    result rows out through the enrichment join, double-counting any
    downstream aggregate. One deterministic (smallest) value wins."""
    from squirreldb_spark.tsdb import mutable as mut

    mapping = spark.createDataFrame(
        [
            ("t1", "group", "g1", "host", ["server1"]),
            ("t1", "group", "g2", "host", ["server1", "server2"]),
        ],
        mut.MAPPING_SCHEMA,
    ).collect()
    result = spark.createDataFrame(
        [("server1", 1.0), ("server2", 2.0)], "host string, value double"
    )
    out = mut.enrich(result, mapping, "t1", "group").collect()
    assert len(out) == 2  # NOT 3: no fan-out
    got = {r.host: r.group for r in out}
    assert got == {"server1": "g1", "server2": "g2"}


def test_enrich_rejects_conflicting_associated_names(spark):
    from squirreldb_spark.tsdb import mutable as mut

    mapping = spark.createDataFrame(
        [
            ("t1", "group", "g1", "host", ["a"]),
            ("t1", "group", "g2", "instance", ["b"]),
        ],
        mut.MAPPING_SCHEMA,
    ).collect()
    result = spark.createDataFrame([("a", 1.0)], "host string, value double")
    import pytest as _pt

    with _pt.raises(ValueError, match="multiple associated names"):
        mut.enrich(result, mapping, "t1", "group")


def test_parity_compare_accepts_equal_infinities():
    import pandas as pd

    from squirreldb_spark.parity import compare

    a = pd.DataFrame({"v": [float("inf"), 1.0, float("-inf")]})
    b = pd.DataFrame({"v": [float("inf"), 1.0, float("-inf")]})
    assert compare(a, b) == []


def test_dedup_points_custom_value_column(spark):
    from squirreldb_spark.tsdb import maintenance

    df = spark.createDataFrame(
        [(1, 10, 5.0), (1, 10, 7.0), (1, 20, 1.0)],
        "sid long, ts long, avg double",
    )
    out = maintenance.dedup_points(df, ["sid"], value_col="avg").collect()
    got = {(r.sid, r.ts): r.avg for r in out}
    assert got == {(1, 10): 7.0, (1, 20): 1.0}
