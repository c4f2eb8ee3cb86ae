"""Query catalog: every implemented operator as (Spark program, DuckDB oracle).

Each entry in :data:`CATALOG` demonstrates one operator from SURVEY.md §2 on
the driver-provided test tables. The Spark side is the engine (the modules in
``squirreldb_spark.tsdb`` / ``.pipeline``); the oracle is an independent ANSI
SQL re-statement of the same semantics that DuckDB runs on the same parquet.
The driver hash-compares values, so:

* every computed column is aliased identically on both sides,
* floating aggregates are rounded (6 dp; large currency sums 2 dp),
* timestamps are epoch-ms BIGINTs (Spark: ``ns div 1e6``; DuckDB:
  ``epoch_ms``; both truncate),
* all grid/bucket arithmetic is integer-only so both engines agree bit-wise.

The TSDB queries treat the ``events`` table as the remote-write stream:
series = (user_id, event_type), cadence ~0.44 points/series/day over 30
days — hence day-scale steps (step=1d, range=14d, lookback=5d) rather than
the reference's 5-min production constants; the *semantics* are identical
and the constants are parameters everywhere.
"""

from __future__ import annotations

from collections.abc import Sequence as _Seq
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from squirreldb_spark import model
from squirreldb_spark.pipeline import events as pevents
from squirreldb_spark.tsdb import aggregation as agg_ops
from squirreldb_spark.tsdb import binops, downsample, maintenance, range_fns, selectors
from squirreldb_spark.tsdb.grid import data_grid

# ---------------------------------------------------------------- parameters

KEYS = ["user_id", "event_type"]
STEP_MS = 86_400_000                 # 1 day evaluation step
RANGE_MS = 14 * 86_400_000           # 14 day range-vector window
LOOKBACK_MS = 5 * 86_400_000         # instant-selector lookback
RES_MS = 300_000                     # 5-min pre-agg resolution (tsdb.go:41)
STITCH_CUTOFF_MS = 1_705_276_800_000  # 2024-01-15, aligned to RES_MS
RETENTION_NOW_MS = 1_706_745_600_000  # 2024-02-01
RETENTION_TTL_S = 15 * 86_400
Q1_CUTOFF_MS = 904_694_400_000       # 1998-09-02
Q3_DATE_MS = 795_225_600_000         # 1995-03-15
Q5_LO_MS, Q5_HI_MS = 820_454_400_000, 852_076_800_000  # calendar 1996

# ------------------------------------------------------------- SQL preludes

_PTS = "SELECT user_id, event_type, epoch_ms(ts) AS ts, value FROM events"


def _grid_sql(src: str = "pts", step: int = STEP_MS) -> str:
    return (
        f"bounds AS (SELECT min(ts) AS min_ts, max(ts) AS max_ts FROM {src}),\n"
        f"grid AS (SELECT unnest(generate_series(((min_ts + {step} - 1) // {step}) * {step},"
        f" (max_ts // {step}) * {step}, {step})) AS step_ts FROM bounds)"
    )


def _rs_sql(src: str = "pts", range_ms: int = RANGE_MS) -> str:
    return (
        f"rs AS (SELECT p.user_id, p.event_type, g.step_ts, p.ts, p.value\n"
        f"  FROM {src} p, grid g"
        f" WHERE p.ts > g.step_ts - {range_ms} AND p.ts <= g.step_ts)"
    )


def _extrapolated_sql(
    range_ms: int, is_counter: bool, is_rate: bool, src: str = "pts",
    rounded: bool = True,
) -> str:
    """Oracle mirror of range_fns.extrapolated (Prometheus extrapolatedRate)."""
    rv = "last_val - first_val + reset_corr" if is_counter else "last_val - first_val"
    # upstream extrapolatedRate order (prometheus v0.307.x): the
    # threshold rewrite applies FIRST, then the zero-crossing clamp
    # takes min(durationToStart, durationToZero)
    zero_clamp = (
        "CASE WHEN rv > 0 AND first_val >= 0 AND sampled * (first_val / rv) < ds1"
        " THEN sampled * (first_val / rv) ELSE ds1 END"
        if is_counter
        else "ds1"
    )
    rate_div = f" / {range_ms / 1000.0!r}" if is_rate else ""
    return f"""
WITH pts AS ({_PTS}),
{_grid_sql(src='pts')},
{_rs_sql(src=src, range_ms=range_ms)},
win AS (
  SELECT *, lag(value) OVER (PARTITION BY user_id, event_type, step_ts ORDER BY ts) AS prev_value
  FROM rs),
agg AS (
  SELECT user_id, event_type, step_ts, count(*) AS n,
         min(ts) AS first_ts, max(ts) AS last_ts,
         arg_min(value, ts) AS first_val, arg_max(value, ts) AS last_val,
         coalesce(sum(CASE WHEN value < prev_value AND NOT isnan(prev_value)
                           THEN prev_value END), 0.0) AS reset_corr
  FROM win GROUP BY 1, 2, 3 HAVING count(*) >= 2),
calc AS (
  SELECT user_id, event_type, step_ts, first_val,
         ({rv}) AS rv,
         (last_ts - first_ts) / 1000.0 AS sampled,
         ((last_ts - first_ts) / 1000.0) / (n - 1) AS avg_sp,
         (first_ts - (step_ts - {range_ms})) / 1000.0 AS dur_start0,
         (step_ts - last_ts) / 1000.0 AS dur_end0
  FROM agg),
calc2 AS (
  SELECT *,
         CASE WHEN dur_start0 >= avg_sp * 1.1 THEN avg_sp / 2.0 ELSE dur_start0 END AS ds1,
         CASE WHEN dur_end0 >= avg_sp * 1.1 THEN avg_sp / 2.0 ELSE dur_end0 END AS de1
  FROM calc),
calc3 AS (SELECT *, {zero_clamp} AS ds2 FROM calc2)
SELECT user_id, event_type, step_ts,
       {"round(" if rounded else "("}rv * ((sampled + ds2 + de1) / sampled){rate_div}{", 6)" if rounded else ")"} AS value
FROM calc3
"""


_INST_SQL = f"""
WITH pts AS ({_PTS}),
{_grid_sql()},
inst AS (
  SELECT p.user_id, p.event_type, g.step_ts, arg_max(p.value, p.ts) AS value
  FROM pts p, grid g
  WHERE p.ts > g.step_ts - {LOOKBACK_MS} AND p.ts <= g.step_ts
  GROUP BY 1, 2, 3)
"""

# ------------------------------------------------------- Spark-side helpers


def _pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return model.points(spark, sf_dir)


def _instant(spark, sf_dir) -> DataFrame:
    return selectors.instant_select(_pts(spark, sf_dir), KEYS, STEP_MS, LOOKBACK_MS)


def _round(df: DataFrame, cols: dict[str, int]) -> DataFrame:
    for c, n in cols.items():
        df = df.withColumn(c, F.round(F.col(c), n))
    return df


# ---------------------------------------------------------------- TSDB ops


def q_downsample(spark, sf_dir):
    """A13: the 5-minute min/max/avg/count pre-aggregation job (tsdb/downsample.py)."""
    ds = downsample.downsample(_pts(spark, sf_dir), KEYS, RES_MS)
    return _round(
        ds.select(
            *KEYS, "bucket_ts",
            F.col("min").alias("min_v"), F.col("max").alias("max_v"),
            F.col("avg").alias("avg_v"), F.col("count").alias("cnt"),
        ),
        {"min_v": 6, "max_v": 6, "avg_v": 6},
    )


SQL_DOWNSAMPLE = f"""
WITH pts AS ({_PTS})
SELECT user_id, event_type, ts - ts % {RES_MS} AS bucket_ts,
       round(min(value), 6) AS min_v, round(max(value), 6) AS max_v,
       round(avg(value), 6) AS avg_v, count(*) AS cnt
FROM pts GROUP BY 1, 2, 3
"""


def q_instant(spark, sf_dir):
    """Instant vector selector with 5m lookback + staleness-marker semantics; one window pass per series (tsdb/selectors.py)."""
    return _round(_instant(spark, sf_dir), {"value": 6})


SQL_INSTANT = _INST_SQL + "SELECT user_id, event_type, step_ts, round(value, 6) AS value FROM inst"


def q_range_avg(spark, sf_dir):
    """PromQL avg_over_time over the bucketed range-selector join (tsdb/range_fns.py)."""
    df = range_fns.over_time(_pts(spark, sf_dir), KEYS, STEP_MS, RANGE_MS, "avg")
    return _round(df, {"value": 6})


SQL_RANGE_AVG = f"""
WITH pts AS ({_PTS}), {_grid_sql()}, {_rs_sql()}
SELECT user_id, event_type, step_ts, round(avg(value), 6) AS value
FROM rs GROUP BY 1, 2, 3
"""


def _duck_prom_quantile(vals: str, q: float) -> str:
    """DuckDB restatement of aggregation.prom_quantile_expr — the same
    NaN-first ordering and ``lo*(1-w) + hi*w`` arithmetic as
    promql/quantile.go, so both engines are formula-identical
    bit-for-bit (quantile_cont's ``lo + (hi-lo)*w`` can differ in the
    last ulp and flip a 6-dp rounding)."""
    srt = f"list_sort(list_filter({vals}, x -> NOT isnan(x)))"
    n = f"len({vals})"
    k = f"({n} - len({srt}))"
    rank = f"({q!r} * ({n} - 1))"
    w = f"({rank} - floor({rank}))"
    li = f"CAST(floor({rank}) AS INT)"
    ui = f"CAST(least(CAST({n} - 1 AS DOUBLE), floor({rank}) + 1) AS INT)"

    def at(idx: str) -> str:
        return (
            f"CASE WHEN {idx} < {k} THEN 'NaN'::DOUBLE"
            f" ELSE ({srt})[{idx} - {k} + 1] END"
        )

    return f"({at(li)} * (1 - {w}) + {at(ui)} * {w})"


def q_range_quantile(spark, sf_dir):
    """PromQL quantile_over_time with upstream-exact interpolation — collected-array quantile, never percentile_approx (tsdb/range_fns.py)."""
    df = range_fns.over_time(
        _pts(spark, sf_dir), KEYS, STEP_MS, RANGE_MS, "quantile", quantile=0.9
    )
    return _round(df, {"value": 6})


SQL_RANGE_QUANTILE = f"""
WITH pts AS ({_PTS}), {_grid_sql()}, {_rs_sql()},
g AS (SELECT user_id, event_type, step_ts, list(value) AS vals
      FROM rs GROUP BY 1, 2, 3)
SELECT user_id, event_type, step_ts,
       round({_duck_prom_quantile('vals', 0.9)}, 6) AS value
FROM g
"""


def q_range_mad(spark, sf_dir):
    """mad_over_time: median absolute deviation around the window median
    (Prometheus experimental; two exact percentiles, one shuffle key)."""
    df = range_fns.mad_over_time(_pts(spark, sf_dir), KEYS, STEP_MS, RANGE_MS)
    return _round(df, {"value": 6})


SQL_RANGE_MAD = f"""
WITH pts AS ({_PTS}), {_grid_sql()}, {_rs_sql()},
g AS (SELECT user_id, event_type, step_ts, list(value) AS vals
      FROM rs GROUP BY 1, 2, 3),
m AS (SELECT user_id, event_type, step_ts, vals,
             {_duck_prom_quantile('vals', 0.5)} AS med
      FROM g)
SELECT user_id, event_type, step_ts,
       round({_duck_prom_quantile('list_transform(vals, x -> abs(x - med))', 0.5)},
             6) AS value
FROM m
"""


def _q_over_time(fn: str):
    def run(spark, sf_dir):
        df = range_fns.over_time(_pts(spark, sf_dir), KEYS, STEP_MS, RANGE_MS, fn)
        return _round(df, {"value": 6})

    run.__doc__ = (
        f"PromQL {fn}_over_time over the bucketed range-selector join"
        " (tsdb/range_fns.py over_time)."
    )
    return run


def _sql_over_time(agg_expr: str) -> str:
    return f"""
WITH pts AS ({_PTS}), {_grid_sql()}, {_rs_sql()}
SELECT user_id, event_type, step_ts, round({agg_expr}, 6) AS value
FROM rs GROUP BY 1, 2, 3
"""


def q_rate(spark, sf_dir):
    """PromQL rate(): upstream extrapolatedRate math with counter-reset correction and boundary clamps (tsdb/range_fns.py)."""
    df = range_fns.extrapolated(
        _pts(spark, sf_dir), KEYS, STEP_MS, RANGE_MS, is_counter=True, is_rate=True
    )
    return _round(df, {"value": 6})


def q_increase(spark, sf_dir):
    """PromQL increase(): extrapolated counter delta per window (tsdb/range_fns.py)."""
    df = range_fns.extrapolated(
        _pts(spark, sf_dir), KEYS, STEP_MS, RANGE_MS, is_counter=True, is_rate=False
    )
    return _round(df, {"value": 6})


def q_delta(spark, sf_dir):
    """PromQL delta(): extrapolated gauge difference per window (tsdb/range_fns.py)."""
    df = range_fns.extrapolated(
        _pts(spark, sf_dir), KEYS, STEP_MS, RANGE_MS, is_counter=False, is_rate=False
    )
    return _round(df, {"value": 6})


def q_irate(spark, sf_dir):
    """PromQL irate(): last-two-samples instantaneous rate with (ts, insert-order) tie-break (tsdb/range_fns.py)."""
    df = range_fns.instantaneous(
        _pts(spark, sf_dir), KEYS, STEP_MS, RANGE_MS, is_rate=True
    )
    return _round(df, {"value": 6})


def q_idelta(spark, sf_dir):
    """PromQL idelta(): last-two-samples difference (tsdb/range_fns.py)."""
    df = range_fns.instantaneous(
        _pts(spark, sf_dir), KEYS, STEP_MS, RANGE_MS, is_rate=False
    )
    return _round(df, {"value": 6})


SQL_IRATE = f"""
WITH pts AS ({_PTS}), {_grid_sql()}, {_rs_sql()},
win AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type, step_ts ORDER BY ts DESC) AS rn
  FROM rs),
agg AS (
  SELECT user_id, event_type, step_ts, count(*) AS n,
         arg_max(value, ts) AS last_val, arg_min(value, ts) AS prev_val,
         max(ts) AS last_ts, min(ts) AS prev_ts
  FROM win WHERE rn <= 2 GROUP BY 1, 2, 3 HAVING count(*) >= 2)
SELECT user_id, event_type, step_ts,
       round((CASE WHEN last_val < prev_val AND NOT isnan(prev_val)
                   THEN last_val ELSE last_val - prev_val END)
             / ((last_ts - prev_ts) / 1000.0), 6) AS value
FROM agg
"""

SQL_IDELTA = f"""
WITH pts AS ({_PTS}), {_grid_sql()}, {_rs_sql()},
win AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type, step_ts ORDER BY ts DESC) AS rn
  FROM rs),
agg AS (
  SELECT user_id, event_type, step_ts, count(*) AS n,
         arg_max(value, ts) AS last_val, arg_min(value, ts) AS prev_val
  FROM win WHERE rn <= 2 GROUP BY 1, 2, 3 HAVING count(*) >= 2)
SELECT user_id, event_type, step_ts, round(last_val - prev_val, 6) AS value
FROM agg
"""


def q_resets(spark, sf_dir):
    """PromQL resets(): counter-reset count per range window, NaN-safe (tsdb/range_fns.py)."""
    return range_fns.resets_changes(_pts(spark, sf_dir), KEYS, STEP_MS, RANGE_MS, "resets")


def q_changes(spark, sf_dir):
    """PromQL changes(): value-change count per range window, NaN-safe (tsdb/range_fns.py)."""
    return range_fns.resets_changes(_pts(spark, sf_dir), KEYS, STEP_MS, RANGE_MS, "changes")


def _resets_changes_sql(flag: str) -> str:
    return f"""
WITH pts AS ({_PTS}), {_grid_sql()}, {_rs_sql()},
win AS (
  SELECT *, lag(value) OVER (PARTITION BY user_id, event_type, step_ts ORDER BY ts) AS prev_value
  FROM rs)
SELECT user_id, event_type, step_ts, sum({flag})::DOUBLE AS value
FROM win GROUP BY 1, 2, 3
"""


SQL_RESETS = _resets_changes_sql("CASE WHEN value < prev_value THEN 1 ELSE 0 END")
SQL_CHANGES = _resets_changes_sql(
    "CASE WHEN prev_value IS NOT NULL AND value != prev_value THEN 1 ELSE 0 END"
)


def q_agg_sum_by(spark, sf_dir):
    """PromQL sum by(label): grouped aggregation over the instant vector (tsdb/aggregation.py)."""
    df = agg_ops.aggregate(_instant(spark, sf_dir), ["event_type"], "sum")
    return _round(df, {"value": 6})


SQL_AGG_SUM_BY = _INST_SQL + (
    "SELECT event_type, step_ts, round(sum(value), 6) AS value FROM inst GROUP BY 1, 2"
)


def q_agg_stddev_by(spark, sf_dir):
    """PromQL stddev by(label): population stddev grouped aggregation (tsdb/aggregation.py)."""
    df = agg_ops.aggregate(_instant(spark, sf_dir), ["event_type"], "stddev")
    return _round(df, {"value": 6})


SQL_AGG_STDDEV_BY = _INST_SQL + (
    "SELECT event_type, step_ts, round(stddev_pop(value), 6) AS value FROM inst GROUP BY 1, 2"
)


def q_agg_quantile_by(spark, sf_dir):
    """PromQL quantile by(label) with upstream quantile.go semantics, exact (tsdb/aggregation.py)."""
    df = agg_ops.aggregate(_instant(spark, sf_dir), ["event_type"], "quantile", quantile=0.5)
    return _round(df, {"value": 6})


SQL_AGG_QUANTILE_BY = _INST_SQL + (
    ", g AS (SELECT event_type, step_ts, list(value) AS vals"
    " FROM inst GROUP BY 1, 2)\n"
    f"SELECT event_type, step_ts, round({{q}}, 6) AS value FROM g"
).format(q=_duck_prom_quantile("vals", 0.5))


def q_topk(spark, sf_dir):
    """PromQL topk(): two-phase sharded per-step top-k — no global sort (tsdb/aggregation.py)."""
    vec = _instant(spark, sf_dir)
    df = agg_ops.topk(vec, by=["event_type"], series_keys=["user_id"], k=2)
    return _round(df, {"value": 6})


SQL_TOPK = _INST_SQL + f"""
, ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type, step_ts
                               ORDER BY value DESC, user_id) AS rank
  FROM inst)
SELECT user_id, event_type, step_ts, round(value, 6) AS value
FROM ranked WHERE rank <= 2
"""


def q_limitk(spark, sf_dir):
    """limitk(2, ...) by (event_type) — experimental upstream aggregation
    (promql/functions, feature-flagged): at most k series per group, pick
    order deterministic on the series keys (tsdb/aggregation.limitk)."""
    vec = _instant(spark, sf_dir)
    df = agg_ops.limitk(vec, by=["event_type"], series_keys=["user_id"], k=2)
    return _round(df, {"value": 6})


SQL_LIMITK = _INST_SQL + """
, ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type, step_ts
                               ORDER BY user_id) AS rank
  FROM inst)
SELECT user_id, event_type, step_ts, round(value, 6) AS value
FROM ranked WHERE rank <= 2
"""


def q_limit_ratio(spark, sf_dir):
    """limit_ratio(0.7, ...) — experimental upstream aggregation:
    deterministic per-series sampling by label-hash threshold
    (tsdb/aggregation.limit_ratio); a zero-shuffle narrow filter."""
    vec = _instant(spark, sf_dir)
    df = agg_ops.limit_ratio(
        vec, by=[], series_keys=["user_id", "event_type"], r=0.7
    )
    return _round(df, {"value": 6})


SQL_LIMIT_RATIO = _INST_SQL + f"""
, keyed AS (
  SELECT *, md5(concat_ws(chr(31), user_id::VARCHAR, event_type)) AS lrk
  FROM inst)
SELECT user_id, event_type, step_ts, round(value, 6) AS value
FROM keyed WHERE {agg_ops._hex_fraction_expr('lrk')} < 0.7
"""


def q_count_values(spark, sf_dir):
    """PromQL count_values(): series count per distinct sample value (tsdb/aggregation.py)."""
    vec = _instant(spark, sf_dir).withColumn(
        "value", F.floor(F.col("value") / F.lit(100.0)) * F.lit(100.0)
    )
    return agg_ops.count_values(vec, by=[], label="value_label")


SQL_COUNT_VALUES = _INST_SQL + """
SELECT floor(value / 100.0) * 100.0 AS value_label, step_ts, count(*)::DOUBLE AS value
FROM inst GROUP BY 1, 2
"""


def _purchase_vec(spark, sf_dir):
    pts = _pts(spark, sf_dir).filter(F.col("event_type") == "purchase")
    return selectors.instant_select(pts, ["user_id"], STEP_MS, LOOKBACK_MS)


def _error_vec(spark, sf_dir):
    pts = _pts(spark, sf_dir).filter(F.col("event_type") == "error")
    return selectors.instant_select(pts, ["user_id"], STEP_MS, LOOKBACK_MS)


_LP_SQL = f"""
lp AS (
  SELECT p.user_id, g.step_ts, arg_max(p.value, p.ts) AS value
  FROM (SELECT * FROM pts WHERE event_type = 'purchase') p, grid g
  WHERE p.ts > g.step_ts - {LOOKBACK_MS} AND p.ts <= g.step_ts GROUP BY 1, 2),
le AS (
  SELECT p.user_id, g.step_ts, arg_max(p.value, p.ts) AS value
  FROM (SELECT * FROM pts WHERE event_type = 'error') p, grid g
  WHERE p.ts > g.step_ts - {LOOKBACK_MS} AND p.ts <= g.step_ts GROUP BY 1, 2)
"""


def q_binop_ratio(spark, sf_dir):
    """Vector / vector arithmetic with on(...) label matching, Go division semantics (tsdb/binops.py)."""
    left = _purchase_vec(spark, sf_dir)
    total = agg_ops.aggregate(_instant(spark, sf_dir), ["user_id"], "sum")
    df = binops.arith(left, total, on=["user_id"], op="/")
    return _round(df, {"value": 6})


SQL_BINOP_RATIO = _INST_SQL + f", {_LP_SQL}" + """
, tot AS (SELECT user_id, step_ts, sum(value) AS value FROM inst GROUP BY 1, 2)
SELECT lp.user_id, lp.step_ts, round(lp.value / tot.value, 6) AS value
FROM lp JOIN tot ON lp.user_id = tot.user_id AND lp.step_ts = tot.step_ts
"""


def q_binop_gt(spark, sf_dir):
    """Vector > vector comparison filter: drops non-matching samples (tsdb/binops.py)."""
    df = binops.compare(
        _purchase_vec(spark, sf_dir), _error_vec(spark, sf_dir), on=["user_id"], op=">"
    )
    return _round(df, {"value": 6})


SQL_BINOP_GT = f"WITH pts AS ({_PTS}),\n{_grid_sql()},\n{_LP_SQL}" + """
SELECT lp.user_id, lp.step_ts, round(lp.value, 6) AS value
FROM lp JOIN le ON lp.user_id = le.user_id AND lp.step_ts = le.step_ts
WHERE lp.value > le.value
"""


def q_set_and(spark, sf_dir):
    """PromQL and: intersection on matching label signatures (tsdb/binops.py)."""
    df = binops.set_op(
        _purchase_vec(spark, sf_dir), _error_vec(spark, sf_dir), on=["user_id"], op="and"
    )
    return _round(df, {"value": 6})


def q_set_unless(spark, sf_dir):
    """PromQL unless: left side minus signature matches (tsdb/binops.py)."""
    df = binops.set_op(
        _purchase_vec(spark, sf_dir), _error_vec(spark, sf_dir), on=["user_id"], op="unless"
    )
    return _round(df, {"value": 6})


def q_set_or(spark, sf_dir):
    """PromQL or: union with left-side precedence per signature (tsdb/binops.py)."""
    df = binops.set_op(
        _purchase_vec(spark, sf_dir), _error_vec(spark, sf_dir), on=["user_id"], op="or"
    )
    return _round(df, {"value": 6})


_SET_PRE = f"WITH pts AS ({_PTS}),\n{_grid_sql()},\n{_LP_SQL}"
SQL_SET_AND = _SET_PRE + """
SELECT lp.user_id, lp.step_ts, round(lp.value, 6) AS value
FROM lp WHERE EXISTS (SELECT 1 FROM le WHERE le.user_id = lp.user_id AND le.step_ts = lp.step_ts)
"""
SQL_SET_UNLESS = _SET_PRE + """
SELECT lp.user_id, lp.step_ts, round(lp.value, 6) AS value
FROM lp WHERE NOT EXISTS (SELECT 1 FROM le WHERE le.user_id = lp.user_id AND le.step_ts = lp.step_ts)
"""
SQL_SET_OR = _SET_PRE + """
SELECT user_id, step_ts, round(value, 6) AS value FROM lp
UNION ALL
SELECT user_id, step_ts, round(value, 6) AS value FROM le
WHERE NOT EXISTS (SELECT 1 FROM lp WHERE lp.user_id = le.user_id AND lp.step_ts = le.step_ts)
"""


def q_preagg_route_avg(spark, sf_dir):
    """A15/A16 routing: step >= resolution -> serve avg_over_time from the
    5-min pre-agg table's avg column instead of raw points."""
    assert downsample.use_preagg(STEP_MS)
    ds = downsample.downsample(_pts(spark, sf_dir), KEYS, RES_MS)
    ds_pts = downsample.as_points(ds, KEYS, "avg_over_time")
    grid = data_grid(ds_pts, STEP_MS)
    df = range_fns.over_time(ds_pts, KEYS, STEP_MS, RANGE_MS, "avg", grid=grid)
    return _round(df, {"value": 6})


SQL_PREAGG_ROUTE_AVG = f"""
WITH pts0 AS ({_PTS}),
pts AS (SELECT user_id, event_type, ts - ts % {RES_MS} AS ts, avg(value) AS value
        FROM pts0 GROUP BY 1, 2, 3),
{_grid_sql()},
{_rs_sql()}
SELECT user_id, event_type, step_ts, round(avg(value), 6) AS value
FROM rs GROUP BY 1, 2, 3
"""


def q_preagg_route_rate(spark, sf_dir):
    """Counter functions route to the MAX pre-agg column (read.go:604-609)."""
    ds = downsample.downsample(_pts(spark, sf_dir), KEYS, RES_MS)
    ds_pts = downsample.as_points(ds, KEYS, "rate")
    grid = data_grid(ds_pts, STEP_MS)
    df = range_fns.extrapolated(
        ds_pts, KEYS, STEP_MS, RANGE_MS, is_counter=True, is_rate=True, grid=grid
    )
    return _round(df, {"value": 6})


SQL_PREAGG_ROUTE_RATE = _extrapolated_sql(RANGE_MS, True, True).replace(
    f"WITH pts AS ({_PTS})",
    f"WITH pts0 AS ({_PTS}),\n"
    f"pts AS (SELECT user_id, event_type, ts - ts % {RES_MS} AS ts, max(value) AS value"
    f" FROM pts0 GROUP BY 1, 2, 3)",
)


def q_stitch(spark, sf_dir):
    """A17 invariant: pre-agg head + re-downsampled raw tail == one uniform
    downsample over everything (the oracle computes the latter directly)."""
    pts = _pts(spark, sf_dir)
    preagg = downsample.downsample(pts.filter(F.col("ts") < STITCH_CUTOFF_MS), KEYS, RES_MS)
    df = downsample.stitch(preagg, pts, KEYS, STITCH_CUTOFF_MS, "avg_over_time", RES_MS)
    return _round(df, {"value": 6})


SQL_STITCH = f"""
WITH pts AS ({_PTS})
SELECT user_id, event_type, ts - ts % {RES_MS} AS ts, round(avg(value), 6) AS value
FROM pts GROUP BY user_id, event_type, ts - ts % {RES_MS}
"""


def q_dedup(spark, sf_dir):
    """A7 invariant: union the stream with a doubled re-write (higher ingest
    seq); dedup must keep exactly the re-written values."""
    pts = _pts(spark, sf_dir)
    v0 = pts.withColumn("seq", F.lit(0))
    v1 = pts.withColumn("value", F.col("value") * 2).withColumn("seq", F.lit(1))
    df = maintenance.dedup_points(v0.unionByName(v1), KEYS, tiebreak="seq")
    return _round(df.select(*KEYS, "ts", "value"), {"value": 6})


SQL_DEDUP = f"""
WITH pts AS ({_PTS})
SELECT user_id, event_type, ts, round(value * 2, 6) AS value FROM pts
"""


def q_retention(spark, sf_dir):
    """A37 TTL retention sweep, incl. the per-write TTL column (tsdb/maintenance.py)."""
    pts = maintenance.apply_retention(_pts(spark, sf_dir), RETENTION_NOW_MS, RETENTION_TTL_S)
    return pts.groupBy(*KEYS).agg(F.count(F.lit(1)).alias("cnt"))


SQL_RETENTION = f"""
WITH pts AS ({_PTS})
SELECT user_id, event_type, count(*) AS cnt FROM pts
WHERE ts >= {RETENTION_NOW_MS - RETENTION_TTL_S * 1000} GROUP BY 1, 2
"""


def q_interning(spark, sf_dir):
    """A4 series interning: 60-bit content-hash IDs computed map-side, lock-free (model.py)."""
    return model.series_dim(spark, sf_dir)


SQL_INTERNING = f"""
WITH pts AS ({_PTS}),
dim AS (SELECT user_id, event_type, min(ts) AS first_seen, max(ts) AS last_seen,
               count(*) AS n_points
        FROM pts GROUP BY 1, 2)
SELECT ('0x' || substr(md5(event_type || ',' || user_id::VARCHAR), 1, 15))::BIGINT AS series_id,
       user_id, event_type, first_seen, last_seen, n_points
FROM dim
"""


def q_label_values(spark, sf_dir):
    """A22 LabelValues: distinct values of one label across the corpus (tsdb/maintenance.py)."""
    dim = model.series_dim(spark, sf_dir)
    return maintenance.label_values(dim, "event_type")


SQL_LABEL_VALUES = "SELECT DISTINCT event_type FROM events ORDER BY 1"


def q_tenant_filter(spark, sf_dir):
    """A27: implicit tenant matcher prepended to every query (tenant =
    user_id % 10 stands in for the __account_id label)."""
    pts = _pts(spark, sf_dir).filter(F.col("user_id") % 10 == 3)
    vec = selectors.instant_select(pts, KEYS, STEP_MS, LOOKBACK_MS)
    return _round(vec, {"value": 6})


SQL_TENANT_FILTER = f"""
WITH pts AS (SELECT user_id, event_type, epoch_ms(ts) AS ts, value
             FROM events WHERE user_id % 10 = 3),
{_grid_sql()}
SELECT p.user_id, p.event_type, g.step_ts, round(arg_max(p.value, p.ts), 6) AS value
FROM pts p, grid g
WHERE p.ts > g.step_ts - {LOOKBACK_MS} AND p.ts <= g.step_ts
GROUP BY 1, 2, 3
"""

# ------------------------------------------------------------ relational ops


def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing summary report: grouped lineitem aggregates with pushed date filter."""
    li = model.load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= Q1_CUTOFF_MS
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
        ).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


SQL_TPCH_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE epoch_ms(l_shipdate) <= {Q1_CUTOFF_MS}
GROUP BY 1, 2
"""


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shipping priority: 3-way join with broadcast dims + top-k by revenue."""
    cust = model.load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = model.load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < Q3_DATE_MS
    )
    li = model.load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > Q3_DATE_MS
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    return j.groupBy("l_orderkey", "o_orderdate").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


SQL_TPCH_Q3 = f"""
SELECT l_orderkey, epoch_ms(o_orderdate) AS o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND epoch_ms(o_orderdate) < {Q3_DATE_MS} AND epoch_ms(l_shipdate) > {Q3_DATE_MS}
GROUP BY 1, 2
"""


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 local supplier volume: 6-way join, region filter pruned into the dim scans."""
    t = {n: model.load_table(spark, sf_dir, n) for n in
         ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    j = (
        t["lineitem"]
        .join(t["orders"].filter(
            (F.col("o_orderdate") >= Q5_LO_MS) & (F.col("o_orderdate") < Q5_HI_MS)),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]),
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return j.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


SQL_TPCH_Q5 = f"""
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND epoch_ms(o_orderdate) >= {Q5_LO_MS} AND epoch_ms(o_orderdate) < {Q5_HI_MS}
GROUP BY 1
"""

# ------------------------------------------------- LLM-data pipeline ops

from squirreldb_spark.pipeline import dedup as pdedup  # noqa: E402
from squirreldb_spark.pipeline import multimodal as pmm  # noqa: E402
from squirreldb_spark.pipeline import similarity as psim  # noqa: E402
from squirreldb_spark.pipeline import text as ptext  # noqa: E402


def _docs(spark, sf_dir):
    return model.load_table(spark, sf_dir, "documents")


def q_doc_stats(spark, sf_dir):
    """Per-document length/token/lexical-diversity statistics — a narrow map, zero shuffle (pipeline/text.py doc_stats)."""
    df = ptext.doc_stats(_docs(spark, sf_dir))
    for c in ("n_chars_calc", "n_tokens", "n_uniq_tokens", "n_bpe_ish_tokens"):
        df = df.withColumn(c, F.col(c).cast("long"))
    return df


SQL_DOC_STATS = f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       strlen(text) AS n_chars_calc,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_uniq_tokens,
       round(len(list_distinct(toks)) / len(toks), 6) AS quality_uniq_ratio,
       round((strlen(text) - (len(toks) - 1)) / len(toks), 6) AS avg_token_len,
       len(regexp_extract_all(text, '{ptext.TOKEN_RE}')) AS n_bpe_ish_tokens
FROM t
"""


def q_doc_langid(spark, sf_dir):
    """Character-n-gram language-ID heuristic scored per document (pipeline/text.py)."""
    df = ptext.lang_scores(_docs(spark, sf_dir))
    for lang in ptext.STOPWORDS:
        df = df.withColumn(f"score_{lang}", F.col(f"score_{lang}").cast("long"))
    return df


def q_doc_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint in the scan, zero shuffle (pipeline/text.py)."""
    return ptext.fingerprint(_docs(spark, sf_dir))


SQL_DOC_FINGERPRINT = """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def q_doc_exact_dedup(spark, sf_dir):
    """Exact dedup groups: content hash -> representative + duplicate count (pipeline/dedup.py exact_dedup)."""
    return pdedup.exact_dedup(_docs(spark, sf_dir))


SQL_DOC_EXACT_DEDUP = """
SELECT md5(text) AS content_hash, min(doc_id) AS rep_id, count(*) AS n_dups
FROM documents GROUP BY 1
"""


def q_doc_ngram_jaccard(spark, sf_dir):
    """Exact word-n-gram Jaccard on LSH candidate pairs via in-row array HOFs (pipeline/dedup.py ngram_jaccard_pairs)."""
    docs = _docs(spark, sf_dir)
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return pdedup.ngram_jaccard_pairs(pairs).select("id_a", "id_b", "jaccard")


SQL_DOC_NGRAM_JACCARD = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (SELECT doc_id,
              list_distinct(list_transform(
                generate_series(1, greatest(len(toks) - 2, 1)),
                i -> array_to_string(toks[i : i + 2], ' '))) AS s
       FROM t)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.s, b.s)) / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
"""


def q_doc_minhash(spark, sf_dir):
    """MinHash signatures: K permutation minima in ONE shuffle — one md5 per shingle + K linear permutations (pipeline/dedup.py minhash_signatures)."""
    return pdedup.minhash_signatures(_docs(spark, sf_dir))


def q_doc_minhash_lsh(spark, sf_dir):
    """Banded-LSH candidate pairs with the hot-bucket cap counted on the join's own shuffle key (pipeline/dedup.py lsh_candidate_pairs)."""
    # the signature relation feeds four plan branches (both self-join
    # sides + both estimate joins); AQE's ReusedExchange dedupes the
    # identical shuffle subtrees, so an explicit cache() only hurts
    # (measured: cold cache 6.6 s vs 2.5-3.6 s at sf0.1 — it breaks
    # stage pipelining)
    sig = pdedup.minhash_signatures(_docs(spark, sf_dir))
    pairs = pdedup.lsh_candidate_pairs(sig)
    return pdedup.minhash_estimated_similarity(sig, pairs)


def q_doc_simhash(spark, sf_dir):
    """SimHash fingerprints: 60 bit-sums folded in an Arrow-batched pandas pass, zero shuffle (pipeline/dedup.py simhash)."""
    return pdedup.simhash(_docs(spark, sf_dir))


def q_emb_cosine_knn(spark, sf_dir):
    """Brute-force cosine top-k: JVM-side dot products against a broadcast query set (pipeline/similarity.py cosine_knn)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.cosine_knn(emb).withColumn("rank", F.col("rank").cast("long"))


def q_emb_ann_lsh(spark, sf_dir):
    """Hyperplane-LSH bucketed ANN: literal plane folds in the scan (pipeline/similarity.py ann_lsh)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.ann_lsh(emb).withColumn("rank", F.col("rank").cast("long"))


def q_emb_ann_ivf(spark, sf_dir):
    """Serving path only: the quantizer is trained once per corpus
    (train_ivf, memoized on sf_dir) and broadcast; the query plan is
    assign + probe-cell join + rerank with no Lloyd iterations."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.ann_ivf(emb, cache_key=sf_dir).withColumn(
        "rank", F.col("rank").cast("long")
    )


def q_emb_neardup(spark, sf_dir):
    """Multi-table LSH near-duplicate pairs above a cosine threshold, hot-bucket capped (pipeline/similarity.py embedding_neardup_pairs)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.embedding_neardup_pairs(emb)


def q_mm_extract(spark, sf_dir):
    """Binary-payload feature extraction via Arrow mapInPandas; decode stubbed, plumbing real (pipeline/multimodal.py)."""
    return pmm.extract_features(pmm.as_binary_table(_docs(spark, sf_dir)))


def q_mm_resize(spark, sf_dir):
    """Image-resize plumbing over binary payloads in Arrow batches; decode stubbed (pipeline/multimodal.py)."""
    out = pmm.resize_images(pmm.as_binary_table(_docs(spark, sf_dir)))
    # hash compare is textual: stringify the pixel array identically on
    # both sides (the operator itself keeps the real array<long>)
    return out.select(
        "doc_id", "width", "height",
        F.array_join(F.transform("pixels", lambda x: x.cast("string")), ",")
         .alias("pixels_csv"),
    )


def q_mm_frames(spark, sf_dir):
    """Deterministic frame sampling from video payloads in Arrow batches; decode stubbed (pipeline/multimodal.py)."""
    return pmm.sample_frames(pmm.as_binary_table(_docs(spark, sf_dir)))


def q_mm_audio(spark, sf_dir):
    """Audio windowing plumbing: per-window energy features (mean/peak
    byte as the FFT stand-in), ordered fan-out inside one Arrow batch."""
    return pmm.sample_audio_windows(pmm.as_binary_table(_docs(spark, sf_dir)))


def q_mm_audio_matches(spark, sf_dir):
    """Shazam-style constellation matching: packed landmark-pair
    fingerprints from the Arrow peak pass, hot-fingerprint cap, then an
    inverted-index self-join — pairs sharing >= FP_MIN_SHARED (25)
    landmarks (pipeline/multimodal.py audio_matches)."""
    return pmm.audio_matches(pmm.as_binary_table(_docs(spark, sf_dir)))


def q_mm_audio_align(spark, sf_dir):
    """Offset-histogram alignment of audio match candidates (the Wang
    ISMIR'03 verification step): shared landmarks of each candidate pair
    vote on an anchor-time offset; `aligned_landmarks` is the winning
    diagonal's size — genuine copies concentrate on one offset,
    coincidental collisions spread flat (pipeline/multimodal.py
    audio_align)."""
    return pmm.audio_align(pmm.as_binary_table(_docs(spark, sf_dir)))


# ----------------------------------------------- long-tail PromQL functions

from squirreldb_spark.promql.ast import Matcher  # noqa: E402
from squirreldb_spark.tsdb import functions as fns  # noqa: E402
from squirreldb_spark.tsdb import mutable as mut  # noqa: E402

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
HIST_LES = [50.0, 100.0, 200.0, float("inf")]


def q_histogram_quantile(spark, sf_dir):
    """Bucket a range vector into cumulative le-counts per (event_type,
    step), then Prometheus-interpolate the 0.9 quantile."""
    rs = selectors.range_select(_pts(spark, sf_dir), ["event_type"], STEP_MS, RANGE_MS)
    les = spark.createDataFrame([(le,) for le in HIST_LES], "le double")
    buckets = (
        rs.crossJoin(F.broadcast(les))
        .groupBy("event_type", "step_ts", "le")
        .agg(F.count(F.when(F.col("value") <= F.col("le"), 1)).cast("double").alias("value"))
    )
    out = fns.histogram_quantile(buckets, 0.9, ["event_type"], le_col="le")
    return _round(out, {"value": 6})


SQL_HISTOGRAM_QUANTILE = f"""
WITH pts AS ({_PTS}), {_grid_sql()}, {_rs_sql()},
les AS (SELECT unnest([50.0, 100.0, 200.0, 'inf'::DOUBLE]) AS le),
buckets AS (
  SELECT event_type, step_ts, le,
         count(CASE WHEN value <= le THEN 1 END)::DOUBLE AS cum
  FROM rs, les GROUP BY 1, 2, 3),
enr AS (
  SELECT *, lag(le) OVER w AS prev_le, lag(cum) OVER w AS prev_count,
         max(cum) OVER (PARTITION BY event_type, step_ts) AS total,
         max(CASE WHEN le != 'inf'::DOUBLE THEN le END)
             OVER (PARTITION BY event_type, step_ts) AS max_finite
  FROM buckets WINDOW w AS (PARTITION BY event_type, step_ts ORDER BY le)),
hit AS (
  SELECT *, row_number() OVER (PARTITION BY event_type, step_ts ORDER BY le) AS rn
  FROM enr WHERE cum >= 0.9 * total)
SELECT event_type, step_ts,
       round(CASE WHEN le = 'inf'::DOUBLE THEN max_finite
             ELSE coalesce(prev_le, 0) + (le - coalesce(prev_le, 0))
                  * (0.9 * total - coalesce(prev_count, 0)) / (cum - coalesce(prev_count, 0))
             END, 6) AS value
FROM hit WHERE rn = 1
"""


def q_deriv(spark, sf_dir):
    """PromQL deriv(): per-window least-squares slope with upstream intercept-time centering (tsdb/functions.py)."""
    df = fns.linreg(_pts(spark, sf_dir), KEYS, STEP_MS, RANGE_MS)
    return _round(df, {"value": 6})


def q_predict_linear(spark, sf_dir):
    """PromQL predict_linear(): least-squares extrapolation t seconds ahead (tsdb/functions.py)."""
    df = fns.linreg(_pts(spark, sf_dir), KEYS, STEP_MS, RANGE_MS, predict_s=3600.0)
    return _round(df, {"value": 6})


def _linreg_sql(predict_s: float | None) -> str:
    value = (
        "cov / var"
        if predict_s is None
        else f"(cov / var) * {predict_s!r} + (my - (cov / var) * mx)"
    )
    return f"""
WITH pts AS ({_PTS}), {_grid_sql()}, {_rs_sql()},
agg AS (
  SELECT user_id, event_type, step_ts, count(*) AS n,
         covar_pop((ts - step_ts) / 1000.0, value) AS cov,
         var_pop((ts - step_ts) / 1000.0) AS var,
         avg((ts - step_ts) / 1000.0) AS mx, avg(value) AS my
  FROM rs GROUP BY 1, 2, 3 HAVING count(*) >= 2 AND var_pop((ts - step_ts) / 1000.0) > 0)
SELECT user_id, event_type, step_ts, round({value}, 6) AS value FROM agg
"""


def q_absent(spark, sf_dir):
    """absent() through the engine: result labels derive from the
    selector's equality matchers (upstream createLabelsForAbsentFunction)
    — {user_id="3"} here, with __name__ excluded."""
    return _engine(spark, sf_dir).query_range(
        'absent({__name__="purchase", user_id="3"})'
    )


SQL_ABSENT = f"""
WITH pts AS ({_PTS}), {_grid_sql()},
vec AS (
  SELECT g.step_ts
  FROM pts p, grid g
  WHERE p.ts > g.step_ts - {LOOKBACK_MS} AND p.ts <= g.step_ts
    AND p.event_type = 'purchase' AND p.user_id::VARCHAR = '3'
  GROUP BY 1)
SELECT '3' AS user_id, g.step_ts, 1.0 AS value FROM grid g
WHERE NOT EXISTS (SELECT 1 FROM vec v WHERE v.step_ts = g.step_ts)
"""


def q_date_fns(spark, sf_dir):
    """PromQL date functions (minute/hour/day_of_week/...) over sample timestamps (tsdb/functions.py)."""
    grid = data_grid(_pts(spark, sf_dir), STEP_MS)
    return fns.date_parts(grid)


SQL_DATE_FNS = f"""
WITH pts AS ({_PTS}), {_grid_sql()},
t AS (SELECT step_ts, make_timestamp(step_ts * 1000) AS ts FROM grid)
SELECT step_ts,
       ((step_ts // 86400000 + 4) % 7)::DOUBLE AS day_of_week,
       date_part('day', ts)::DOUBLE AS day_of_month,
       date_part('doy', ts)::DOUBLE AS day_of_year,
       date_part('month', ts)::DOUBLE AS month,
       date_part('year', ts)::DOUBLE AS year,
       date_part('hour', ts)::DOUBLE AS hour,
       date_part('minute', ts)::DOUBLE AS minute,
       date_part('day', last_day(ts))::DOUBLE AS days_in_month
FROM t
"""


def q_label_replace(spark, sf_dir):
    """PromQL label_replace(): regex capture-group label rewrite (tsdb/functions.py)."""
    vec = _instant(spark, sf_dir)
    out = fns.label_replace(vec, "kind", "$1", "event_type", "(p.*|e.*)")
    return _round(out, {"value": 6})


SQL_LABEL_REPLACE = _INST_SQL + """
SELECT user_id, event_type, step_ts, round(value, 6) AS value,
       CASE WHEN regexp_matches(event_type, '^(?:(p.*|e.*))$')
            THEN regexp_replace(event_type, '^(?:(p.*|e.*))$', '\\1')
            ELSE '' END AS kind
FROM inst
"""


def q_label_join(spark, sf_dir):
    """PromQL label_join(): concatenate source labels into a destination label (tsdb/functions.py)."""
    vec = _instant(spark, sf_dir)
    out = fns.label_join(vec, "series_key", "-", ["user_id", "event_type"])
    return _round(out, {"value": 6})


SQL_LABEL_JOIN = _INST_SQL + """
SELECT user_id, event_type, step_ts, round(value, 6) AS value,
       user_id::VARCHAR || '-' || event_type AS series_key
FROM inst
"""


def q_mutable_labels(spark, sf_dir):
    """A31+A32: rewrite group="high" -> user_id isin(...), then enrich
    results with the mutable label."""
    mapping = spark.createDataFrame(
        [("t1", "group", "high", "user_id", [str(u) for u in range(5)])],
        mut.MAPPING_SCHEMA,
    ).collect()
    pts = mut.rewrite_filter(
        _pts(spark, sf_dir), mapping, "t1", Matcher("group", "=", "high")
    )
    grid = data_grid(_pts(spark, sf_dir), STEP_MS)
    vec = selectors.instant_select(pts, KEYS, STEP_MS, LOOKBACK_MS, grid=grid)
    out = mut.enrich(vec, mapping, "t1", "group")
    return _round(out.select(*KEYS, "step_ts", "value", "group"), {"value": 6})


SQL_MUTABLE_LABELS = f"""
WITH pts AS ({_PTS}), {_grid_sql()}
SELECT p.user_id, p.event_type, g.step_ts,
       round(arg_max(p.value, p.ts), 6) AS value, 'high' AS "group"
FROM pts p, grid g
WHERE p.ts > g.step_ts - {LOOKBACK_MS} AND p.ts <= g.step_ts
  AND p.user_id::VARCHAR IN ('0', '1', '2', '3', '4')
GROUP BY 1, 2, 3
"""


def q_export_pivot(spark, sf_dir):
    """A35: wide Parquet export layout — per (user, ts) one column per metric."""
    pts = _pts(spark, sf_dir).withColumn(
        "series", F.concat_ws("_", F.lit("u"), F.col("user_id"), F.col("event_type"))
    )
    # pivot per timestamp over event types for one user slice (deterministic columns)
    one_user = pts.filter(F.col("user_id") == 1)
    return fns.export_pivot(one_user, "event_type", EVENT_TYPES)


SQL_EXPORT_PIVOT = f"""
WITH pts AS ({_PTS})
SELECT ts,
       max(CASE WHEN event_type = 'click' THEN value END) AS click,
       max(CASE WHEN event_type = 'error' THEN value END) AS error,
       max(CASE WHEN event_type = 'purchase' THEN value END) AS purchase,
       max(CASE WHEN event_type = 'signup' THEN value END) AS signup,
       max(CASE WHEN event_type = 'view' THEN value END) AS "view"
FROM pts WHERE user_id = 1 GROUP BY ts
"""


def q_holt_winters(spark, sf_dir):
    """Sequential smoothing -> applyInPandas (Arrow-batched pandas path)."""
    df = fns.holt_winters(_pts(spark, sf_dir), KEYS, STEP_MS, RANGE_MS, sf=0.5, tf=0.3)
    # identical-double rounding: smoothing with dyadic sf/tf lands many
    # values exactly on .5 decimal boundaries, where Spark (rounds the
    # shortest decimal string) and DuckDB (rounds the binary double)
    # disagree; floor(x*1e6 + 0.5)/1e6 is the same IEEE ops on both sides
    return df.withColumn(
        "value", F.floor(F.col("value") * 1e6 + F.lit(0.5)) / F.lit(1e6)
    )


def _holt_winters_sql(sf: float, tf: float) -> str:
    """Recursive-CTE oracle replaying the smoothing recurrence with the
    EXACT float-op order of the pandas loop (constants pre-computed in
    Python so 1-tf is the same double on both sides)."""
    omsf, omtf = 1.0 - sf, 1.0 - tf
    new_s = f"({sf!r} * x.value) + ({omsf!r} * (h.s + h.b))"
    return f"""
WITH RECURSIVE pts AS ({_PTS}), {_grid_sql()}, {_rs_sql()},
xs AS (
  SELECT user_id, event_type, step_ts, value,
         row_number() OVER (PARTITION BY user_id, event_type, step_ts
                            ORDER BY ts, value) AS i,
         count(*) OVER (PARTITION BY user_id, event_type, step_ts) AS n
  FROM rs),
hw AS (
  SELECT a.user_id, a.event_type, a.step_ts, a.n, 1 AS i,
         a.value AS s, b.value - a.value AS b
  FROM xs a JOIN xs b
    ON a.user_id = b.user_id AND a.event_type = b.event_type
   AND a.step_ts = b.step_ts AND a.i = 1 AND b.i = 2
  UNION ALL
  SELECT h.user_id, h.event_type, h.step_ts, h.n, h.i + 1,
         {new_s} AS s,
         {tf!r} * (({new_s}) - h.s) + ({omtf!r} * h.b) AS b
  FROM hw h JOIN xs x
    ON x.user_id = h.user_id AND x.event_type = h.event_type
   AND x.step_ts = h.step_ts AND x.i = h.i + 1)
SELECT user_id, event_type, step_ts, floor(s * 1e6 + 0.5) / 1e6 AS value
FROM hw WHERE i = n
"""


def q_import_roundtrip(spark, sf_dir):
    """A35 both directions: wide export melted back to tall points."""
    pts = _pts(spark, sf_dir).filter(F.col("user_id") == 1)
    wide = fns.export_pivot(pts, "event_type", EVENT_TYPES)
    return fns.import_pivot(wide, "event_type", EVENT_TYPES)


SQL_IMPORT_ROUNDTRIP = f"""
WITH pts AS ({_PTS})
SELECT ts, event_type, max(value) AS value
FROM pts WHERE user_id = 1 GROUP BY 1, 2
"""


def q_index_verify(spark, sf_dir):
    """A40: fact/dim cross-check (reference index verifier)."""
    return maintenance.verify_index(
        _pts(spark, sf_dir), model.series_dim(spark, sf_dir), KEYS
    )


SQL_INDEX_VERIFY = """
WITH fact_series AS (SELECT DISTINCT user_id, event_type FROM events)
SELECT 'orphan_fact_series' AS "check", 0::BIGINT AS n
UNION ALL SELECT 'empty_dim_series', 0::BIGINT
UNION ALL SELECT 'n_series', (SELECT count(*) FROM fact_series)
UNION ALL SELECT 'n_points', (SELECT count(*) FROM events)
"""

TPCH_Q6_LO_MS, TPCH_Q6_HI_MS = 788_918_400_000, 820_454_400_000  # calendar 1995
Q10_LO_MS, Q10_HI_MS = 812_505_600_000, 820_454_400_000  # 1995-10..1996-01


def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6: pure scan + filter + aggregate — the predicate-pushdown
    showcase (no join, no shuffle beyond the final partial-agg merge)."""
    li = model.load_table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= TPCH_Q6_LO_MS)
        & (F.col("l_shipdate") < TPCH_Q6_HI_MS)
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue")
    )


SQL_TPCH_Q6 = f"""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE epoch_ms(l_shipdate) >= {TPCH_Q6_LO_MS} AND epoch_ms(l_shipdate) < {TPCH_Q6_HI_MS}
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


Q4_LO_MS, Q4_HI_MS = 788_918_400_000, 796_694_400_000    # 1995-Q1
Q14_LO_MS, Q14_HI_MS = 809_913_600_000, 812_505_600_000  # 1995-09
LATE_MS = 60 * 86_400_000


def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape: order-priority counts gated by an EXISTS
    subquery — lowered to a LEFT SEMI join on the order key (the plan
    Catalyst picks for decorrelated EXISTS). Adapted predicate
    (l_quantity > 45) since the test schema has no commit/receipt
    dates; the join/agg shape is the point."""
    orders = model.load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q4_LO_MS) & (F.col("o_orderdate") < Q4_HI_MS)
    )
    big = model.load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") > 45
    ).select(F.col("l_orderkey").alias("o_orderkey")).distinct()
    return (
        orders.join(big, on="o_orderkey", how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


SQL_TPCH_Q4 = f"""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE epoch_ms(o_orderdate) >= {Q4_LO_MS} AND epoch_ms(o_orderdate) < {Q4_HI_MS}
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
GROUP BY o_orderpriority
"""


def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13: customer order-count distribution — LEFT OUTER join
    (customers with no orders count as 0) then a two-level aggregation.
    The outer join shuffles on the customer key; the distribution agg is
    tiny. Priority filter adapts Q13's not-like comment predicate."""
    cust = model.load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = model.load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


SQL_TPCH_Q13 = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority != '1-URGENT'
  GROUP BY c_custkey)
SELECT c_count, count(*) AS custdist
FROM per_cust GROUP BY c_count
"""

Q18_QTY = 200.0


def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18: large-volume orders — per-order quantity sum with a
    HAVING gate, then joins back to orders and customers. The having
    output is small, so both enrichment joins broadcast it."""
    li = model.load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > Q18_QTY)
    )
    orders = model.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = model.load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    j = orders.join(
        F.broadcast(big), orders.o_orderkey == big.l_orderkey, "inner"
    ).join(cust, orders.o_custkey == cust.c_custkey, "inner")
    return j.select("c_name", "o_orderkey", "o_totalprice", "sum_qty")


SQL_TPCH_Q18 = f"""
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > {Q18_QTY})
SELECT c_name, o_orderkey, o_totalprice, sum_qty
FROM orders JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive brand/size/quantity predicate
    triples over the part join — the OR-of-ANDs pushdown test (each
    disjunct prunes with the broadcast dim). Containers adapted to
    p_size bands (test schema has no p_container)."""
    li = model.load_table(spark, sf_dir, "lineitem")
    part = model.load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#1") & s.between(1, 10) & q.between(1, 11))
        | ((b == "Brand#2") & s.between(1, 20) & q.between(10, 20))
        | ((b == "Brand#3") & s.between(1, 30) & q.between(20, 30))
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.filter(cond).agg(F.round(F.sum(disc), 2).alias("revenue"))


SQL_TPCH_Q19 = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 30)
"""


def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14: promo revenue share over one month — broadcast the
    part dimension, conditional aggregation over the fact join."""
    li = model.load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q14_LO_MS) & (F.col("l_shipdate") < Q14_HI_MS)
    )
    part = model.load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey, "inner"
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.agg(
        F.round(
            100.0 * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0))
            / F.sum(disc),
            6,
        ).alias("promo_revenue_pct")
    )


SQL_TPCH_Q14 = f"""
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE epoch_ms(l_shipdate) >= {Q14_LO_MS} AND epoch_ms(l_shipdate) < {Q14_HI_MS}
"""


def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shape: late-shipment counts split into priority
    classes via conditional aggregation (shipmode is absent from the
    test schema; late = shipped >60 days after the order date)."""
    li = model.load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q5_LO_MS) & (F.col("l_shipdate") < Q5_HI_MS)
    ).select("l_orderkey", "l_shipdate")
    orders = model.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey, "inner").filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.lit(LATE_MS)
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
    )


SQL_TPCH_Q12 = f"""
SELECT sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE epoch_ms(l_shipdate) >= {Q5_LO_MS} AND epoch_ms(l_shipdate) < {Q5_HI_MS}
  AND epoch_ms(l_shipdate) > epoch_ms(o_orderdate) + {LATE_MS}
"""


def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10: returned-item revenue, top 20 customers (join + group +
    deterministic top-N on the rounded measure)."""
    from pyspark.sql import Window

    t = {n: model.load_table(spark, sf_dir, n) for n in
         ("customer", "orders", "lineitem", "nation")}
    j = (
        t["lineitem"].filter(F.col("l_returnflag") == "R")
        .join(t["orders"].filter(
            (F.col("o_orderdate") >= Q10_LO_MS) & (F.col("o_orderdate") < Q10_HI_MS)),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    agg = j.groupBy("c_custkey", "c_name", "n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue")
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
    )


SQL_TPCH_Q10 = f"""
WITH agg AS (
  SELECT c_custkey, c_name, n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND epoch_ms(o_orderdate) >= {Q10_LO_MS} AND epoch_ms(o_orderdate) < {Q10_HI_MS}
  GROUP BY 1, 2, 3),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rank FROM agg)
SELECT c_custkey, c_name, n_name, revenue, rank FROM ranked WHERE rank <= 20
"""


# Remaining TPC-H shapes (completing the 22-query relational surface).
# The test schema has no partsupp table, so Q2/Q11/Q16/Q20 derive the
# part<->supplier relation from lineitem (distinct (l_partkey, l_suppkey),
# unit cost = l_extendedprice / l_quantity); join/agg/decorrelation shapes
# are the point, matching the adaptations of Q4/Q12/Q19 above.
YB_MS = 31_557_600_000                # 365.25-day "year" bucket (engine-neutral)
MS_1998 = 883_612_800_000             # 1998-01-01
MS_1996_Q2 = 828_316_800_000          # 1996-04-01
MS_2001 = 978_307_200_000             # 2001-01-01


def _tpch(spark, sf_dir, *names):
    return tuple(model.load_table(spark, sf_dir, n) for n in names)


def _eur_suppliers(spark, sf_dir):
    """supplier ⋈ nation ⋈ region(EUROPE) — two broadcast dim joins."""
    supp, nat, reg = _tpch(spark, sf_dir, "supplier", "nation", "region")
    return (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(
            F.broadcast(reg.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )


def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 shape: min-cost supplier per part. The correlated MIN
    subquery decorrelates to a window min over the part key — one shuffle,
    no self-join (the plan upstream Catalyst picks for decorrelated
    scalar subqueries, minus the extra exchange)."""
    from pyspark.sql import Window

    (li, part) = _tpch(spark, sf_dir, "lineitem", "part")
    cost = (
        li.filter(F.col("l_quantity") > 0)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    parts = part.filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 25)
    ).select("p_partkey", "p_brand")
    pc = cost.join(
        F.broadcast(parts), cost.l_partkey == parts.p_partkey
    ).join(F.broadcast(_eur_suppliers(spark, sf_dir)),
           F.col("l_suppkey") == F.col("s_suppkey"))
    w = Window.partitionBy("p_partkey")
    return (
        pc.withColumn("min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .select(
            "p_partkey", "p_brand", "s_suppkey", "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "n_name", F.round("unit_cost", 4).alias("unit_cost"),
        )
    )


SQL_TPCH_Q2 = """
WITH cost AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2),
eur AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
pc AS (
  SELECT p.p_partkey, p.p_brand, e.s_suppkey, e.s_name, e.s_acctbal,
         e.n_name, c.unit_cost
  FROM (SELECT p_partkey, p_brand FROM part
        WHERE p_type = 'LARGE' AND p_size <= 25) p
  JOIN cost c ON p.p_partkey = c.l_partkey
  JOIN eur e ON c.l_suppkey = e.s_suppkey),
best AS (SELECT p_partkey, min(unit_cost) AS min_cost FROM pc GROUP BY 1)
SELECT pc.p_partkey, pc.p_brand, pc.s_suppkey, pc.s_name,
       round(pc.s_acctbal, 2) AS s_acctbal, pc.n_name,
       round(pc.unit_cost, 4) AS unit_cost
FROM pc JOIN best ON pc.p_partkey = best.p_partkey
                 AND pc.unit_cost = best.min_cost
"""


def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7: shipping volume between a nation pair per year bucket.
    Nation filters are applied to the dimension sides BEFORE the fact
    join, so the big scan only shuffles matching rows."""
    li, supp, orders, cust, nat = _tpch(
        spark, sf_dir, "lineitem", "supplier", "orders", "customer", "nation"
    )
    pair = ("NATION_3", "NATION_8")
    n1 = nat.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    s1 = supp.join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key")).select(
        "s_suppkey", "supp_nation"
    )
    c2 = cust.join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key")).select(
        "c_custkey", "cust_nation"
    )
    j = (
        li.filter(
            (F.col("l_shipdate") >= Q5_LO_MS) & (F.col("l_shipdate") < MS_1998)
        )
        .join(F.broadcast(s1), li.l_suppkey == s1.s_suppkey)
        .join(orders.select("o_orderkey", "o_custkey"),
              li.l_orderkey == F.col("o_orderkey"))
        .join(c2, F.col("o_custkey") == c2.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy(
            "supp_nation", "cust_nation",
            F.expr(f"l_shipdate div {YB_MS}").alias("ship_bucket"),
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )


SQL_TPCH_Q7 = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       epoch_ms(l_shipdate) // {YB_MS} AS ship_bucket,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE epoch_ms(l_shipdate) >= {Q5_LO_MS} AND epoch_ms(l_shipdate) < {MS_1998}
  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
    OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
GROUP BY 1, 2, 3
"""


def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8: national market share — NATION_3's slice of ECONOMY-part
    revenue sold to EUROPE customers, per order-year bucket. Conditional
    aggregation over a 5-table join; every dimension is broadcast."""
    li, part, supp, orders, cust, nat, reg = _tpch(
        spark, sf_dir,
        "lineitem", "part", "supplier", "orders", "customer", "nation", "region",
    )
    eco = part.filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    s_n = supp.join(
        F.broadcast(nat.select(F.col("n_nationkey").alias("sn_key"),
                               F.col("n_name").alias("supp_nation"))),
        supp.s_nationkey == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    eur_cust = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg.filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    j = (
        li.join(F.broadcast(eco), li.l_partkey == eco.p_partkey)
        .join(F.broadcast(s_n), li.l_suppkey == s_n.s_suppkey)
        .join(
            orders.filter(
                (F.col("o_orderdate") >= Q5_LO_MS) & (F.col("o_orderdate") < MS_1998)
            ).select("o_orderkey", "o_custkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .join(eur_cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.groupBy(F.expr(f"o_orderdate div {YB_MS}").alias("order_bucket"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


SQL_TPCH_Q8 = f"""
WITH rev AS (
  SELECT epoch_ms(o_orderdate) // {YB_MS} AS order_bucket,
         l_extendedprice * (1 - l_discount) AS volume,
         n1.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region ON n2.n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
    AND epoch_ms(o_orderdate) >= {Q5_LO_MS} AND epoch_ms(o_orderdate) < {MS_1998})
SELECT order_bucket,
       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
             / sum(volume), 6) AS mkt_share
FROM rev GROUP BY 1
"""


def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 shape: product-type profit by nation and order-year.
    ps_supplycost is absent; cost = 0.5 * p_retailprice * l_quantity."""
    li, part, supp, orders, nat = _tpch(
        spark, sf_dir, "lineitem", "part", "supplier", "orders", "nation"
    )
    gear = part.filter(F.col("p_name").like("%gear%")).select(
        "p_partkey", "p_retailprice"
    )
    s_n = supp.join(
        F.broadcast(nat.select("n_nationkey", F.col("n_name").alias("nation"))),
        supp.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "nation")
    j = (
        li.join(F.broadcast(gear), li.l_partkey == gear.p_partkey)
        .join(F.broadcast(s_n), li.l_suppkey == s_n.s_suppkey)
        .join(orders.select("o_orderkey", "o_orderdate"),
              li.l_orderkey == F.col("o_orderkey"))
    )
    # Profit terms cancel (revenue minus cost), so a float sum rounded to
    # 2dp is order-sensitive; sum exact integer cents instead.
    profit_cents = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 100
    ).cast("long")
    return (
        j.groupBy(
            "nation", F.expr(f"o_orderdate div {YB_MS}").alias("order_bucket")
        )
        .agg(F.round(F.sum(profit_cents) / 100.0, 2).alias("profit"))
    )


SQL_TPCH_Q9 = f"""
SELECT n_name AS nation, epoch_ms(o_orderdate) // {YB_MS} AS order_bucket,
       round(sum(CAST(round((l_extendedprice * (1 - l_discount)
                 - 0.5 * p_retailprice * l_quantity) * 100) AS BIGINT)) / 100.0,
             2) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY 1, 2
"""


def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 shape: parts whose EUROPE-supplied inventory value
    exceeds a threshold of the average (scale-free: TPC-H's fixed
    FRACTION/SF empties out as SF grows). The scalar subquery is a
    broadcast cross join of the one-row global aggregate (Exchange
    reuse computes the per-part aggregate once for both branches)."""
    li = model.load_table(spark, sf_dir, "lineitem")
    eur = _eur_suppliers(spark, sf_dir).select("s_suppkey")
    val = (
        li.join(F.broadcast(eur), li.l_suppkey == eur.s_suppkey, "left_semi")
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
             .alias("part_value"))
    )
    tot = val.agg(F.avg("part_value").alias("avg_value"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("part_value") > 1.5 * F.col("avg_value"))
        .select("p_partkey", F.round("part_value", 2).alias("part_value"))
    )


SQL_TPCH_Q11 = """
WITH val AS (
  SELECT l_partkey, sum(l_extendedprice * l_quantity) AS part_value
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE' GROUP BY 1),
tot AS (SELECT avg(part_value) AS avg_value FROM val)
SELECT l_partkey AS p_partkey, round(part_value, 2) AS part_value
FROM val, tot WHERE part_value > 1.5 * avg_value
"""


def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15: top supplier by 1996-Q1 revenue — the scalar MAX
    subquery as a broadcast cross join against the rounded revenue
    (rounding first makes the equality engine-stable)."""
    li, supp = _tpch(spark, sf_dir, "lineitem", "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= Q5_LO_MS) & (F.col("l_shipdate") < MS_1996_Q2)
        )
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("total_revenue"))
    )
    best = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


SQL_TPCH_Q15 = f"""
WITH rev AS (
  SELECT l_suppkey AS s_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE epoch_ms(l_shipdate) >= {Q5_LO_MS} AND epoch_ms(l_shipdate) < {MS_1996_Q2}
  GROUP BY 1),
best AS (SELECT max(total_revenue) AS max_rev FROM rev)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM rev r JOIN supplier s ON r.s_suppkey = s.s_suppkey, best
WHERE r.total_revenue = best.max_rev
"""


def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per part descriptor,
    with value-list + inequality filters and the complaints NOT-IN as a
    semi join against suppliers in good standing (s_acctbal >= 0)."""
    li, part, supp = _tpch(spark, sf_dir, "lineitem", "part", "supplier")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    sel = part.filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    ok = supp.filter(F.col("s_acctbal") >= 0).select("s_suppkey")
    return (
        ps.join(F.broadcast(sel), ps.l_partkey == sel.p_partkey)
        .join(F.broadcast(ok), ps.l_suppkey == ok.s_suppkey, "left_semi")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_TPCH_Q16 = """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM ps
JOIN part ON l_partkey = p_partkey
WHERE p_brand != 'Brand#1' AND p_type != 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0)
GROUP BY 1, 2, 3
"""


def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17: revenue lost to small-quantity orders. The correlated
    per-part AVG decorrelates into a grouped aggregate joined back on
    the part key (both sides shuffle on l_partkey — co-partitioned)."""
    li, part = _tpch(spark, sf_dir, "lineitem", "part")
    cut = li.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_cut")
    )
    b3 = part.filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    return (
        li.join(F.broadcast(b3), li.l_partkey == b3.p_partkey, "left_semi")
        .join(cut, li.l_partkey == F.col("pa_key"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


SQL_TPCH_Q17 = """
WITH pa AS (
  SELECT l_partkey AS pa_key, 0.2 * avg(l_quantity) AS qty_cut
  FROM lineitem GROUP BY 1)
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN pa ON pa_key = p_partkey
WHERE p_brand = 'Brand#3' AND l_quantity < qty_cut
"""


def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 shape: EUROPE suppliers who shipped > 100 units of red
    parts in 1996 — nested IN subqueries lowered to a HAVING aggregate
    plus a broadcast semi join."""
    li, part = _tpch(spark, sf_dir, "lineitem", "part")
    red = part.filter(F.col("p_name").like("red%")).select("p_partkey")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= Q5_LO_MS) & (F.col("l_shipdate") < Q5_HI_MS)
        )
        .join(F.broadcast(red), li.l_partkey == red.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
        .select("l_suppkey")
    )
    return _eur_suppliers(spark, sf_dir).join(
        F.broadcast(shipped), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name", "n_name")


SQL_TPCH_Q20 = f"""
WITH red AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
shipped AS (
  SELECT l_suppkey, sum(l_quantity) AS qty
  FROM lineitem JOIN red ON l_partkey = p_partkey
  WHERE epoch_ms(l_shipdate) >= {Q5_LO_MS} AND epoch_ms(l_shipdate) < {Q5_HI_MS}
  GROUP BY 1 HAVING sum(l_quantity) > 100)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE' AND s_suppkey IN (SELECT l_suppkey FROM shipped)
"""


def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who alone held up a multi-supplier
    'F' order (late = shipped > 60 days after order). The EXISTS /
    NOT-EXISTS pair decorrelates to per-order supplier counts: other
    supplier exists <=> n_supp >= 2; no other LATE supplier <=>
    n_late == 1 — three aggregations on the same order-key shuffle."""
    li, orders, supp = _tpch(spark, sf_dir, "lineitem", "orders", "supplier")
    li2 = li.select("l_orderkey", "l_suppkey", "l_shipdate")
    f_orders = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    late = (
        li2.join(f_orders, li2.l_orderkey == f_orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.lit(LATE_MS))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    n_all = li2.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp")
    )
    n_late = late.groupBy(F.col("l_orderkey").alias("lo_key")).agg(
        F.countDistinct("l_suppkey").alias("n_late")
    )
    waiting = (
        late.join(n_late, late.l_orderkey == F.col("lo_key"))
        .join(n_all, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    )
    return (
        waiting.join(F.broadcast(supp), waiting.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


SQL_TPCH_Q21 = f"""
WITH l1 AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND epoch_ms(l_shipdate) > epoch_ms(o_orderdate) + {LATE_MS}),
waiting AS (
  SELECT DISTINCT f.l_orderkey, f.l_suppkey FROM l1 f
  WHERE EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = f.l_orderkey
                  AND l2.l_suppkey != f.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM l1 l3
                    WHERE l3.l_orderkey = f.l_orderkey
                      AND l3.l_suppkey != f.l_suppkey))
SELECT s_name, count(*) AS numwait
FROM waiting JOIN supplier ON l_suppkey = s_suppkey
GROUP BY 1
"""


def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape: well-funded customers with no 2001+ orders, per
    nation — scalar AVG subquery (broadcast cross join) + anti join."""
    cust, orders = _tpch(spark, sf_dir, "customer", "orders")
    cut = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = orders.filter(F.col("o_orderdate") >= MS_2001).select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(cut))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


SQL_TPCH_Q22 = f"""
WITH cut AS (SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0.0),
recent AS (SELECT DISTINCT o_custkey FROM orders
           WHERE epoch_ms(o_orderdate) >= {MS_2001})
SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer, cut
WHERE c_acctbal > avg_bal
  AND c_custkey NOT IN (SELECT o_custkey FROM recent)
GROUP BY 1
"""


API_START_MS, API_END_MS = 1_704_672_000_000, 1_707_091_200_000  # explicit grid


def q_api_query_range(spark, sf_dir):
    """The full /api/v1/query_range path: tenant scoping + explicit
    [start, end, step] grid + PromQL string through PromAPI."""
    from squirreldb_spark.api import PromAPI, RequestOptions

    pts = _pts(spark, sf_dir).withColumn(
        "tenant", (F.col("user_id") % 2).cast("string")
    )
    api = PromAPI(pts, label_cols=tuple(KEYS), name_label="event_type",
                  lookback_ms=LOOKBACK_MS)
    out = api.query_range(
        "purchase", API_START_MS, API_END_MS, STEP_MS,
        opts=RequestOptions(tenant="0"),
    )
    return _round(out, {"value": 6})


BOUND_START_MS, BOUND_END_MS = 1_705_708_800_000, 1_706_054_400_000  # 1-20..1-24


def q_api_preagg_stitch(spark, sf_dir):
    """A17 through the API layer: PromAPI carries the pre-agg table +
    stitch cutoff into every engine it builds, so a counter/max query
    reads the pre-agg head and the re-bucketed raw tail in one plan.
    The A17 invariant makes the oracle exact: head+tail == one uniform
    downsample over everything (routing picks the max column for
    max_over_time, read.go:604-609)."""
    from squirreldb_spark.api import PromAPI

    pts = _pts(spark, sf_dir)
    ds = downsample.downsample(
        pts.filter(F.col("ts") < STITCH_CUTOFF_MS), KEYS, RES_MS
    )
    api = PromAPI(
        pts, label_cols=tuple(KEYS), name_label="event_type",
        lookback_ms=LOOKBACK_MS, downsample=ds,
        preagg_resolution_ms=RES_MS, preagg_until_ms=STITCH_CUTOFF_MS,
    )
    out = api.query_range(
        "max_over_time(purchase[14d])", API_START_MS, API_END_MS, STEP_MS
    )
    return _round(out, {"value": 6})


SQL_API_PREAGG_STITCH = f"""
WITH pts0 AS ({_PTS}),
pts AS (SELECT user_id, event_type, ts - ts % {RES_MS} AS ts, max(value) AS value
        FROM pts0 GROUP BY 1, 2, 3),
grid AS (SELECT unnest(generate_series({API_START_MS}, {API_END_MS}, {STEP_MS})) AS step_ts),
rs AS (SELECT p.user_id, g.step_ts, p.value
       FROM pts p, grid g
       WHERE p.ts > g.step_ts - {RANGE_MS} AND p.ts <= g.step_ts
         AND p.event_type = 'purchase')
SELECT user_id, step_ts, round(max(value), 6) AS value
FROM rs GROUP BY 1, 2
"""


def q_api_bounded_scan(spark, sf_dir):
    """Bounded /query_range: explicit narrow [start, end] bounds push a
    ``ts`` window into the fact scan before planning (reference pushes
    from/to into every read — cassandra/tsdb/read.go:380-396). The plan
    shape (filter adjacent to the scan, date-partition pruning on the
    production layout) is asserted in tests/test_plan_shape.py."""
    from squirreldb_spark.api import PromAPI

    api = PromAPI(_pts(spark, sf_dir), label_cols=tuple(KEYS),
                  name_label="event_type", lookback_ms=LOOKBACK_MS)
    out = api.query_range('sum by (event_type) ({__name__=~".+"})',
                          BOUND_START_MS, BOUND_END_MS, STEP_MS)
    return _round(out, {"value": 6})


SQL_API_BOUNDED_SCAN = f"""
WITH pts AS ({_PTS}),
grid AS (SELECT unnest(generate_series({BOUND_START_MS}, {BOUND_END_MS}, {STEP_MS})) AS step_ts),
inst AS (SELECT p.user_id, p.event_type, g.step_ts, arg_max(p.value, p.ts) AS value
         FROM pts p, grid g
         WHERE p.ts > g.step_ts - {LOOKBACK_MS} AND p.ts <= g.step_ts
         GROUP BY 1, 2, 3)
SELECT event_type, step_ts, round(sum(value), 6) AS value
FROM inst GROUP BY 1, 2
"""


def q_api_instant_query(spark, sf_dir):
    """The /api/v1/query (instant) path: a single-step range query at an
    explicit evaluation time through PromAPI (api.py query)."""
    from squirreldb_spark.api import PromAPI

    api = PromAPI(_pts(spark, sf_dir), label_cols=tuple(KEYS),
                  name_label="event_type", lookback_ms=LOOKBACK_MS)
    out = api.query("sum by (event_type) (view)", API_START_MS)
    return _round(out, {"value": 6})


SQL_API_INSTANT_QUERY = f"""
WITH pts AS ({_PTS}),
inst AS (
  SELECT user_id, arg_max(value, ts) AS v
  FROM pts
  WHERE event_type = 'view'
    AND ts > {API_START_MS} - {LOOKBACK_MS} AND ts <= {API_START_MS}
  GROUP BY user_id)
SELECT 'view' AS event_type, CAST({API_START_MS} AS BIGINT) AS step_ts,
       round(sum(v), 6) AS value
FROM inst
HAVING count(*) > 0
"""


SQL_API_QUERY_RANGE = f"""
WITH pts AS (SELECT user_id, event_type, epoch_ms(ts) AS ts, value
             FROM events WHERE user_id % 2 = 0),
grid AS (SELECT unnest(generate_series({API_START_MS}, {API_END_MS}, {STEP_MS})) AS step_ts)
SELECT p.user_id, p.event_type, g.step_ts, round(arg_max(p.value, p.ts), 6) AS value
FROM pts p, grid g
WHERE p.ts > g.step_ts - {LOOKBACK_MS} AND p.ts <= g.step_ts
  AND p.event_type = 'purchase'
GROUP BY 1, 2, 3
"""


# ---------------------------------------- PromQL engine (parser + planner)

from squirreldb_spark.promql import PromQLEngine  # noqa: E402


def _engine(spark, sf_dir) -> PromQLEngine:
    return PromQLEngine(
        _pts(spark, sf_dir), label_cols=tuple(KEYS), name_label="event_type",
        step_ms=STEP_MS, lookback_ms=LOOKBACK_MS,
    )


def _promql(q: str):
    def run(spark, sf_dir):
        df = _engine(spark, sf_dir).query_range(q)
        return _round(df, {"value": 6})

    run.__doc__ = f"PromQL via parser+planner: `{q}`"
    return run


def q_promql_double_exp_smoothing(spark, sf_dir):
    """PromQL via parser+planner:
    `double_exponential_smoothing(purchase[14d], 0.5, 0.3)`.

    Rounds with the smoothing family's boundary-safe convention
    (floor(x*1e6 + 0.5)/1e6, see q_holt_winters): dyadic sf/tf land many
    smoothed values exactly on .5 decimal boundaries, where the generic
    F.round (shortest-decimal-string HALF_UP) and DuckDB's
    binary-double rounding disagree — 11 rows flipped at sf0.01."""
    df = _engine(spark, sf_dir).query_range(
        "double_exponential_smoothing(purchase[14d], 0.5, 0.3)"
    )
    return df.withColumn(
        "value", F.floor(F.col("value") * 1e6 + F.lit(0.5)) / F.lit(1e6)
    )


def q_doc_repetition(spark, sf_dir):
    """Within-document repetition ratios (the Gopher-style quality
    filters): duplicate-token fraction and duplicate n-gram fraction for
    n in {2, 3}. Pure array higher-order expressions — a narrow map over
    the corpus scan, no shuffle, no Python.

    The n-gram lambdas LET-BIND the token array via the one-element
    outer ``transform`` idiom (``pipeline.dedup.shingles``): the former
    body sliced ``split(text)`` directly, re-splitting the document once
    per gram index — the O(words^2) interpreted-HOF bug class the
    round-8 plan lint caught here. Gram strings are unchanged."""
    docs = model.load_table(spark, sf_dir, "documents")
    toks = "split(text, ' ')"

    def ngrams(n: int) -> str:
        return (
            f"flatten(transform(array({toks}), t ->"
            f" transform(sequence(1, greatest(size(t) - {n - 1}, 1)),"
            f" i -> concat_ws(' ', slice(t, i, {n})))))"
        )

    def dup_frac(arr: str) -> str:
        return (
            f"round(1.0 - size(array_distinct({arr})) / size({arr}), 6)"
        )

    return docs.select(
        "doc_id",
        F.expr(dup_frac(toks)).alias("dup_token_frac"),
        F.expr(dup_frac(ngrams(2))).alias("dup_2gram_frac"),
        F.expr(dup_frac(ngrams(3))).alias("dup_3gram_frac"),
    )


def _sql_dup_frac(arr: str) -> str:
    return f"round(1.0 - len(list_distinct({arr})) / len({arr}), 6)"


def _sql_ngrams(n: int) -> str:
    return (
        f"list_transform(generate_series(1, greatest(len(t) - {n - 1}, 1)),"
        f" i -> array_to_string(t[i : i + {n - 1}], ' '))"
    )


SQL_DOC_REPETITION = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
SELECT doc_id,
       {_sql_dup_frac('t')} AS dup_token_frac,
       {_sql_dup_frac(_sql_ngrams(2))} AS dup_2gram_frac,
       {_sql_dup_frac(_sql_ngrams(3))} AS dup_3gram_frac
FROM toks
"""


def q_promql_sort(spark, sf_dir):
    """A24 series-set sort through the engine (sort_desc). The driver's
    value-hash compare is order-insensitive, so this entry attests
    execution + values; the actual ordering is asserted in
    tests/test_promql.py::test_sort_desc_orders_by_value."""
    return _promql("sort_desc(sum by (user_id) (purchase))")(spark, sf_dir)


SQL_PROMQL_SORT = f"""
WITH pts AS ({_PTS}),
{_grid_sql()},
inst AS (SELECT p.user_id, g.step_ts, arg_max(p.value, p.ts) AS value
         FROM pts p, grid g
         WHERE p.ts > g.step_ts - {LOOKBACK_MS} AND p.ts <= g.step_ts
           AND p.event_type = 'purchase'
         GROUP BY 1, 2)
SELECT user_id, step_ts, round(sum(value), 6) AS value
FROM inst GROUP BY 1, 2
"""


def q_doc_bpe_tokens(spark, sf_dir):
    """Token counting for training-data budgeting: whitespace tokens plus
    a BPE-ish subword estimate (GPT-2-style pretokenizer classes:
    letter runs, digit runs, punctuation runs, each optionally
    space-prefixed). Pure regexp column expressions — narrow map."""
    docs = model.load_table(spark, sf_dir, "documents")
    pat = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_ws_tokens"),
        F.size(F.expr(f"regexp_extract_all(text, '{pat}', 0)"))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


SQL_DOC_BPE_TOKENS = """
SELECT doc_id,
       len(string_split(text, ' '))::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+'))::BIGINT AS n_bpe_tokens
FROM documents
"""


def q_doc_quality_filter(spark, sf_dir):
    """Gopher-style composite quality rules -> keep/drop per document
    (narrow map; pipeline/text.py quality_filter)."""
    return ptext.quality_filter(model.load_table(spark, sf_dir, "documents"))


def q_doc_dup_ngrams(spark, sf_dir):
    """Corpus-wide duplicated 8-gram fraction per document (CCNet /
    RefinedWeb quality signal; window count on the shingle shuffle key,
    pipeline/dedup.py duplicate_ngram_ratio)."""
    return pdedup.duplicate_ngram_ratio(
        model.load_table(spark, sf_dir, "documents")
    )


def q_doc_top_terms(spark, sf_dir):
    """Corpus heavy hitters: top-20 tokens by frequency (wordcount shape
    with map-side partial agg + TakeOrdered)."""
    return ptext.top_terms(model.load_table(spark, sf_dir, "documents"))


#: estimated-Jaccard floor for "these candidates ARE duplicates" when
#: clustering (LSH candidates below this are near-misses, not copies)
DUP_EST_JACCARD = 0.5


def q_doc_dedup_clusters(spark, sf_dir):
    """Full dedup DAG to the decision point: MinHash -> LSH candidates
    -> estimated-Jaccard gate -> connected components -> canonical
    representative per duplicate cluster (pipeline/dedup.py
    connected_components; min-label propagation, diameter-bounded)."""
    docs = _docs(spark, sf_dir)
    sig = pdedup.minhash_signatures(docs)
    pairs = pdedup.minhash_estimated_similarity(
        sig, pdedup.lsh_candidate_pairs(sig)
    )
    cc = pdedup.connected_components(
        pairs.filter(F.col("est_jaccard") >= DUP_EST_JACCARD)
    )
    return pdedup.cluster_members(cc, "doc_id")


def q_doc_sample_budget(spark, sf_dir):
    """Deterministic per-(lang, source) token-budget sampling — the
    data-mixing primitive for hitting a per-domain token target
    (pipeline/text.py token_budget_sample)."""
    return ptext.token_budget_sample(_docs(spark, sf_dir))


def q_doc_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag docs sharing any word 8-gram with
    the held-out benchmark subset (pipeline/text.py decontaminate) —
    broadcast the benchmark n-grams, never self-join the corpus."""
    return ptext.decontaminate(_docs(spark, sf_dir))


def q_doc_mix_weights(spark, sf_dir):
    """Temperature-based (alpha=0.5) mixture weights per (lang, source)
    (pipeline/text.py mix_temperature_weights)."""
    return ptext.mix_temperature_weights(_docs(spark, sf_dir))


def q_doc_sample_budget_sharded(spark, sf_dir):
    """The mega-stratum-safe variant: each (lang, source) stratum is
    split into content-derived shards with equal budget slices, so no
    single task ever sorts a whole stratum (pipeline/text.py
    token_budget_sample n_shards>1)."""
    return ptext.token_budget_sample(_docs(spark, sf_dir), n_shards=4)


def q_ev_props_stats(spark, sf_dir):
    """Semi-structured payload analytics: JSON field extract (JVM-side
    get_json_object) + per-type aggregate (pipeline/events.py
    props_stats)."""
    return pevents.props_stats(_events(spark, sf_dir))


def q_mm_frame_dedup(spark, sf_dir):
    """Cross-video duplicate-frame detection: sampled frame digests ->
    one hash-groupBy; frame bytes never shuffle (pipeline/multimodal.py
    frame_dedup)."""
    docs = model.load_table(spark, sf_dir, "documents")
    return pmm.frame_dedup(pmm.as_binary_table(docs))


def q_emb_diversity_sample(spark, sf_dir):
    """Coreset-style diversity sampling: the 3 most central vectors per
    IVF cell (pipeline/similarity.py ivf_diversity_sample) — cell AND
    centrality from one zero-shuffle argmax fold; the only exchange is
    the per-cell top-k window."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.ivf_diversity_sample(emb, cache_key=sf_dir)


def q_emb_scalar_quantize(spark, sf_dir):
    """Int8 scalar quantization of the embedding corpus (codes +
    per-vector reconstruction MSE) — the 8x storage-compression rung
    below PQ/IVF (pipeline/similarity.py scalar_quantize); one-row
    stats aggregate broadcast back over an unshuffled corpus scan."""
    return psim.scalar_quantize(model.load_table(spark, sf_dir, "embeddings"))


def q_emb_binary_hamming(spark, sf_dir):
    """1-bit binary quantization + Hamming candidate retrieval + exact
    cosine re-rank (BQ + rescoring): the corpus carries 2 bigint code
    words into the Hamming stage, floats ride only the mult*k candidate
    rows (pipeline/similarity.py binary_hamming_knn)."""
    return psim.binary_hamming_knn(model.load_table(spark, sf_dir, "embeddings"))


def q_doc_pii_scrub(spark, sf_dir):
    """PII detection + redaction (emails/IPv4/phones -> typed
    placeholders) with a fingerprint of the scrubbed text — zero-shuffle
    narrow map (pipeline/text.py pii_scrub). This corpus is clean word
    salad, so every count is attested zero and the clean fingerprint
    equals the raw one; the operator's detection behaviour is proven on
    synthetic PII rows in tests/test_pipeline.py."""
    return ptext.pii_scrub(model.load_table(spark, sf_dir, "documents"))


def q_doc_token_entropy(spark, sf_dir):
    """Per-document unigram Shannon entropy + normalized form — the
    scale-free repetitiveness quality signal (pipeline/text.py
    token_entropy)."""
    return ptext.token_entropy(model.load_table(spark, sf_dir, "documents"))


def q_doc_dup_spans(spark, sf_dir):
    """Exact duplicated-substring spans (ExactSubstr dedup shape): per
    doc, cross-document duplicated 8-gram windows and the longest
    consecutive duplicated run (pipeline/dedup.py duplicate_spans)."""
    return pdedup.duplicate_spans(_docs(spark, sf_dir))


def _events(spark, sf_dir):
    return model.load_table(spark, sf_dir, "events")


def q_ev_sessionize(spark, sf_dir):
    """Gap-based sessionization of the raw event stream (30-min
    inactivity gap; pipeline/events.py sessionize)."""
    return pevents.sessionize(_events(spark, sf_dir))


def q_ev_peak_concurrency(spark, sf_dir):
    """Peak concurrent sessions per day via the parallel endpoint sweep:
    session +1/-1 deltas netted per (day, ms), running sum partitioned
    BY day, cross-day carry from the one-row-per-day net table — no
    global ordered window ever sees the corpus (pipeline/events.py
    peak_concurrency)."""
    return pevents.peak_concurrency(_events(spark, sf_dir))


def q_ev_funnel(spark, sf_dir):
    """Ordered first-touch funnel view -> click -> purchase
    (pipeline/events.py funnel)."""
    return pevents.funnel(_events(spark, sf_dir))


def q_ev_retention_cohorts(spark, sf_dir):
    """Weekly retention cohort matrix (pipeline/events.py
    retention_cohorts)."""
    return pevents.retention_cohorts(_events(spark, sf_dir))


def q_ev_rfm_segments(spark, sf_dir):
    """RFM user segmentation with exact type-1 quintile boundaries
    computed over distinct metric values and broadcast back — no
    user-table sort or ntile (pipeline/events.py rfm_segments)."""
    return pevents.rfm_segments(_events(spark, sf_dir))


#: as-of join tolerance: a purchase attributes to a view <= 3 days old
ASOF_TOL_MS = 3 * 86_400_000


def q_ev_asof_join(spark, sf_dir):
    """As-of join: each purchase picks the most recent preceding view of
    the same user (3-day tolerance). Single-shuffle union-tag plan
    (pipeline/events.py asof_join) vs DuckDB's native ASOF JOIN oracle —
    two independent implementations of the semantics."""
    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    # pre-collapse equal-ts views so the "latest" match is well-defined
    right = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("viewed_value"))
    )
    return pevents.asof_join(
        left,
        right,
        on=["user_id"],
        right_value="viewed_value",
        out_col="viewed_value",
        tolerance_ms=ASOF_TOL_MS,
    )


def q_doc_source_stats(spark, sf_dir):
    """Per-(lang, source) mixture report: volume, exact-dup rate,
    quality pass rate (pipeline/text.py source_stats)."""
    return ptext.source_stats(_docs(spark, sf_dir))


def q_doc_unigram_logprob(spark, sf_dir):
    """Unigram-LM quality score (mean -log p per token) — the cheap
    perplexity-filter shape (pipeline/text.py unigram_logprob)."""
    return ptext.unigram_logprob(_docs(spark, sf_dir))


def q_doc_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing: each doc's training-example
    index at a fixed context length (pipeline/text.py pack_sequences)."""
    return ptext.pack_sequences(_docs(spark, sf_dir))


def q_emb_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup decision: embedding near-dup pairs
    (multi-table LSH) -> connected components -> one canonical vector
    per semantic cluster."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    cc = pdedup.connected_components(
        psim.embedding_neardup_pairs(emb), a_col="a_id", b_col="b_id"
    )
    return pdedup.cluster_members(cc, "vec_id")


def q_doc_dedup_keep_list(spark, sf_dir):
    """The dedup pipeline's actual deliverable: doc ids that survive
    near-dup clustering (everything except non-canonical cluster
    members) — anti-join of the corpus against the drop set."""
    docs = _docs(spark, sf_dir)
    sig = pdedup.minhash_signatures(docs)
    pairs = pdedup.minhash_estimated_similarity(
        sig, pdedup.lsh_candidate_pairs(sig)
    )
    cc = pdedup.connected_components(
        pairs.filter(F.col("est_jaccard") >= DUP_EST_JACCARD)
    )
    drop = (
        pdedup.cluster_members(cc, "doc_id")
        .filter(~F.col("is_canonical"))
        .select("doc_id")
    )
    return docs.join(drop, "doc_id", "left_anti").select("doc_id")


def q_doc_hybrid_neardup(spark, sf_dir):
    """Cross-modal dedup verification: MinHash-LSH text candidates
    re-scored by exact embedding cosine (similarity.py
    hybrid_text_embedding_neardup) — cheap recall, semantic precision."""
    docs = _docs(spark, sf_dir)
    emb = model.load_table(spark, sf_dir, "embeddings")
    sig = pdedup.minhash_signatures(docs)
    pairs = pdedup.minhash_estimated_similarity(
        sig, pdedup.lsh_candidate_pairs(sig)
    )
    return psim.hybrid_text_embedding_neardup(pairs, emb)


def q_emb_ivf_centroids(spark, sf_dir):
    """The OFFLINE IVF training product: the centroid table itself
    (spherical k-means over the deterministic sample, similarity.py
    train_ivf) — the serving path (emb_ann_ivf) broadcasts this."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    rows = psim.train_ivf(emb, cache_key=sf_dir)
    return spark.createDataFrame(
        [
            (int(r["cell"]), ",".join(f"{x + 0:.6f}" for x in r["cent"]))
            for r in rows
        ],
        "cell int, cent_csv string",
    )


def q_promql_map_labels(spark, sf_dir):
    """Dynamic label model: the whole label set lives in a
    ``labels MAP<STRING,STRING>`` column (FIXTURES.md schema; reference
    index.go:1903-2136 discovers label names at write). ``parity`` exists
    ONLY in the map — the engine promotes referenced names per query and
    keys series identity on the canonical map fingerprint."""
    pts = _pts(spark, sf_dir).select(
        F.create_map(
            F.lit("__name__"), F.col("event_type").cast("string"),
            F.lit("user"), F.col("user_id").cast("string"),
            F.lit("parity"), (F.col("user_id") % 2).cast("string"),
        ).alias("labels"),
        "ts", "value",
    )
    eng = PromQLEngine(
        pts, label_cols=(), name_label="__name__",
        step_ms=STEP_MS, lookback_ms=LOOKBACK_MS, labels_map_col="labels",
    )
    out = eng.query_range('sum by (parity) ({__name__="purchase", user!="3"})')
    return _round(out, {"value": 6})


SQL_PROMQL_MAP_LABELS = f"""
WITH pts AS ({_PTS}),
{_grid_sql()},
inst AS (SELECT (p.user_id % 2)::VARCHAR AS parity, p.user_id, g.step_ts,
                arg_max(p.value, p.ts) AS value
         FROM pts p, grid g
         WHERE p.ts > g.step_ts - {LOOKBACK_MS} AND p.ts <= g.step_ts
           AND p.event_type = 'purchase' AND p.user_id::VARCHAR != '3'
         GROUP BY 1, 2, 3)
SELECT parity, step_ts, round(sum(value), 6) AS value
FROM inst GROUP BY 1, 2
"""


SQL_PROMQL_RATE_SUM = f"""
SELECT user_id, step_ts, round(sum(value), 6) AS value
FROM ({_extrapolated_sql(RANGE_MS, True, True, rounded=False)})
WHERE event_type = 'purchase'
GROUP BY 1, 2
"""

SQL_PROMQL_SELECTOR = f"""
WITH pts AS ({_PTS}),
{_grid_sql()}
SELECT p.user_id, p.event_type, g.step_ts, round(arg_max(p.value, p.ts), 6) AS value
FROM pts p, grid g
WHERE p.ts > g.step_ts - {LOOKBACK_MS} AND p.ts <= g.step_ts
  AND regexp_matches(p.event_type, '^(?:purchase|error)$')
  AND p.user_id::VARCHAR != '3'
GROUP BY 1, 2, 3
"""

SQL_PROMQL_BINOP_SUB = f"WITH pts AS ({_PTS}),\n{_grid_sql()},\n{_LP_SQL}" + """
SELECT lp.user_id, lp.step_ts, round(lp.value - le.value, 6) AS value
FROM lp JOIN le ON lp.user_id = le.user_id AND lp.step_ts = le.step_ts
"""

SQL_PROMQL_TOPK = _INST_SQL + """
, ranked AS (
  SELECT *, row_number() OVER (PARTITION BY step_ts
                               ORDER BY value DESC, user_id, event_type) AS rank
  FROM inst)
SELECT user_id, event_type, step_ts, round(value, 6) AS value
FROM ranked WHERE rank <= 2
"""

SQL_PROMQL_CLAMP = f"WITH pts AS ({_PTS}),\n{_grid_sql()},\n{_LP_SQL}" + """
SELECT user_id, step_ts,
       round(least(greatest(100 * value, 5000), 15000), 6) AS value
FROM lp
"""

SQL_PROMQL_OFFSET = f"""
WITH pts AS ({_PTS}),
{_grid_sql()},
shifted AS (SELECT user_id, event_type, ts + 604800000 AS ts, value FROM pts
            WHERE event_type = 'purchase')
SELECT p.user_id, p.event_type, g.step_ts, round(arg_max(p.value, p.ts), 6) AS value
FROM shifted p, grid g
WHERE p.ts > g.step_ts - {LOOKBACK_MS} AND p.ts <= g.step_ts
GROUP BY 1, 2, 3
"""

SQL_PROMQL_SUBQUERY = _INST_SQL + f"""
, inner_vec AS (
  SELECT user_id, step_ts, sum(value) AS value FROM inst GROUP BY 1, 2)
SELECT i.user_id, g.step_ts, round(avg(i.value), 6) AS value
FROM inner_vec i, grid g
WHERE i.step_ts > g.step_ts - {RANGE_MS} AND i.step_ts <= g.step_ts
GROUP BY 1, 2
"""

AT_TS_MS = 1_705_276_800_000  # 2024-01-15T00:00Z

SQL_PROMQL_AT = f"""
WITH pts AS ({_PTS}),
{_grid_sql()},
fixed AS (
  SELECT p.user_id, p.event_type, arg_max(p.value, p.ts) AS value
  FROM pts p
  WHERE p.ts > {AT_TS_MS - LOOKBACK_MS} AND p.ts <= {AT_TS_MS}
    AND p.event_type = 'purchase'
  GROUP BY 1, 2)
SELECT f.user_id, f.event_type, g.step_ts, round(f.value, 6) AS value
FROM fixed f, grid g
"""

SQL_PROMQL_GROUP_LEFT = _INST_SQL + """
, tot AS (SELECT user_id, step_ts, sum(value) AS value FROM inst GROUP BY 1, 2)
SELECT i.user_id, i.step_ts, round(i.value / t.value, 6) AS value
FROM inst i JOIN tot t ON i.user_id = t.user_id AND i.step_ts = t.step_ts
WHERE i.event_type = 'purchase'
"""

SQL_PROMQL_BOTTOMK_WITHOUT = _INST_SQL + """
, s AS (SELECT user_id, step_ts, sum(value) AS value FROM inst GROUP BY 1, 2),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY step_ts ORDER BY value ASC, user_id) AS rank
  FROM s)
SELECT user_id, step_ts, round(value, 6) AS value FROM ranked WHERE rank <= 3
"""

SQL_PROMQL_AGG_GROUP = _INST_SQL + """
SELECT user_id, step_ts, 1.0 AS value FROM inst GROUP BY 1, 2
"""

SQL_PROMQL_MODPOW = _INST_SQL + """
SELECT user_id, step_ts, round(pow(fmod(value, 7), 2), 6) AS value
FROM inst WHERE event_type = 'purchase'
"""

SQL_PROMQL_GROUP_RIGHT = _INST_SQL + """
, tot AS (SELECT user_id, step_ts, sum(value) AS value FROM inst GROUP BY 1, 2)
SELECT i.user_id, i.step_ts, round(t.value - i.value, 6) AS value
FROM inst i JOIN tot t ON i.user_id = t.user_id AND i.step_ts = t.step_ts
WHERE i.event_type = 'purchase'
"""

SQL_PROMQL_ABSENT_OVER_TIME = f"""
WITH pts AS ({_PTS}), {_grid_sql()}
SELECT step_ts, 1.0 AS value FROM grid
"""

SQL_PROMQL_TIME_TS = f"""
WITH pts AS ({_PTS}), {_grid_sql()}
SELECT p.user_id, g.step_ts,
       round(g.step_ts / 1000.0 - max(p.ts) / 1000.0, 6) AS value
FROM pts p, grid g
WHERE p.ts > g.step_ts - {LOOKBACK_MS} AND p.ts <= g.step_ts
  AND p.event_type = 'purchase'
GROUP BY 1, 2
"""

def q_promql_preagg_route(spark, sf_dir):
    """A15/A16 inside the engine: max_over_time routed to the pre-agg max
    stream (step 1d >= 5m resolution triggers the routing rule)."""
    pts = _pts(spark, sf_dir)
    ds = downsample.downsample(pts, KEYS, RES_MS)
    eng = PromQLEngine(
        pts, label_cols=tuple(KEYS), name_label="event_type",
        step_ms=STEP_MS, lookback_ms=LOOKBACK_MS, downsample=ds,
        preagg_resolution_ms=RES_MS,
    )
    return _round(eng.query_range("max_over_time(purchase[14d])"), {"value": 6})


SQL_PROMQL_PREAGG_ROUTE = f"""
WITH pts AS ({_PTS}), {_grid_sql()},
ds AS (SELECT user_id, event_type, ts - ts % {RES_MS} AS bts, max(value) AS value
       FROM pts GROUP BY 1, 2, 3),
rs AS (SELECT d.user_id, g.step_ts, d.value
       FROM ds d, grid g
       WHERE d.bts > g.step_ts - {RANGE_MS} AND d.bts <= g.step_ts
         AND d.event_type = 'purchase')
SELECT user_id, step_ts, round(max(value), 6) AS value
FROM rs GROUP BY 1, 2
"""


SQL_PROMQL_CMP_FILTER = f"""
WITH pts AS ({_PTS}),
{_grid_sql()},
rs AS (SELECT p.user_id, g.step_ts, p.ts, p.value
       FROM pts p, grid g
       WHERE p.ts > g.step_ts - {RANGE_MS} AND p.ts <= g.step_ts
         AND p.event_type = 'purchase')
SELECT user_id, step_ts, round(avg(value), 6) AS value
FROM rs GROUP BY 1, 2 HAVING avg(value) > 100
"""


def q_doc_bigram_logprob(spark, sf_dir):
    """Bigram-LM quality score (mean -ln P(w_i | w_{i-1}) per doc) — the
    conditional step up from the unigram perplexity filter
    (pipeline/text.py bigram_logprob)."""
    return ptext.bigram_logprob(_docs(spark, sf_dir))


def q_doc_token_pmi(spark, sf_dir):
    """Top-100 collocations by PMI (Church & Hanks 1990) with a
    5-occurrence bigram floor — surfaces the multiword expressions the
    unigram top-terms report hides (pipeline/text.py token_pmi)."""
    return ptext.token_pmi(_docs(spark, sf_dir))


def q_doc_zipf_stats(spark, sf_dir):
    """Corpus Zipf fit over the top-500 terms: ln(freq) ~ ln(rank)
    slope/intercept/R² — the frequency-profile sanity check for a
    filtered corpus (pipeline/text.py zipf_stats)."""
    return ptext.zipf_stats(_docs(spark, sf_dir))


def q_doc_winnowing(spark, sf_dir):
    """Winnowing (MOSS) fingerprint selection: per-window minimum of
    k-gram hashes, deduplicated per document — position-robust local
    overlap fingerprints (pipeline/dedup.py winnowing_fingerprints)."""
    return pdedup.winnowing_fingerprints(_docs(spark, sf_dir))


def q_ev_hopping_counts(spark, sf_dir):
    """Hopping-window event aggregation (10-min windows every 5 min):
    the batch twin of the streaming windowed count
    (pipeline/events.py hopping_counts)."""
    return pevents.hopping_counts(_events(spark, sf_dir))


def q_emb_pq_codes(spark, sf_dir):
    """Product-quantization encode: per-subspace argmin codes +
    reconstruction MSE; codebooks trained offline (memoized) and served
    as a zero-exchange literal fold (pipeline/similarity.py
    train_pq/pq_codes)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.pq_codes(emb, cache_key=sf_dir)


def q_ev_attribution(spark, sf_dir):
    """Last-touch purchase attribution rollup over the as-of kernel
    (pipeline/events.py attribution)."""
    return pevents.attribution(_events(spark, sf_dir))


def q_doc_curation_verdict(spark, sf_dir):
    """End-to-end keep/drop verdict composing quality rules, exact-dup
    representative election, language consistency, and the PII signal
    (pipeline/text.py curation_verdict)."""
    return ptext.curation_verdict(_docs(spark, sf_dir))


def q_doc_cm_heavyhitters(spark, sf_dir):
    """Count-min sketch term estimates for the exact top-20 terms, with
    the guaranteed-nonnegative overestimate as the self-eval
    (pipeline/text.py cm_heavyhitters)."""
    return ptext.cm_heavyhitters(_docs(spark, sf_dir))


def q_ev_hll_distinct(spark, sf_dir):
    """Deterministic HyperLogLog distinct users per event type, with the
    exact count + relative error as the sketch self-eval
    (pipeline/events.py hll_distinct)."""
    return pevents.hll_distinct(_events(spark, sf_dir))


def q_ev_hll_rollup(spark, sf_dir):
    """Daily distinct users per event type by max-merging hourly HLL
    registers — sketch mergeability as a rollup hierarchy, with the
    exact daily count AND the naive sum-of-hourly-distincts overcount
    as self-eval (pipeline/events.py hll_rollup)."""
    return pevents.hll_rollup(_events(spark, sf_dir))


def q_ev_sample_quantiles(spark, sf_dir):
    """Grouped p50/p95/p99 as exact type-1 order statistics over a
    deterministic 1-in-4 xxhash64 sample, with the full-data order
    statistics + absolute error as self-eval; the oracle replays the
    identical sample through the XXH64 SQL transcription
    (pipeline/events.py hash_sample_quantiles)."""
    return pevents.hash_sample_quantiles(_events(spark, sf_dir))


def q_doc_domain_cap(spark, sf_dir):
    """Per-domain document cap by deterministic xxhash64 priority —
    CCNet/RefinedWeb-style source balancing via the sharded two-phase
    top-k kernel, no task sorts a whole mega-domain (pipeline/text.py
    domain_cap)."""
    return ptext.domain_cap(_docs(spark, sf_dir))


def q_ev_hll_setops(spark, sf_dir):
    """Pairwise distinct-user union/intersection estimates from per-type
    HLL registers alone (bucketwise max + inclusion-exclusion), with
    exact set sizes as self-eval — the post-hoc set algebra sketches
    buy that exact counts cannot (pipeline/events.py hll_setops)."""
    return pevents.hll_setops(_events(spark, sf_dir))


def q_doc_canonical_dedup(spark, sf_dir):
    """Exact dedup after C4-style canonicalization (lowercase, strip
    punctuation, collapse whitespace), keyed on xxhash64 of the
    canonical text so raw text never shuffles; n_variants counts raw
    texts per cluster (pipeline/text.py canonical_dedup)."""
    return ptext.canonical_dedup(_docs(spark, sf_dir))


def q_ev_hll_sliding(spark, sf_dir):
    """Trailing-7-day distinct users per event type at each day, by
    re-merging daily HLL registers into every window they belong to —
    linear in days where the recount is quadratic in window length;
    exact trailing count + rel_err as self-eval (pipeline/events.py
    hll_sliding)."""
    return pevents.hll_sliding(_events(spark, sf_dir))


def q_ev_decayed_counts(spark, sf_dir):
    """Exponentially time-decayed count and value sum per event type
    (half-life 7 days, referenced to the corpus max ts) — mergeable
    freshness-weighted activity, one map-side-combined exchange
    (pipeline/events.py decayed_counts)."""
    return pevents.decayed_counts(_events(spark, sf_dir))


def q_doc_vocab_coverage(spark, sf_dir):
    """Minimal vocabulary size covering 50/90/95/99% of token mass —
    exact greedy answer from the frequency-of-frequency cumulative
    (one row per distinct count value; the vocabulary itself never
    sorts) (pipeline/text.py vocab_coverage)."""
    return ptext.vocab_coverage(_docs(spark, sf_dir))


def q_doc_cluster_split(spark, sf_dir):
    """Train/val/test split keyed on the canonical-text hash so case/
    punctuation/whitespace variants cannot straddle splits — zero
    shuffle, RNG-free (pipeline/text.py cluster_split)."""
    return ptext.cluster_split(_docs(spark, sf_dir))


def q_emb_threshold_sweep(spark, sf_dir):
    """Semantic-dedup threshold calibration: near-dup pair and affected-
    doc counts at each cosine threshold in
    ``similarity.SWEEP_THRESHOLDS`` (0.15/0.25/0.35/0.45 — chosen to
    bracket the synthetic corpus's similarity mass), from one pass of
    the LSH candidate generator (pipeline/similarity.py
    neardup_threshold_sweep)."""
    return psim.neardup_threshold_sweep(
        model.load_table(spark, sf_dir, "embeddings")
    )


def q_doc_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval (Lucene idf variant) for the three
    highest-df terms: broadcast query stats, semi-join before the tf
    groupBy, TakeOrdered top-10 — the sparse lexical twin of the
    embedding ANN serve path (pipeline/text.py bm25_topk)."""
    return ptext.bm25_topk(_docs(spark, sf_dir))


def q_doc_split_leakage(spark, sf_dir):
    """Near-dup train/test leakage audit: LSH candidate pairs above the
    similarity floor whose members hashed into different splits
    (pipeline/text.py split_leakage)."""
    return ptext.split_leakage(_docs(spark, sf_dir), min_est_jaccard=0.3)


def q_doc_dsir_weights(spark, sf_dir):
    """DSIR importance weights: hashed-unigram log-likelihood ratio of
    the target (lang='en') vs raw corpus distribution, add-1 smoothed
    (pipeline/text.py dsir_weights)."""
    return ptext.dsir_weights(_docs(spark, sf_dir))


def q_emb_mmr_rerank(spark, sf_dir):
    """Greedy maximal-marginal-relevance diversity re-rank of the exact
    top-20 candidates, k=5, lambda=0.5 (pipeline/similarity.py
    mmr_rerank); the sequential loop runs per-query in one Arrow batch
    over config-sized candidate groups."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.mmr_rerank(emb)


def q_emb_range_search(spark, sf_dir):
    """Fixed-radius cosine search for the first 5 query vectors —
    broadcast query set, single corpus pass, zero shuffle
    (pipeline/similarity.py range_search)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.range_search(emb)


def q_emb_ann_ivfpq_refine(spark, sf_dir):
    """IVF-PQ ADC retrieval of 15 candidates + exact cosine re-rank to
    top-5 — the compressed-retrieve / exact-refine two-phase serve
    (pipeline/similarity.py ann_ivfpq_refine)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.ann_ivfpq_refine(emb, cache_key=sf_dir).withColumn(
        "rank", F.col("rank").cast("long")
    )


def q_doc_segment_dedup(spark, sf_dir):
    """Corpus-global segment (line) dedup, C4 §2.2-style: keep the first
    occurrence of every 10-word segment across the whole corpus and
    reassemble documents (pipeline/dedup.py segment_dedup)."""
    return pdedup.segment_dedup(_docs(spark, sf_dir))


def q_doc_segment_dedup_hashkey(spark, sf_dir):
    """Hash-keyed twin of segment dedup: the first-occurrence window
    shuffles xxhash64(seg) (24 B/row) instead of the segment text, and
    the text crosses the wire exactly once — verified against the SAME
    exact oracle (pipeline/dedup.py segment_dedup_hashkey)."""
    return pdedup.segment_dedup_hashkey(_docs(spark, sf_dir))


def q_emb_ann_ivfpq(spark, sf_dir):
    """IVF-PQ ADC search: both index halves train once per corpus
    (memoized on sf_dir) and serve as literal folds; the candidate side
    of the probe join carries only (id, cell, m codes)
    (pipeline/similarity.py ann_ivfpq)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.ann_ivfpq(emb, cache_key=sf_dir).withColumn(
        "rank", F.col("rank").cast("long")
    )


def q_doc_bloom_membership(spark, sf_dir):
    """Bloom-filter screening of the odd-id batch against the even-id
    corpus's 4-gram shingles, with the exact membership join as the
    self-eval — the sketch twin of decontaminate/segment_dedup
    (pipeline/dedup.py bloom_membership)."""
    return pdedup.bloom_membership(_docs(spark, sf_dir))


def q_doc_priority_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement via priority
    sampling (Duffield-Lund-Thorup): top-k of w/u priorities with the
    (k+1)-th-priority threshold estimator; the sort key is a single
    exact IEEE division, no transcendental (pipeline/text.py
    priority_sample)."""
    return ptext.priority_sample(_docs(spark, sf_dir))


def q_emb_ann_recall(spark, sf_dir):
    """Recall@5 of the IVF index vs exact cosine top-5, per query — the
    ANN self-evaluation (pipeline/similarity.py ann_recall); both
    rankings are the existing emb_cosine_knn / emb_ann_ivf plans."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.ann_recall(emb, cache_key=sf_dir)


def q_ev_session_paths(spark, sf_dir):
    """Top-20 most common ordered session paths (view>click>... strings)
    — exploratory funnel discovery (pipeline/events.py session_paths)."""
    return pevents.session_paths(_events(spark, sf_dir))


def q_doc_source_overlap(spark, sf_dir):
    """Exact pairwise shingle Jaccard between sources — the corpus-
    composition matrix a mixture designer reads before weighting
    sources; bucket sizes bounded by source count, never shingle
    popularity (pipeline/dedup.py source_overlap)."""
    return pdedup.source_overlap(_docs(spark, sf_dir))


def q_doc_source_minhash_sim(spark, sf_dir):
    """Sketch twin of doc_source_overlap: per-source 64-permutation
    MinHash signatures (double hashing, Kirsch-Mitzenmacher) and the
    agreement-fraction Jaccard estimate from O(sources x 64) mergeable
    state (pipeline/dedup.py source_minhash_sim)."""
    return pdedup.source_minhash_sim(_docs(spark, sf_dir))


def q_ev_key_skew(spark, sf_dir):
    """Heavy-key skew profile: top-20 keys by count with absolute /
    cumulative corpus share and over-uniform factor — the pre-join
    salting diagnostic (pipeline/events.py key_skew)."""
    return pevents.key_skew(_events(spark, sf_dir))


def q_doc_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail LM-quality bucketing: per-language exact
    terciles of the unigram avg_neg_logprob via the distinct-value-
    cumulative order statistic (pipeline/text.py ccnet_buckets)."""
    return ptext.ccnet_buckets(_docs(spark, sf_dir))


def q_doc_source_sketch_accuracy(spark, sf_dir):
    """Cross-source MinHash sketch calibration: agreement-fraction
    estimate vs EXACT shingle Jaccard per source pair, abs error
    (pipeline/dedup.py source_sketch_accuracy)."""
    return pdedup.source_sketch_accuracy(_docs(spark, sf_dir))


def q_emb_ivf_nprobe_sweep(spark, sf_dir):
    """Recall-vs-nprobe IVF tuning curve: one training pass (memoized
    centroids), one serving scan per probe level
    (pipeline/similarity.py ivf_nprobe_sweep)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.ivf_nprobe_sweep(emb, cache_key=sf_dir)


def q_mm_audio_dedup_clusters(spark, sf_dir):
    """Audio near-dup DECISION step: connected components over the
    prefix-filtered constellation matches, decorated with cluster size
    and canonical flag — the same cluster machinery the text dedup DAG
    uses, completing the multimodal family to the keep/drop point
    (pipeline/dedup.py connected_components over
    pipeline/multimodal.py audio_matches)."""
    matches = pmm.audio_matches(pmm.as_binary_table(_docs(spark, sf_dir)))
    cc = pdedup.connected_components(matches)
    return pdedup.cluster_members(cc, "doc_id")


def q_ev_session_duration_stats(spark, sf_dir):
    """Session-length distribution: exact type-1 p50/p90 duration +
    mean and counts from the sessionize reduction
    (pipeline/events.py session_duration_stats)."""
    return pevents.session_duration_stats(_events(spark, sf_dir))


def q_ev_anomaly_seasonal(spark, sf_dir):
    """Weekday-adjusted robust anomaly flags: per-(type, weekday)
    median/MAD baselines so weekly seasonality is not flagged
    (pipeline/events.py anomaly_seasonal)."""
    return pevents.anomaly_seasonal(_events(spark, sf_dir))


def q_doc_boilerplate_prefixes(spark, sf_dir):
    """Template detection: shared first-k-words opening groups with
    doc counts and source spread (pipeline/text.py
    boilerplate_prefixes)."""
    return ptext.boilerplate_prefixes(_docs(spark, sf_dir))


def q_doc_corpus_growth(spark, sf_dir):
    """Heaps-law corpus growth curve: first-seen distinct n-grams per
    ingest-order decile, xxhash64-keyed (pipeline/text.py
    corpus_growth)."""
    return ptext.corpus_growth(_docs(spark, sf_dir))


def q_ev_stickiness(spark, sf_dir):
    """DAU/MAU stickiness per 30-day bucket from ONE distinct
    (user, day) reduction (pipeline/events.py stickiness)."""
    return pevents.stickiness(_events(spark, sf_dir))


def q_doc_length_quantiles(spark, sf_dir):
    """Per-source token-length profile: exact type-1 p10/p50/p90 +
    mean over the distinct-value cumulative (pipeline/text.py
    length_quantiles)."""
    return ptext.length_quantiles(_docs(spark, sf_dir))


def q_emb_qc(spark, sf_dir):
    """Embedding-table QC per label: counts, dim check, L2-norm
    stats, zero-vector count — in-scan folds, no vector below any
    exchange (pipeline/similarity.py embedding_qc)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.embedding_qc(emb)


def q_doc_dup_source_attribution(spark, sf_dir):
    """Near-dup pair counts attributed to unordered source pairs with
    a within-source flag (pipeline/dedup.py dup_source_attribution,
    over the estimated-Jaccard-gated LSH pairs)."""
    docs = _docs(spark, sf_dir)
    sig = pdedup.minhash_signatures(docs)
    pairs = pdedup.minhash_estimated_similarity(
        sig, pdedup.lsh_candidate_pairs(sig)
    ).filter(F.col("est_jaccard") >= DUP_EST_JACCARD)
    return pdedup.dup_source_attribution(pairs, docs)


def q_doc_dedup_savings(spark, sf_dir):
    """Dedup business case by cluster size: groups / docs / characters
    a keep-one-representative policy removes, over the catalog's own
    cluster DAG (pipeline/dedup.py dedup_savings)."""
    docs = _docs(spark, sf_dir)
    sig = pdedup.minhash_signatures(docs)
    pairs = pdedup.minhash_estimated_similarity(
        sig, pdedup.lsh_candidate_pairs(sig)
    )
    cc = pdedup.connected_components(
        pairs.filter(F.col("est_jaccard") >= DUP_EST_JACCARD)
    )
    return pdedup.dedup_savings(pdedup.cluster_members(cc, "doc_id"), docs)


def q_ev_funnel_timing(spark, sf_dir):
    """Time-to-convert per funnel transition: exact type-1 median/p90
    latency over the funnel's own user-keyed reductions
    (pipeline/events.py funnel_timing)."""
    return pevents.funnel_timing(_events(spark, sf_dir))


def q_emb_ivf_cell_balance(spark, sf_dir):
    """IVF cell-occupancy skew report: full-corpus assignment by the
    serving path's in-scan argmax fold, n_cells-bounded count combine
    (pipeline/similarity.py ivf_cell_balance)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.ivf_cell_balance(emb, cache_key=sf_dir)


def q_doc_simhash_accuracy(spark, sf_dir):
    """SimHash calibration twin (minhash_accuracy convention): Hamming
    distance vs exact n-gram Jaccard on the pigeonhole candidates only
    (pipeline/dedup.py simhash_accuracy)."""
    return pdedup.simhash_accuracy(_docs(spark, sf_dir))


def q_ev_bot_cadence(spark, sf_dir):
    """Per-user inter-event cadence profile + scheduler-regularity bot
    flag (gap coefficient of variation under one user-window pass;
    pipeline/events.py bot_cadence)."""
    return pevents.bot_cadence(_events(spark, sf_dir))


def q_doc_simhash_neardup(spark, sf_dir):
    """SimHash near-dup pairs by Manku WWW'07 block pigeonhole: 4
    equi-joins on 15-bit fingerprint blocks catch every pair within
    Hamming distance 3; exact bit_count(xor) verifies behind the
    filter (pipeline/dedup.py simhash_neardup_pairs)."""
    return pdedup.simhash_neardup_pairs(_docs(spark, sf_dir))


def q_doc_containment(spark, sf_dir):
    """Asymmetric n-gram containment on the LSH candidate pairs: detects
    sub-document duplication (one doc embedded in another) that
    symmetric Jaccard under-scores (pipeline/dedup.py
    ngram_containment_pairs)."""
    docs = _docs(spark, sf_dir)
    cand = pdedup.lsh_candidate_pairs(pdedup.minhash_signatures(docs))
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    pairs = cand.join(a, "id_a").join(b, "id_b")
    return pdedup.ngram_containment_pairs(pairs).select(
        "id_a", "id_b", "containment_a", "containment_b"
    )


def q_doc_winnowing_matches(spark, sf_dir):
    """MOSS match scoring: doc pairs sharing >= 2 winnowing fingerprints
    (position-robust local-overlap detection; pipeline/dedup.py
    winnowing_matches)."""
    return pdedup.winnowing_matches(_docs(spark, sf_dir))


def q_api_series(spark, sf_dir):
    """/api/v1/series through PromAPI: distinct label sets matching a
    selector inside explicit [start, end] bounds (the reference's
    early-exit "series" scan, tsdb/read.go:392-396)."""
    from squirreldb_spark.api import PromAPI

    api = PromAPI(_pts(spark, sf_dir), label_cols=tuple(KEYS),
                  name_label="event_type", lookback_ms=LOOKBACK_MS)
    return api.series(
        ['purchase{user_id=~"1.*"}'], BOUND_START_MS, BOUND_END_MS
    )


def q_api_label_values(spark, sf_dir):
    """/api/v1/label/<name>/values through PromAPI: sorted distinct
    values of a label (A22)."""
    from squirreldb_spark.api import PromAPI

    api = PromAPI(_pts(spark, sf_dir), label_cols=tuple(KEYS),
                  name_label="event_type", lookback_ms=LOOKBACK_MS)
    return api.label_values("__name__")


SQL_API_SERIES = f"""
WITH pts AS ({_PTS})
SELECT DISTINCT user_id, event_type
FROM pts
WHERE event_type = 'purchase'
  AND CAST(user_id AS VARCHAR) ~ '^(?:1.*)$'
  AND ts >= {{lo}} AND ts <= {{hi}}
"""


SQL_API_LABEL_VALUES = f"""
WITH pts AS ({_PTS})
SELECT DISTINCT event_type AS value FROM pts
"""


def q_doc_tfidf_keywords(spark, sf_dir):
    """Per-document top-3 tf-idf keywords — the classic labeling signal
    (pipeline/text.py tfidf_keywords)."""
    return ptext.tfidf_keywords(_docs(spark, sf_dir))


def q_doc_chunk_sliding(spark, sf_dir):
    """Overlapping 64-token / stride-48 chunking with per-chunk content
    hashes for training/RAG sequence prep (pipeline/text.py
    chunk_sliding)."""
    return ptext.chunk_sliding(_docs(spark, sf_dir))


def q_doc_cdc_chunks(spark, sf_dir):
    """Content-defined chunking: chunk boundaries where the word's 60-bit
    hash % 16 == 0, so chunk-hash dedup realigns across edits — zero
    shuffle, pure array algebra in the scan (pipeline/text.py
    cdc_chunks)."""
    return ptext.cdc_chunks(_docs(spark, sf_dir))


def q_doc_cdc_chunks_fast(spark, sf_dir):
    """CDC chunking with the boundary rule on native xxhash64 instead of
    the md5-hex fold — same LBFS semantics, zero string allocation in
    the boundary scan; the DuckDB oracle replays XXH64 bit-for-bit via
    a SQL transcription of the public spec (pipeline/text.py
    cdc_chunks_fast, pipeline/duck_xxh64.py)."""
    return ptext.cdc_chunks_fast(_docs(spark, sf_dir))


def q_doc_split_assign(spark, sf_dir):
    """Deterministic content-hashed 90/5/5 train/val/test assignment —
    RNG-free and exact-dup-leakage-proof (pipeline/text.py
    split_assign)."""
    return ptext.split_assign(_docs(spark, sf_dir))


def q_doc_quality_logreg(spark, sf_dir):
    """Fixed-weight logistic quality model over cheap per-doc signals
    (the CCNet-style classifier stage; pipeline/text.py
    quality_logreg)."""
    return ptext.quality_logreg(_docs(spark, sf_dir))


def q_doc_novelty(spark, sf_dir):
    """Per-document novel-shingle fraction in doc_id order — the corpus
    redundancy-growth curve (pipeline/text.py novelty)."""
    return ptext.novelty(_docs(spark, sf_dir))


def q_emb_matryoshka_recall(spark, sf_dir):
    """Recall@5 of 16-dim Matryoshka-prefix cosine search vs the full
    64-dim exact ranking (pipeline/similarity.py matryoshka_recall)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.matryoshka_recall(emb)


def q_ev_anomaly_mad(spark, sf_dir):
    """Median/MAD robust anomaly flags over per-type daily event volumes
    (pipeline/events.py anomaly_mad)."""
    return pevents.anomaly_mad(_events(spark, sf_dir))


#: incremental-dedup catalog split: doc_id < 250 plays the already-ingested
#: corpus, the rest the new crawl batch
INC_DEDUP_SPLIT_ID = 250


def q_doc_incremental_dedup(spark, sf_dir):
    """Dedup a new ingest batch against the existing corpus: hash-only
    anti-join + within-batch collapse (pipeline/dedup.py
    incremental_exact_dedup)."""
    docs = _docs(spark, sf_dir)
    return pdedup.incremental_exact_dedup(
        docs.filter(F.col("doc_id") >= INC_DEDUP_SPLIT_ID),
        docs.filter(F.col("doc_id") < INC_DEDUP_SPLIT_ID),
    )


def q_ev_cooccurrence(spark, sf_dir):
    """Session-level event-type co-occurrence with Jaccard affinity
    (pipeline/events.py cooccurrence)."""
    return pevents.cooccurrence(_events(spark, sf_dir))


def q_doc_mixture_sample(spark, sf_dir):
    """Deterministic hash sampling at the temperature-mixture rates —
    materializes the mix_temperature_weights plan (pipeline/text.py
    mixture_sample)."""
    return ptext.mixture_sample(_docs(spark, sf_dir))


def q_doc_minhash_accuracy(spark, sf_dir):
    """MinHash estimator calibration on LSH candidates: estimated vs
    exact n-gram Jaccard with absolute error (pipeline/dedup.py
    minhash_accuracy)."""
    return pdedup.minhash_accuracy(_docs(spark, sf_dir))


def q_emb_ann_lsh_recall(spark, sf_dir):
    """Recall@5 of hyperplane-LSH ANN vs exact cosine top-k
    (pipeline/similarity.py ann_lsh_recall)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.ann_lsh_recall(emb)


def q_ev_markov_transitions(spark, sf_dir):
    """Within-session first-order Markov transition matrix with
    conditional probabilities (pipeline/events.py markov_transitions)."""
    return pevents.markov_transitions(_events(spark, sf_dir))


def q_mm_video_neardup(spark, sf_dir):
    """Video-level near-dup by frame voting: banded pHash LSH over
    sampled frames, hamming-verified, >= 2 matching frames per doc pair
    (pipeline/multimodal.py video_neardup)."""
    docs = model.load_table(spark, sf_dir, "documents")
    return pmm.video_neardup(pmm.as_binary_table(docs))


def q_mm_scene_changes(spark, sf_dir):
    """Shot-boundary detection: consecutive-frame pHash hamming above
    threshold = scene cut (pipeline/multimodal.py scene_changes)."""
    docs = model.load_table(spark, sf_dir, "documents")
    return pmm.scene_changes(pmm.as_binary_table(docs))


# ---------------------------------------------------------------- catalog


def q_ev_user_concentration(spark, sf_dir):
    """Exact Lorenz curve at its distinct-activity-level breakpoints +
    Gini coefficient of per-user event counts (pipeline/events.py
    user_concentration)."""
    return pevents.user_concentration(_events(spark, sf_dir))


def q_ev_interarrival(spark, sf_dir):
    """Per-event-type inter-arrival profile: exact type-1 p50/p90/p99
    gaps, CV and Goh-Barabasi burstiness, computed two-level (per-day
    lag + day-boundary stitch) so no type funnels through one partition
    (pipeline/events.py interarrival_profile)."""
    return pevents.interarrival_profile(_events(spark, sf_dir))


def q_emb_dim_variance(spark, sf_dir):
    """Per-dimension mean/variance/cumulative energy share of the
    embedding table — the Matryoshka/PCA truncation calibration curve
    (pipeline/similarity.py dim_variance)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.dim_variance(emb)


def q_emb_pq_distortion(spark, sf_dir):
    """Per-subspace PQ codebook health: code utilization, code-entropy
    bits and per-coordinate reconstruction MSE (pipeline/similarity.py
    pq_distortion); training memoized with pq_codes' cache."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.pq_distortion(emb, cache_key=sf_dir)


def q_doc_lsh_s_curve(spark, sf_dir):
    """LSH band-tuning table: analytic 1-(1-s^r)^b detection S-curve vs
    the observed candidate-pair mass per estimated-Jaccard bucket
    (pipeline/dedup.py lsh_s_curve)."""
    return pdedup.lsh_s_curve(_docs(spark, sf_dir))


def q_doc_source_drift(spark, sf_dir):
    """Per-source unigram KL / Jensen-Shannon divergence vs the whole
    corpus — the distribution-shift side of the mixture design
    (pipeline/text.py source_drift)."""
    return ptext.source_drift(_docs(spark, sf_dir))


def q_doc_minhash_k_sweep(spark, sf_dir):
    """MinHash signature-width calibration: MAE/RMSE/bias vs exact
    n-gram Jaccard at prefix widths k=4/8/12 of one signature pass
    (pipeline/dedup.py minhash_k_sweep)."""
    return pdedup.minhash_k_sweep(_docs(spark, sf_dir))


def q_doc_packing_efficiency(spark, sf_dir):
    """Per-language packing report over the pack_sequences assignment:
    pack count, docs-per-pack, boundary-crossing fraction, tail waste
    (pipeline/text.py packing_efficiency)."""
    return ptext.packing_efficiency(_docs(spark, sf_dir))


def q_doc_lang_confusion(spark, sf_dir):
    """Language-ID confusion matrix: stopword-heuristic guess vs the
    labeled lang column, count + within-label fraction per cell
    (pipeline/text.py lang_confusion)."""
    return ptext.lang_confusion(_docs(spark, sf_dir))


def q_ev_funnel_windowed(spark, sf_dir):
    """First-touch funnel with a 7-day conversion window per step, plus
    per-step and from-top conversion rates (pipeline/events.py
    funnel_windowed)."""
    return pevents.funnel_windowed(_events(spark, sf_dir))


# ------------------------------------------------- round-11 operators


def q_doc_repetition_profile(spark, sf_dir):
    """Per-source intra-document duplicate {2,3}-gram fractions + the
    share of documents over the repetition flag threshold — the Gopher
    repetition quality family (pipeline/text.py repetition_profile)."""
    return ptext.repetition_profile(_docs(spark, sf_dir))


def q_doc_tokenizer_fertility(spark, sf_dir):
    """Per-language BPE-ish subword fertility (tokens per whitespace
    word) and chars per token — the tokenizer-efficiency table
    (pipeline/text.py tokenizer_fertility)."""
    return ptext.tokenizer_fertility(_docs(spark, sf_dir))


def q_doc_minhash_containment(spark, sf_dir):
    """Asymmetric shingle containment + relation verdict (near_dup /
    a_in_b / b_in_a / partial) for the LSH candidate pairs — the
    near-superset detector Jaccard alone misses (pipeline/dedup.py
    minhash_containment)."""
    return pdedup.minhash_containment(_docs(spark, sf_dir))


def q_emb_centroid_drift(spark, sf_dir):
    """Per-label centroid cosine/L2 drift vs the corpus centroid plus
    within-label dispersion — the embedding-space source-diversity
    profile (pipeline/similarity.py centroid_drift)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.centroid_drift(emb)


def q_ev_powerlaw_fit(spark, sf_dir):
    """Discrete power-law MLE (Clauset-Shalizi-Newman) over per-user
    activity counts, per event type (pipeline/events.py powerlaw_fit)."""
    return pevents.powerlaw_fit(_events(spark, sf_dir))


def q_ev_survival_curve(spark, sf_dir):
    """Kaplan-Meier time-to-conversion (first view -> first purchase,
    right-censored at stream end), one row per active day bucket
    (pipeline/events.py survival_curve)."""
    return pevents.survival_curve(_events(spark, sf_dir))


def q_ev_transition_entropy(spark, sf_dir):
    """Per-from-type conditional next-event entropy (nats + normalized)
    with the modal next step, over within-session transitions
    (pipeline/events.py transition_entropy)."""
    return pevents.transition_entropy(_events(spark, sf_dir))


def q_doc_split_leakage_rate(spark, sf_dir):
    """Cross-split near-dup contamination RATE: exact-jaccard near-dup
    pairs per unordered split pair + the overall cross-split share —
    the cell-level rollup companion to doc_split_leakage's leaking-pair
    LIST (pipeline/dedup.py split_leakage_check)."""
    return pdedup.split_leakage_check(_docs(spark, sf_dir))


def q_ev_ab_test(spark, sf_dir):
    """Two-proportion z-test between deterministic user halves:
    conversion rates, lift, pooled-SE z and the 95% CI half-width
    (pipeline/events.py ab_test)."""
    return pevents.ab_test(_events(spark, sf_dir))


def q_ev_cohort_ltv(spark, sf_dir):
    """Weekly-cohort cumulative purchase revenue per user (LTV curves,
    retention_cohorts' money companion) (pipeline/events.py
    cohort_ltv)."""
    return pevents.cohort_ltv(_events(spark, sf_dir))


def q_doc_pagerank(spark, sf_dir):
    """Weighted PageRank centrality over the exact-Jaccard near-dup
    graph (8 fixed power iterations, DECIMAL-quantized so the unrolled
    DuckDB oracle matches exactly) - the canonical-variant selection
    signal inside duplicate clusters (pipeline/dedup.py doc_pagerank)."""
    return pdedup.doc_pagerank(_docs(spark, sf_dir))


def q_mm_keyframe_select(spark, sf_dir):
    """Per-video diverse keyframe selection: farthest-point (maxmin)
    greedy over frame pHash Hamming distances, k=3 of 6 frames —
    integer-only selection, unrolled identically in the oracle
    (pipeline/multimodal.py keyframe_select)."""
    docs = model.load_table(spark, sf_dir, "documents")
    return pmm.keyframe_select(pmm.as_binary_table(docs))


def q_emb_kmeans_elbow(spark, sf_dir):
    """IVF coarse-quantizer elbow curve: spherical-k-means cosine
    inertia at each candidate cell count, one corpus scan for all ks
    (pipeline/similarity.py kmeans_elbow)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.kmeans_elbow(emb, cache_key=sf_dir)


def q_doc_term_burstiness(spark, sf_dir):
    """Church-Gale burstiness of the top-frequency terms: collection
    vs document frequency and repeat-doc mass share (pipeline/text.py
    term_burstiness)."""
    return ptext.term_burstiness(_docs(spark, sf_dir))


def q_doc_dedup_threshold_sweep(spark, sf_dir):
    """Per-cutoff dedup sensitivity from ONE attested LSH pass:
    surviving pairs, touched docs, keep-min-id greedy removals and
    savings share at each candidate Jaccard threshold
    (pipeline/dedup.py dedup_threshold_sweep)."""
    return pdedup.dedup_threshold_sweep(_docs(spark, sf_dir))


def q_doc_lexical_diversity(spark, sf_dir):
    """Per-source lexical richness: TTR, hapax share, Simpson repeat
    rate, Yule's K over the unigram spectrum (pipeline/text.py
    lexical_diversity)."""
    return ptext.lexical_diversity(_docs(spark, sf_dir))


def q_emb_hubness(spark, sf_dir):
    """Hubness (k-occurrence) profile of the bucketed ANN k-NN graph:
    mean/skewness/max in-degree, hub and antihub counts (Radovanovic's
    S_k) (pipeline/similarity.py hubness)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.hubness(emb)


def q_emb_intrinsic_dim(spark, sf_dir):
    """TwoNN intrinsic-dimension MLE (Facco 2017) from 2-NN distance
    ratios over a fixed query budget (pipeline/similarity.py
    intrinsic_dim)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    # dim=64 (the corpus vector width) unrolls the distance fold into a
    # pure-codegen chain — measured 2-3x over the interpreted HOF (r14)
    return psim.intrinsic_dim(emb, dim=psim.EMB_DIM)


def q_ev_cusum_changepoint(spark, sf_dir):
    """CUSUM mean-shift change-point over per-type daily event volumes
    (Page 1954): detected day, max |S|, before/after means
    (pipeline/events.py cusum_changepoint)."""
    return pevents.cusum_changepoint(_events(spark, sf_dir))


def q_ev_benford(spark, sf_dir):
    """Benford first-significant-digit audit of the value measure per
    event type: chi-square vs log10(1+1/d), leading-1 share, max digit
    deviation (pipeline/events.py benford_deviation)."""
    return pevents.benford_deviation(_events(spark, sf_dir))


def q_ev_lag_autocorr(spark, sf_dir):
    """Sample ACF of per-type daily volumes at calendar lags 1/2/3/7 —
    the weekly-seasonality detector behind anomaly_seasonal's baseline
    (pipeline/events.py lag_autocorr)."""
    return pevents.lag_autocorr(_events(spark, sf_dir))


def q_emb_isotropy(spark, sf_dir):
    """Corpus anisotropy (Ethayarajh 2019): exact mean pairwise cosine
    of the unit-normalized corpus via the sum-vector identity — one
    per-dim reduction, no pair join (pipeline/similarity.py
    isotropy)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.isotropy(emb)


def q_emb_knn_purity(spark, sf_dir):
    """Per-label k-NN label agreement ("kNN accuracy") over the
    bucketed ANN graph — the class-separation probe for the embedding
    space (pipeline/similarity.py knn_label_purity)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.knn_label_purity(emb)


def q_ev_topk_drift(spark, sf_dir):
    """Week-over-week top-k heavy-hitter turnover: retained count,
    pair-set Jaccard and churn of the weekly top user set — the drift
    twin of ev_key_skew (pipeline/events.py topk_drift)."""
    return pevents.topk_drift(_events(spark, sf_dir))


def q_ev_value_psi(spark, sf_dir):
    """Population Stability Index of the value measure per (type,
    week) vs the type's corpus distribution on fixed log bins, with
    the standard 0.1/0.25 verdict bands (pipeline/events.py
    value_psi)."""
    return pevents.value_psi(_events(spark, sf_dir))


def q_ev_user_lifecycle(spark, sf_dir):
    """Daily active-user lifecycle split: new / returning /
    resurrected (gap > 14 d) actives per day (pipeline/events.py
    user_lifecycle)."""
    return pevents.user_lifecycle(_events(spark, sf_dir))


def q_doc_detector_agreement(spark, sf_dir):
    """Cross-detector dedup agreement: exact vs MinHash-LSH vs SimHash
    pair counts, overlap Jaccard and exact-pair recall of each sketch
    (pipeline/dedup.py detector_agreement)."""
    return pdedup.detector_agreement(_docs(spark, sf_dir))


def q_emb_label_confusion(spark, sf_dir):
    """Pairwise label-centroid cosine/L2 separation matrix — which
    class pairs the space entangles (pipeline/similarity.py
    label_confusion)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.label_confusion(emb)


def q_emb_sq_bits_sweep(spark, sf_dir):
    """Scalar-quantization tuning curve: mean reconstruction MSE and
    asymmetric-search recall@k per candidate bit-width
    (pipeline/similarity.py sq_bits_sweep)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.sq_bits_sweep(emb)


def q_ev_type_mix_drift(spark, sf_dir):
    """Weekly Jensen-Shannon divergence of the event-type mix vs the
    corpus mix — the categorical drift gate beside ev_value_psi
    (pipeline/events.py type_mix_drift)."""
    return pevents.type_mix_drift(_events(spark, sf_dir))


def q_doc_quality_dup_lift(spark, sf_dir):
    """Quality-vs-duplication lift: near-dup rate per Gopher keep/drop
    verdict against the corpus rate (pipeline/dedup.py
    quality_dup_lift)."""
    return pdedup.quality_dup_lift(_docs(spark, sf_dir))


def q_doc_hybrid_rrf(spark, sf_dir):
    """Hybrid lexical+dense retrieval fused by Reciprocal Rank Fusion
    (Cormack SIGIR'09, k0=60): token-Jaccard ranks merged with cosine
    ranks over the aligned corpus (pipeline/similarity.py
    hybrid_rrf)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.hybrid_rrf(_docs(spark, sf_dir), emb)


# --------------------------------------------------- round-12 additions

def q_ev_user_cap_sweep(spark, sf_dir):
    """Per-user contribution-cap sweep: retained events/share and users
    clipped at caps 1..100 per event type — the sizing table for the
    cap-before-sample fairness guard (pipeline/events.py
    user_cap_sweep)."""
    return pevents.user_cap_sweep(_events(spark, sf_dir))


def q_ev_ab_cuped(spark, sf_dir):
    """CUPED-adjusted A/B readout (Deng et al., WSDM 2013): pre-period
    covariate control gives the same delta with measured variance
    reduction (pipeline/events.py ab_cuped)."""
    return pevents.ab_cuped(_events(spark, sf_dir))


def q_ev_poisson_dispersion(spark, sf_dir):
    """Index-of-dispersion audit of per-type daily volumes (Fisher's
    variance-to-mean ratio) with the over/under-dispersion z verdict
    (pipeline/events.py poisson_dispersion)."""
    return pevents.poisson_dispersion(_events(spark, sf_dir))


def q_doc_kn_logprob(spark, sf_dir):
    """Interpolated Kneser-Ney bigram score per doc (Kneser & Ney 1995;
    Chen & Goodman 1998): absolute discount + continuation-probability
    backoff, the KenLM smoothing (pipeline/text.py
    kn_smoothed_logprob)."""
    return ptext.kn_smoothed_logprob(_docs(spark, sf_dir))


def q_doc_ngram_entropy_rate(spark, sf_dir):
    """Per-source bigram conditional entropy H(W2|W1), the
    entropy-rate/templated-text detector: both entropies, rate ratio
    and bigram perplexity (pipeline/text.py ngram_entropy_rate)."""
    return ptext.ngram_entropy_rate(_docs(spark, sf_dir))


def q_doc_shard_balance(spark, sf_dir):
    """Bucketed-write layout audit: realized char-mass balance
    (max/mean, CV) at candidate bucket counts 8/32/128 via the
    engine-portable md5 shard key (pipeline/text.py shard_balance)."""
    return ptext.shard_balance(_docs(spark, sf_dir))


def q_doc_cluster_size_dist(spark, sf_dir):
    """Exact-duplicate cluster-size histogram with the discrete
    power-law MLE alpha (Clauset et al. 2009) and max-cluster share
    (pipeline/dedup.py cluster_size_dist)."""
    return pdedup.cluster_size_dist(_docs(spark, sf_dir))


def q_emb_knn_reciprocity(spark, sf_dir):
    """Mutual-edge rate of the bucketed ANN k-NN graph — the hubness
    companion that predicts mutual-kNN curation connectivity
    (pipeline/similarity.py knn_reciprocity)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.knn_reciprocity(emb)


def q_emb_ood_mahalanobis(spark, sf_dir):
    """Per-label diagonal-Mahalanobis OOD audit (Lee et al. 2018):
    z2 vs the label's own per-dim stats, OOD rate at the chi-square
    far tail (pipeline/similarity.py ood_mahalanobis)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.ood_mahalanobis(emb)


def q_emb_top_pc(spark, sf_dir):
    """Dominant principal component by fixed-8 power iteration on the
    covariance: lambda1, trace, explained-variance ratio and the top
    loading dimension (pipeline/similarity.py top_pc)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.top_pc(emb, dim=psim.EMB_DIM)


# ------------------------------------------------ round-13 additions


def q_promql_at_subquery(spark, sf_dir):
    """Duplicate-SENSITIVE range function over an @-pinned subquery
    (the r12 ADVICE high fix): count_over_time over the step-invariant
    pinned window must be CONSTANT across the outer grid — a
    point-replication implementation leaks replicas into neighboring
    steps' sliding windows and varies by step (promql/planner.py Mat
    pinned_grid)."""
    return _promql(
        f"count_over_time(purchase[14d:1d] @ {AT_TS_MS // 1000})"
    )(spark, sf_dir)


# inner steps are ABSOLUTELY step-aligned at floor(T_eff/step)*step
# (planner's pinned-grid rule); the series below derives that anchor
# instead of assuming AT_TS_MS is midnight-aligned, and the 13-step
# reach-back is exact for ANY T: floor(T) - 13d > T - 14d always,
# while floor(T) - 14d <= T - 14d is always excluded
SQL_PROMQL_AT_SUBQUERY = f"""
WITH pts AS ({_PTS}),
{_grid_sql()},
igrid AS (SELECT unnest(generate_series(
            ({AT_TS_MS} // 86400000) * 86400000 - 13 * 86400000,
            ({AT_TS_MS} // 86400000) * 86400000, 86400000)) AS istep),
inst AS (
  SELECT p.user_id, i.istep, arg_max(p.value, p.ts) AS value
  FROM pts p, igrid i
  WHERE p.ts > i.istep - {LOOKBACK_MS} AND p.ts <= i.istep
    AND p.event_type = 'purchase'
  GROUP BY 1, 2),
cnt AS (SELECT user_id, count(*)::DOUBLE AS value FROM inst GROUP BY 1)
SELECT c.user_id, g.step_ts, round(c.value, 6) AS value FROM cnt c, grid g
"""


def q_doc_oph_minhash(spark, sf_dir):
    """One-permutation-hashing MinHash (Li, Owen & Zhang 2012;
    Shrivastava & Li 2014 densification) -> banded LSH near-dup pairs:
    ONE hash per shingle instead of K — the 100 TB signature scale
    path, through the same banding/cap machinery as
    doc_minhash_lsh_pairs (pipeline/dedup.py oph_neardup_pairs)."""
    docs = model.load_table(spark, sf_dir, "documents")
    return pdedup.oph_neardup_pairs(docs)


def q_emb_effective_rank(spark, sf_dir):
    """Effective rank (participation ratio (Σλ)²/Σλ²) of the embedding
    cloud from trace identities alone — spectrum concentration with NO
    eigendecomposition; one combiner-collapsed dim² moment scan
    (pipeline/similarity.py effective_rank)."""
    emb = model.load_table(spark, sf_dir, "embeddings")
    return psim.effective_rank(emb, dim=psim.EMB_DIM)


def q_ev_power_mde(spark, sf_dir):
    """Minimum detectable effect at 80% power / 5% alpha for the
    per-user value metric between the ab_test user halves — the
    experiment-sizing readout (pipeline/events.py power_mde)."""
    return pevents.power_mde(_events(spark, sf_dir))


def q_ev_diff_in_diff(spark, sf_dir):
    """Difference-in-differences across the time-range midpoint between
    the ab_test user halves, with the per-user-change z-score
    (pipeline/events.py diff_in_diff)."""
    return pevents.diff_in_diff(_events(spark, sf_dir))


def q_mm_phash_dct(spark, sf_dir):
    """Real DCT perceptual hash (Zauner 2010) over the stub-decoded 8×8
    grid: 16 constant-basis dot products as pure JVM column
    expressions, median-thresholded to a 15-bit hash + collision
    groups (pipeline/multimodal.py dct_phash)."""
    docs = model.load_table(spark, sf_dir, "documents")
    return pmm.dct_phash(pmm.as_binary_table(docs))


@dataclass(frozen=True)
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None -> driver does a rows-only check


def _neg0(sql: str, cols: _Seq[str] = ("value",)) -> str:
    """Normalize IEEE negative zero in a DuckDB oracle.

    DuckDB ``round()`` preserves -0.0 where Spark's returns +0.0; the
    hash compare is textual, so wrap float columns that can round to a
    negative zero with ``col + 0`` (identity except -0.0 -> +0.0).
    """
    replaces = ", ".join(f'"{c}" + 0 AS "{c}"' for c in cols)
    return f"SELECT * REPLACE ({replaces}) FROM (\n{sql}\n) _q"


_ALL_QUERIES: dict[str, QueryDef] = {
    # TSDB storage/dataflow + PromQL surface (SURVEY §2A/§2B)
    "ts_downsample_5m": QueryDef(q_downsample, SQL_DOWNSAMPLE),
    "ts_instant_selector": QueryDef(q_instant, SQL_INSTANT),
    "ts_avg_over_time": QueryDef(q_range_avg, SQL_RANGE_AVG),
    "ts_mad_over_time": QueryDef(q_range_mad, SQL_RANGE_MAD),
    "ts_sum_over_time": QueryDef(_q_over_time("sum"), _sql_over_time("sum(value)")),
    "ts_min_over_time": QueryDef(_q_over_time("min"), _sql_over_time("min(value)")),
    "ts_max_over_time": QueryDef(_q_over_time("max"), _sql_over_time("max(value)")),
    "ts_present_over_time": QueryDef(_q_over_time("present"), _sql_over_time("1.0")),
    "ts_stdvar_over_time": QueryDef(
        _q_over_time("stdvar"), _sql_over_time("coalesce(var_pop(value), 0.0)")
    ),
    "ts_count_over_time": QueryDef(
        _q_over_time("count"), _sql_over_time("count(*)::DOUBLE")
    ),
    "ts_last_over_time": QueryDef(
        _q_over_time("last"), _sql_over_time("arg_max(value, ts)")
    ),
    # experimental ts_of_* trio (prometheus v3.5+; ties -> latest ts,
    # NaN skipped, all-NaN falls back to the last sample's ts)
    "ts_of_max_over_time": QueryDef(
        _q_over_time("ts_of_max"),
        _sql_over_time(
            "coalesce((max(CASE WHEN NOT isnan(value) THEN {'v': value, 'ts': ts} END)).ts,"
            " max(ts)) / 1000.0"
        ),
    ),
    "ts_of_min_over_time": QueryDef(
        _q_over_time("ts_of_min"),
        _sql_over_time(
            "coalesce(-(min(CASE WHEN NOT isnan(value) THEN {'v': value, 'nts': -ts} END)).nts,"
            " max(ts)) / 1000.0"
        ),
    ),
    "ts_of_last_over_time": QueryDef(
        _q_over_time("ts_of_last"), _sql_over_time("max(ts) / 1000.0")
    ),
    "ts_stddev_over_time": QueryDef(
        _q_over_time("stddev"), _sql_over_time("coalesce(stddev_pop(value), 0.0)")
    ),
    "ts_quantile_over_time": QueryDef(q_range_quantile, SQL_RANGE_QUANTILE),
    "ts_rate": QueryDef(q_rate, _extrapolated_sql(RANGE_MS, True, True)),
    "ts_increase": QueryDef(q_increase, _extrapolated_sql(RANGE_MS, True, False)),
    "ts_delta": QueryDef(q_delta, _neg0(_extrapolated_sql(RANGE_MS, False, False))),
    "ts_irate": QueryDef(q_irate, _neg0(SQL_IRATE)),
    "ts_idelta": QueryDef(q_idelta, _neg0(SQL_IDELTA)),
    "ts_resets": QueryDef(q_resets, SQL_RESETS),
    "ts_changes": QueryDef(q_changes, SQL_CHANGES),
    "ts_agg_sum_by": QueryDef(q_agg_sum_by, SQL_AGG_SUM_BY),
    "ts_agg_stddev_by": QueryDef(q_agg_stddev_by, SQL_AGG_STDDEV_BY),
    "ts_agg_quantile_by": QueryDef(q_agg_quantile_by, SQL_AGG_QUANTILE_BY),
    "ts_topk": QueryDef(q_topk, SQL_TOPK),
    "ts_limitk": QueryDef(q_limitk, SQL_LIMITK),
    "ts_limit_ratio": QueryDef(q_limit_ratio, SQL_LIMIT_RATIO),
    "ts_count_values": QueryDef(q_count_values, SQL_COUNT_VALUES),
    "ts_binop_ratio": QueryDef(q_binop_ratio, SQL_BINOP_RATIO),
    "ts_binop_gt_filter": QueryDef(q_binop_gt, SQL_BINOP_GT),
    "ts_set_and": QueryDef(q_set_and, SQL_SET_AND),
    "ts_set_unless": QueryDef(q_set_unless, SQL_SET_UNLESS),
    "ts_set_or": QueryDef(q_set_or, SQL_SET_OR),
    "ts_preagg_route_avg": QueryDef(q_preagg_route_avg, SQL_PREAGG_ROUTE_AVG),
    "ts_preagg_route_rate": QueryDef(q_preagg_route_rate, SQL_PREAGG_ROUTE_RATE),
    "ts_stitch_preagg_raw": QueryDef(q_stitch, SQL_STITCH),
    "ts_dedup_points": QueryDef(q_dedup, SQL_DEDUP),
    "ts_retention": QueryDef(q_retention, SQL_RETENTION),
    "ts_series_interning": QueryDef(q_interning, SQL_INTERNING),
    "ts_label_values": QueryDef(q_label_values, SQL_LABEL_VALUES),
    "ts_tenant_filter": QueryDef(q_tenant_filter, SQL_TENANT_FILTER),
    # relational engine surface
    "tpch_q1_pricing_summary": QueryDef(q_tpch_q1, SQL_TPCH_Q1),
    "tpch_q3_shipping_priority": QueryDef(q_tpch_q3, SQL_TPCH_Q3),
    "tpch_q5_local_supplier": QueryDef(q_tpch_q5, SQL_TPCH_Q5),
    "tpch_q6_forecast_revenue": QueryDef(q_tpch_q6, SQL_TPCH_Q6),
    "tpch_q10_returned_items": QueryDef(q_tpch_q10, SQL_TPCH_Q10),
    "tpch_q4_order_priority": QueryDef(q_tpch_q4, SQL_TPCH_Q4),
    "tpch_q12_late_shipments": QueryDef(q_tpch_q12, SQL_TPCH_Q12),
    "tpch_q13_order_distribution": QueryDef(q_tpch_q13, SQL_TPCH_Q13),
    "tpch_q14_promo_revenue": QueryDef(q_tpch_q14, SQL_TPCH_Q14),
    "tpch_q18_large_orders": QueryDef(q_tpch_q18, SQL_TPCH_Q18),
    "tpch_q19_disjunctive_revenue": QueryDef(q_tpch_q19, SQL_TPCH_Q19),
    "tpch_q2_min_cost_supplier": QueryDef(q_tpch_q2, SQL_TPCH_Q2),
    "tpch_q7_nation_volume": QueryDef(q_tpch_q7, SQL_TPCH_Q7),
    "tpch_q8_market_share": QueryDef(q_tpch_q8, SQL_TPCH_Q8),
    "tpch_q9_product_profit": QueryDef(q_tpch_q9, SQL_TPCH_Q9),
    "tpch_q11_important_stock": QueryDef(q_tpch_q11, SQL_TPCH_Q11),
    "tpch_q15_top_supplier": QueryDef(q_tpch_q15, SQL_TPCH_Q15),
    "tpch_q16_supplier_counts": QueryDef(q_tpch_q16, SQL_TPCH_Q16),
    "tpch_q17_small_qty_revenue": QueryDef(q_tpch_q17, SQL_TPCH_Q17),
    "tpch_q20_excess_shippers": QueryDef(q_tpch_q20, SQL_TPCH_Q20),
    "tpch_q21_waiting_suppliers": QueryDef(q_tpch_q21, SQL_TPCH_Q21),
    "tpch_q22_dormant_customers": QueryDef(q_tpch_q22, SQL_TPCH_Q22),
    # LLM-data pipeline: text analysis
    "doc_text_stats": QueryDef(q_doc_stats, SQL_DOC_STATS),
    "doc_lang_id": QueryDef(q_doc_langid, ptext.sql_lang_scores()),
    "doc_fingerprint": QueryDef(q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    # LLM-data pipeline: deduplication
    "doc_exact_dedup": QueryDef(q_doc_exact_dedup, SQL_DOC_EXACT_DEDUP),
    "doc_ngram_jaccard": QueryDef(q_doc_ngram_jaccard, SQL_DOC_NGRAM_JACCARD),
    "doc_minhash_signatures": QueryDef(q_doc_minhash, pdedup.sql_minhash_signatures()),
    "doc_minhash_lsh_pairs": QueryDef(q_doc_minhash_lsh, pdedup.sql_minhash_lsh_pairs()),
    "doc_simhash": QueryDef(q_doc_simhash, pdedup.sql_simhash()),
    # LLM-data pipeline: similarity search
    "emb_cosine_knn": QueryDef(q_emb_cosine_knn, _neg0(psim.sql_cosine_knn(), ["cosine"])),
    "emb_ann_lsh": QueryDef(q_emb_ann_lsh, _neg0(psim.sql_ann_lsh(), ["cosine"])),
    "emb_neardup_pairs": QueryDef(
        q_emb_neardup, _neg0(psim.sql_embedding_neardup(), ["cosine"])
    ),
    # LLM-data pipeline: multimodal plumbing (Arrow-batched mapInPandas)
    "mm_extract_features": QueryDef(q_mm_extract, pmm.SQL_EXTRACT_FEATURES),
    "mm_resize_images": QueryDef(
        q_mm_resize,
        "SELECT doc_id, width, height, array_to_string(pixels, ',') AS pixels_csv "
        f"FROM (\n{pmm.sql_resize_images()}\n) _r",
    ),
    "mm_sample_frames": QueryDef(q_mm_frames, pmm.sql_sample_frames()),
    "mm_audio_windows": QueryDef(q_mm_audio, pmm.sql_sample_audio_windows()),
    "mm_audio_matches": QueryDef(q_mm_audio_matches, pmm.sql_audio_matches()),
    "mm_audio_align": QueryDef(q_mm_audio_align, pmm.sql_audio_align()),
    # long-tail PromQL functions + mutable labels + export
    "ts_histogram_quantile": QueryDef(q_histogram_quantile, SQL_HISTOGRAM_QUANTILE),
    "ts_deriv": QueryDef(q_deriv, _neg0(_linreg_sql(None))),
    "ts_predict_linear": QueryDef(q_predict_linear, _neg0(_linreg_sql(3600.0))),
    "ts_absent": QueryDef(q_absent, SQL_ABSENT),
    "ts_date_functions": QueryDef(q_date_fns, SQL_DATE_FNS),
    "ts_label_replace": QueryDef(q_label_replace, SQL_LABEL_REPLACE),
    "ts_label_join": QueryDef(q_label_join, SQL_LABEL_JOIN),
    "ts_mutable_labels": QueryDef(q_mutable_labels, SQL_MUTABLE_LABELS),
    "ts_export_pivot": QueryDef(q_export_pivot, SQL_EXPORT_PIVOT),
    "ts_import_roundtrip": QueryDef(q_import_roundtrip, SQL_IMPORT_ROUNDTRIP),
    "ts_index_verify": QueryDef(q_index_verify, SQL_INDEX_VERIFY),
    "ts_holt_winters": QueryDef(q_holt_winters, _holt_winters_sql(0.5, 0.3)),
    # PromQL strings through the native parser + planner
    # rate() drops __name__ (upstream DropMetricName), so a multi-metric
    # rate over this store would collide on {user_id} and error exactly
    # like Prometheus; the catalog query rates a single metric
    "promql_rate_sum": QueryDef(
        _promql("sum by (user_id) (rate(purchase[14d]))"), SQL_PROMQL_RATE_SUM
    ),
    "promql_selector_matchers": QueryDef(
        _promql('{__name__=~"purchase|error", user_id!="3"}'), SQL_PROMQL_SELECTOR
    ),
    "promql_binop_sub": QueryDef(_promql("purchase - error"), _neg0(SQL_PROMQL_BINOP_SUB)),
    "promql_topk": QueryDef(_promql('topk(2, {__name__=~".+"})'), SQL_PROMQL_TOPK),
    "promql_clamp_arith": QueryDef(
        _promql("clamp(100 * purchase, 5000, 15000)"), SQL_PROMQL_CLAMP
    ),
    "promql_offset": QueryDef(_promql("purchase offset 7d"), SQL_PROMQL_OFFSET),
    "promql_cmp_filter": QueryDef(
        _promql("avg_over_time(purchase[14d]) > 100"), SQL_PROMQL_CMP_FILTER
    ),
    "promql_subquery": QueryDef(
        _promql('avg_over_time(sum by (user_id) ({__name__=~".+"})[14d:1d])'),
        SQL_PROMQL_SUBQUERY,
    ),
    "promql_at_modifier": QueryDef(
        _promql(f"purchase @ {AT_TS_MS // 1000}"), SQL_PROMQL_AT
    ),
    # group_* results carry the many side's labels minus __name__; a
    # multi-metric many side would collide on {user_id} (upstream
    # errors), so the many side selects one metric
    "promql_group_left": QueryDef(
        _promql('purchase / on(user_id) group_left'
                ' sum by (user_id) ({__name__=~".+"})'),
        SQL_PROMQL_GROUP_LEFT,
    ),
    "promql_group_right": QueryDef(
        _promql('sum by (user_id) ({__name__=~".+"}) - on(user_id) group_right'
                ' purchase'),
        _neg0(SQL_PROMQL_GROUP_RIGHT),
    ),
    "promql_bottomk_without": QueryDef(
        _promql('bottomk(3, sum without () ({__name__=~".+"}))'),
        SQL_PROMQL_BOTTOMK_WITHOUT,
    ),
    "promql_agg_group": QueryDef(
        _promql('group by (user_id) ({__name__=~".+"})'), SQL_PROMQL_AGG_GROUP
    ),
    "promql_binop_modpow": QueryDef(
        _promql("(purchase % 7) ^ 2"), SQL_PROMQL_MODPOW
    ),
    "promql_absent_over_time": QueryDef(
        _promql("absent_over_time(nosuchmetric[14d])"), SQL_PROMQL_ABSENT_OVER_TIME
    ),
    "promql_time_timestamp": QueryDef(
        _promql("time() - timestamp(purchase)"), SQL_PROMQL_TIME_TS
    ),
    "emb_ann_ivf": QueryDef(q_emb_ann_ivf, _neg0(psim.sql_ann_ivf(), ["cosine"])),
    # full API endpoint path (tenant scope + explicit grid + PromQL string)
    "api_query_range": QueryDef(q_api_query_range, SQL_API_QUERY_RANGE),
    # time-bound pushdown: narrow explicit bounds prune the fact scan
    "api_bounded_scan": QueryDef(q_api_bounded_scan, SQL_API_BOUNDED_SCAN),
    # A17 stitch reachable from the API layer
    "api_preagg_stitch": QueryDef(q_api_preagg_stitch, SQL_API_PREAGG_STITCH),
    # A15/A16 routing inside the engine
    "promql_preagg_route": QueryDef(q_promql_preagg_route, SQL_PROMQL_PREAGG_ROUTE),
    # dynamic MAP<STRING,STRING> label model through the engine
    "promql_map_labels": QueryDef(q_promql_map_labels, SQL_PROMQL_MAP_LABELS),
    # A24 series-set sort (order asserted in pytest; hash attests values)
    "promql_sort": QueryDef(q_promql_sort, SQL_PROMQL_SORT),
    # token counting (whitespace + BPE-ish subword estimate)
    "doc_bpe_tokens": QueryDef(q_doc_bpe_tokens, SQL_DOC_BPE_TOKENS),
    # within-document repetition ratios (Gopher-style quality filters)
    "doc_repetition": QueryDef(q_doc_repetition, SQL_DOC_REPETITION),
    # Gopher composite keep/drop decision
    "doc_quality_filter": QueryDef(
        q_doc_quality_filter, ptext.sql_quality_filter()
    ),
    # corpus-wide duplicated-ngram fraction (boilerplate signal)
    "doc_dup_ngrams": QueryDef(
        q_doc_dup_ngrams, pdedup.sql_duplicate_ngram_ratio()
    ),
    # corpus heavy hitters
    "doc_top_terms": QueryDef(q_doc_top_terms, ptext.sql_top_terms()),
    # offline IVF quantizer training -> persisted centroid table
    "emb_ivf_centroids": QueryDef(
        q_emb_ivf_centroids, psim.sql_ivf_centroids()
    ),
    # duplicate clustering: LSH pairs -> connected components -> canonical
    "doc_dedup_clusters": QueryDef(
        q_doc_dedup_clusters,
        pdedup.sql_cc_clusters(
            pdedup.sql_minhash_lsh_pairs(),
            where=f"WHERE est_jaccard >= {DUP_EST_JACCARD}",
        ),
    ),
    # per-stratum token-budget sampling (data mixing)
    "doc_sample_budget": QueryDef(
        q_doc_sample_budget, ptext.sql_token_budget_sample()
    ),
    # sharded variant: stratum split into content-derived budget slices
    "doc_sample_budget_sharded": QueryDef(
        q_doc_sample_budget_sharded,
        ptext.sql_token_budget_sample(n_shards=4),
    ),
    # benchmark decontamination (eval-leakage n-gram collision scan)
    "doc_decontaminate": QueryDef(
        q_doc_decontaminate, ptext.sql_decontaminate()
    ),
    # temperature-based source mixture weights
    "doc_mix_weights": QueryDef(
        q_doc_mix_weights, ptext.sql_mix_temperature_weights()
    ),
    # per-(lang, source) corpus mixture report
    "doc_source_stats": QueryDef(q_doc_source_stats, ptext.sql_source_stats()),
    # unigram-LM quality score (perplexity-filter shape)
    "doc_unigram_logprob": QueryDef(
        q_doc_unigram_logprob, ptext.sql_unigram_logprob()
    ),
    # concat-and-chunk sequence packing (fixed context length)
    "doc_pack_sequences": QueryDef(
        q_doc_pack_sequences, ptext.sql_pack_sequences()
    ),
    # the dedup decision applied: surviving doc ids
    "doc_dedup_keep_list": QueryDef(
        q_doc_dedup_keep_list,
        f"""
WITH members AS (SELECT * FROM ({pdedup.sql_cc_clusters(
            pdedup.sql_minhash_lsh_pairs(),
            where=f"WHERE est_jaccard >= {DUP_EST_JACCARD}",
        )}) _m)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM members WHERE NOT is_canonical)
""",
    ),
    # cross-modal verification: text-LSH candidates x embedding cosine
    "doc_hybrid_neardup": QueryDef(
        q_doc_hybrid_neardup,
        psim.sql_hybrid_text_embedding_neardup(
            pdedup.sql_minhash_lsh_pairs()
        ),
    ),
    # semantic dedup over embeddings (near-dup graph -> clusters)
    "emb_semantic_dedup": QueryDef(
        q_emb_semantic_dedup,
        pdedup.sql_cc_clusters(
            psim.sql_embedding_neardup(),
            a_col="a_id", b_col="b_id", id_alias="vec_id",
        ),
    ),
    # PII scrub: typed-placeholder redaction + scrubbed fingerprint
    "doc_pii_scrub": QueryDef(q_doc_pii_scrub, ptext.sql_pii_scrub()),
    # unigram Shannon entropy (repetitiveness quality signal)
    "doc_token_entropy": QueryDef(
        q_doc_token_entropy, ptext.sql_token_entropy()
    ),
    # exact duplicated-substring spans (ExactSubstr dedup shape)
    "doc_dup_spans": QueryDef(q_doc_dup_spans, pdedup.sql_duplicate_spans()),
    # gap-based sessionization of the event stream
    "ev_sessionize": QueryDef(q_ev_sessionize, pevents.sql_sessionize()),
    "ev_peak_concurrency": QueryDef(
        q_ev_peak_concurrency, pevents.sql_peak_concurrency()
    ),
    # ordered first-touch funnel
    "ev_funnel": QueryDef(q_ev_funnel, pevents.sql_funnel()),
    # weekly retention cohorts
    "ev_retention_cohorts": QueryDef(
        q_ev_retention_cohorts, pevents.sql_retention_cohorts()
    ),
    # RFM segmentation (broadcast type-1 quintile boundaries)
    "ev_rfm_segments": QueryDef(
        q_ev_rfm_segments, pevents.sql_rfm_segments()
    ),
    # as-of join (vs DuckDB native ASOF JOIN as the oracle)
    "ev_asof_join": QueryDef(
        q_ev_asof_join, pevents.sql_asof_purchase_view(ASOF_TOL_MS)
    ),
    # int8 scalar quantization (codes + reconstruction MSE)
    "emb_scalar_quantize": QueryDef(
        q_emb_scalar_quantize, psim.sql_scalar_quantize()
    ),
    # 1-bit binary quantization + Hamming retrieve + exact rescoring
    "emb_binary_hamming": QueryDef(
        q_emb_binary_hamming, psim.sql_binary_hamming_knn()
    ),
    # per-IVF-cell representatives (coreset/diversity sampling)
    "emb_diversity_sample": QueryDef(
        q_emb_diversity_sample, psim.sql_ivf_diversity_sample()
    ),
    # cross-video duplicate-frame groups (multimodal exact dedup)
    "mm_frame_dedup": QueryDef(q_mm_frame_dedup, pmm.sql_frame_dedup()),
    # JSON payload field extraction + per-type aggregate
    "ev_props_stats": QueryDef(q_ev_props_stats, pevents.sql_props_stats()),
    # bigram conditional-LM quality score
    "doc_bigram_logprob": QueryDef(
        q_doc_bigram_logprob, ptext.sql_bigram_logprob()
    ),
    # top collocations by PMI (min-count floored, rank on rounded score)
    "doc_token_pmi": QueryDef(q_doc_token_pmi, ptext.sql_token_pmi()),
    # corpus Zipf slope/intercept/R² over the top terms
    "doc_zipf_stats": QueryDef(q_doc_zipf_stats, ptext.sql_zipf_stats()),
    # winnowing (MOSS) fingerprint selection
    "doc_winnowing": QueryDef(
        q_doc_winnowing, pdedup.sql_winnowing_fingerprints()
    ),
    # hopping-window event counts (streaming-agg twin)
    "ev_hopping_counts": QueryDef(
        q_ev_hopping_counts, pevents.sql_hopping_counts()
    ),
    # product quantization: train/serve codes + reconstruction MSE
    "emb_pq_codes": QueryDef(q_emb_pq_codes, psim.sql_pq_codes()),
    # IVF-PQ ADC search: coarse cells + per-query lookup tables over
    # PQ codes — the corpus side carries only (id, cell, codes)
    "emb_ann_ivfpq": QueryDef(q_emb_ann_ivfpq, psim.sql_ann_ivfpq()),
    # corpus-global segment (line) dedup, C4-style first-occurrence keep
    "doc_segment_dedup": QueryDef(
        q_doc_segment_dedup, pdedup.sql_segment_dedup()
    ),
    # hash-keyed variant, same exact oracle (collision-free by check)
    "doc_segment_dedup_hashkey": QueryDef(
        q_doc_segment_dedup_hashkey, pdedup.sql_segment_dedup()
    ),
    # fixed-radius cosine search (broadcast queries, zero shuffle)
    "emb_range_search": QueryDef(
        q_emb_range_search, _neg0(psim.sql_range_search(), ["cosine"])
    ),
    # greedy MMR diversity re-rank over exact top-C candidates
    "emb_mmr_rerank": QueryDef(
        q_emb_mmr_rerank, _neg0(psim.sql_mmr_rerank(), ["mmr_score"])
    ),
    # DSIR importance weights (hashed-unigram target/raw log ratio)
    "doc_dsir_weights": QueryDef(
        q_doc_dsir_weights, _neg0(ptext.sql_dsir_weights(), ["log_ratio"])
    ),
    # near-dup split leakage audit (pairs that crossed split boundaries)
    "doc_split_leakage": QueryDef(
        q_doc_split_leakage, ptext.sql_split_leakage(min_est_jaccard=0.3)
    ),
    # deterministic HLL distinct sketch + exact self-eval
    "ev_hll_distinct": QueryDef(q_ev_hll_distinct, pevents.sql_hll_distinct()),
    "ev_hll_rollup": QueryDef(q_ev_hll_rollup, pevents.sql_hll_rollup()),
    "ev_sample_quantiles": QueryDef(
        q_ev_sample_quantiles, pevents.sql_hash_sample_quantiles()
    ),
    "doc_domain_cap": QueryDef(q_doc_domain_cap, ptext.sql_domain_cap()),
    "ev_hll_setops": QueryDef(q_ev_hll_setops, pevents.sql_hll_setops()),
    "ev_hll_sliding": QueryDef(q_ev_hll_sliding, pevents.sql_hll_sliding()),
    "doc_canonical_dedup": QueryDef(
        q_doc_canonical_dedup, ptext.sql_canonical_dedup()
    ),
    "ev_decayed_counts": QueryDef(
        q_ev_decayed_counts, pevents.sql_decayed_counts()
    ),
    "doc_vocab_coverage": QueryDef(
        q_doc_vocab_coverage, ptext.sql_vocab_coverage()
    ),
    "doc_bm25_topk": QueryDef(q_doc_bm25_topk, ptext.sql_bm25_topk()),
    "doc_cluster_split": QueryDef(
        q_doc_cluster_split, ptext.sql_cluster_split()
    ),
    "emb_threshold_sweep": QueryDef(
        q_emb_threshold_sweep, psim.sql_neardup_threshold_sweep()
    ),
    # count-min sketch heavy hitters + overestimate self-eval
    "doc_cm_heavyhitters": QueryDef(
        q_doc_cm_heavyhitters, ptext.sql_cm_heavyhitters()
    ),
    # composed curation keep/drop verdict with per-check reasons
    "doc_curation_verdict": QueryDef(
        q_doc_curation_verdict, ptext.sql_curation_verdict()
    ),
    # last-touch attribution rollup over the as-of kernel
    "ev_attribution": QueryDef(q_ev_attribution, pevents.sql_attribution()),
    # IVF-PQ ADC retrieve + exact refine two-phase serve
    "emb_ann_ivfpq_refine": QueryDef(
        q_emb_ann_ivfpq_refine, _neg0(psim.sql_ann_ivfpq_refine(), ["cosine"])
    ),
    # video-level near-dup via banded pHash frame voting
    "mm_video_neardup": QueryDef(
        q_mm_video_neardup, pmm.sql_video_neardup()
    ),
    # IVF recall@k vs exact top-k (ANN self-evaluation)
    "emb_ann_recall": QueryDef(q_emb_ann_recall, psim.sql_ann_recall()),
    # top-k ordered session paths
    "ev_session_paths": QueryDef(
        q_ev_session_paths, pevents.sql_session_paths()
    ),
    # asymmetric n-gram containment on LSH candidates
    "doc_source_overlap": QueryDef(
        q_doc_source_overlap, pdedup.sql_source_overlap()
    ),
    "doc_source_minhash_sim": QueryDef(
        q_doc_source_minhash_sim, pdedup.sql_source_minhash_sim()
    ),
    # SimHash near-dup candidate pairs (Manku block pigeonhole + exact verify)
    "doc_simhash_neardup": QueryDef(
        q_doc_simhash_neardup, pdedup.sql_simhash_neardup_pairs()
    ),
    # cadence-regularity bot flagging (inter-event gap cv per user)
    "ev_bot_cadence": QueryDef(q_ev_bot_cadence, pevents.sql_bot_cadence()),
    # heavy-key skew profile (the pre-join salting diagnostic)
    "ev_key_skew": QueryDef(q_ev_key_skew, pevents.sql_key_skew()),
    # CCNet per-language head/middle/tail perplexity buckets
    "doc_ccnet_buckets": QueryDef(q_doc_ccnet_buckets, ptext.sql_ccnet_buckets()),
    # IVF cell-occupancy skew report (the ANN index's own key_skew)
    "emb_ivf_cell_balance": QueryDef(
        q_emb_ivf_cell_balance, psim.sql_ivf_cell_balance()
    ),
    # SimHash pigeonhole calibration (hamming vs exact Jaccard on candidates)
    "doc_simhash_accuracy": QueryDef(
        q_doc_simhash_accuracy, pdedup.sql_simhash_accuracy()
    ),
    # funnel conversion-latency distribution (exact type-1 p50/p90)
    "ev_funnel_timing": QueryDef(q_ev_funnel_timing, pevents.sql_funnel_timing()),
    # cross-source sketch calibration (est vs exact Jaccard per pair)
    "doc_source_sketch_accuracy": QueryDef(
        q_doc_source_sketch_accuracy, pdedup.sql_source_sketch_accuracy()
    ),
    # IVF recall-vs-nprobe tuning curve
    "emb_ivf_nprobe_sweep": QueryDef(
        q_emb_ivf_nprobe_sweep, psim.sql_ivf_nprobe_sweep()
    ),
    # audio near-dup clusters (CC over constellation matches)
    "mm_audio_dedup_clusters": QueryDef(
        q_mm_audio_dedup_clusters,
        pdedup.sql_cc_clusters(pmm.sql_audio_matches()),
    ),
    # session-length distribution (exact type-1 p50/p90 + bounce rate)
    "ev_session_duration_stats": QueryDef(
        q_ev_session_duration_stats, pevents.sql_session_duration_stats()
    ),
    # weekday-adjusted robust anomaly flags
    "ev_anomaly_seasonal": QueryDef(
        q_ev_anomaly_seasonal, pevents.sql_anomaly_seasonal()
    ),
    # shared-opening template groups
    "doc_boilerplate_prefixes": QueryDef(
        q_doc_boilerplate_prefixes, ptext.sql_boilerplate_prefixes()
    ),
    # Heaps-law corpus growth curve (first-seen n-grams per decile)
    "doc_corpus_growth": QueryDef(
        q_doc_corpus_growth, ptext.sql_corpus_growth()
    ),
    # DAU/MAU stickiness per 30-day bucket
    "ev_stickiness": QueryDef(q_ev_stickiness, pevents.sql_stickiness()),
    # Lorenz curve + Gini of per-user activity (round 10)
    "ev_user_concentration": QueryDef(
        q_ev_user_concentration, pevents.sql_user_concentration()
    ),
    # per-type inter-arrival percentiles + burstiness (round 10)
    "ev_interarrival": QueryDef(
        q_ev_interarrival, pevents.sql_interarrival_profile()
    ),
    # per-dimension embedding energy profile (round 10)
    "emb_dim_variance": QueryDef(q_emb_dim_variance, psim.sql_dim_variance()),
    # per-subspace PQ codebook calibration (round 10)
    "emb_pq_distortion": QueryDef(
        q_emb_pq_distortion, psim.sql_pq_distortion()
    ),
    # LSH band-tuning S-curve, analytic vs observed (round 10)
    "doc_lsh_s_curve": QueryDef(q_doc_lsh_s_curve, pdedup.sql_lsh_s_curve()),
    # per-source KL/JS distribution drift vs corpus (round 10)
    "doc_source_drift": QueryDef(q_doc_source_drift, ptext.sql_source_drift()),
    # MinHash signature-width accuracy sweep (round 10)
    "doc_minhash_k_sweep": QueryDef(
        q_doc_minhash_k_sweep, pdedup.sql_minhash_k_sweep()
    ),
    # packing-plan efficiency report (round 10)
    "doc_packing_efficiency": QueryDef(
        q_doc_packing_efficiency, ptext.sql_packing_efficiency()
    ),
    # language-ID confusion matrix (round 10)
    "doc_lang_confusion": QueryDef(
        q_doc_lang_confusion, ptext.sql_lang_confusion()
    ),
    # windowed conversion funnel with rates (round 10)
    "ev_funnel_windowed": QueryDef(
        q_ev_funnel_windowed, pevents.sql_funnel_windowed()
    ),
    # per-source exact length percentiles (data-card table)
    "doc_length_quantiles": QueryDef(
        q_doc_length_quantiles, ptext.sql_length_quantiles()
    ),
    # embedding-table QC gate (norms / dims / zero vectors per label)
    "emb_qc": QueryDef(q_emb_qc, psim.sql_embedding_qc()),
    # near-dup attribution to source pairs (within vs cross source)
    "doc_dup_source_attribution": QueryDef(
        q_doc_dup_source_attribution,
        pdedup.sql_dup_source_attribution(
            pdedup.sql_minhash_lsh_pairs(),
            where=f"WHERE est_jaccard >= {DUP_EST_JACCARD}",
        ),
    ),
    # dedup savings report over the cluster DAG's output
    "doc_dedup_savings": QueryDef(
        q_doc_dedup_savings,
        pdedup.sql_dedup_savings(
            pdedup.sql_cc_clusters(
                pdedup.sql_minhash_lsh_pairs(),
                where=f"WHERE est_jaccard >= {DUP_EST_JACCARD}",
            )
        ),
    ),
    "doc_containment": QueryDef(
        q_doc_containment, pdedup.sql_ngram_containment()
    ),
    # MOSS match scoring over shared winnowing fingerprints
    "doc_winnowing_matches": QueryDef(
        q_doc_winnowing_matches, pdedup.sql_winnowing_matches()
    ),
    # per-doc top-k tf-idf keywords
    "doc_tfidf_keywords": QueryDef(
        q_doc_tfidf_keywords, ptext.sql_tfidf_keywords()
    ),
    # /api/v1/series with matchers + bounds
    "api_series": QueryDef(
        q_api_series,
        SQL_API_SERIES.format(lo=BOUND_START_MS, hi=BOUND_END_MS),
    ),
    # /api/v1/label/<name>/values (A22)
    "api_label_values": QueryDef(q_api_label_values, SQL_API_LABEL_VALUES),
    # sliding token-window chunking (training/RAG sequence prep)
    "doc_chunk_sliding": QueryDef(q_doc_chunk_sliding, ptext.sql_chunk_sliding()),
    "doc_cdc_chunks": QueryDef(q_doc_cdc_chunks, ptext.sql_cdc_chunks()),
    "doc_cdc_chunks_fast": QueryDef(
        q_doc_cdc_chunks_fast, ptext.sql_cdc_chunks_fast()
    ),
    # deterministic content-hashed train/val/test split
    "doc_split_assign": QueryDef(q_doc_split_assign, ptext.sql_split_assign()),
    # fixed-weight logistic quality classifier
    "doc_quality_logreg": QueryDef(q_doc_quality_logreg, ptext.sql_quality_logreg()),
    # novel-shingle fraction per doc (redundancy-growth curve)
    "doc_novelty": QueryDef(q_doc_novelty, ptext.sql_novelty()),
    # Matryoshka-prefix recall@k vs full-dim exact search
    "emb_matryoshka_recall": QueryDef(
        q_emb_matryoshka_recall, psim.sql_matryoshka_recall()
    ),
    # median/MAD robust daily-volume anomaly flags
    "ev_anomaly_mad": QueryDef(q_ev_anomaly_mad, pevents.sql_anomaly_mad()),
    # new-batch-vs-corpus incremental exact dedup
    "doc_incremental_dedup": QueryDef(
        q_doc_incremental_dedup,
        pdedup.sql_incremental_exact_dedup(INC_DEDUP_SPLIT_ID),
    ),
    # session-level type co-occurrence / Jaccard affinity
    "ev_cooccurrence": QueryDef(q_ev_cooccurrence, pevents.sql_cooccurrence()),
    # materialized temperature-mixture sample (deterministic hash pick)
    "doc_mixture_sample": QueryDef(q_doc_mixture_sample, ptext.sql_mixture_sample()),
    # within-session Markov transition matrix
    "ev_markov_transitions": QueryDef(
        q_ev_markov_transitions, pevents.sql_markov_transitions()
    ),
    # shot-boundary detection from consecutive-frame pHash distance
    "mm_scene_changes": QueryDef(q_mm_scene_changes, pmm.sql_scene_changes()),
    # MinHash estimator calibration (est vs exact Jaccard on candidates)
    "doc_minhash_accuracy": QueryDef(
        q_doc_minhash_accuracy, pdedup.sql_minhash_accuracy()
    ),
    # hyperplane-LSH ANN recall self-evaluation
    "emb_ann_lsh_recall": QueryDef(q_emb_ann_lsh_recall, psim.sql_ann_lsh_recall()),
    # /api/v1/query (instant) through the API layer
    "api_instant_query": QueryDef(q_api_instant_query, SQL_API_INSTANT_QUERY),
    # Prometheus 3.x spelling of holt_winters through the full parser;
    # the function drops __name__ (= event_type here), so the oracle is
    # the holt_winters recurrence restricted to the selected metric
    "promql_double_exp_smoothing": QueryDef(
        q_promql_double_exp_smoothing,
        f"SELECT user_id, step_ts, value FROM ({_holt_winters_sql(0.5, 0.3)}) _h"
        " WHERE event_type = 'purchase'",
    ),
    # Bloom-filter batch-vs-corpus shingle membership + exact self-eval
    "doc_bloom_membership": QueryDef(
        q_doc_bloom_membership, pdedup.sql_bloom_membership()
    ),
    # weighted sampling w/o replacement: priority sampling + threshold estimator
    "doc_priority_sample": QueryDef(
        q_doc_priority_sample, ptext.sql_priority_sample()
    ),
    # --- round 11: repetition/containment/centroid-drift/power-law/
    #     survival/entropy/fertility ---
    "doc_repetition_profile": QueryDef(
        q_doc_repetition_profile, ptext.sql_repetition_profile()
    ),
    "doc_tokenizer_fertility": QueryDef(
        q_doc_tokenizer_fertility, ptext.sql_tokenizer_fertility()
    ),
    "doc_minhash_containment": QueryDef(
        q_doc_minhash_containment, pdedup.sql_minhash_containment()
    ),
    "emb_centroid_drift": QueryDef(
        q_emb_centroid_drift, psim.sql_centroid_drift()
    ),
    "ev_powerlaw_fit": QueryDef(q_ev_powerlaw_fit, pevents.sql_powerlaw_fit()),
    "ev_survival_curve": QueryDef(
        q_ev_survival_curve, pevents.sql_survival_curve()
    ),
    "ev_transition_entropy": QueryDef(
        q_ev_transition_entropy, pevents.sql_transition_entropy()
    ),
    "doc_split_leakage_rate": QueryDef(
        q_doc_split_leakage_rate, pdedup.sql_split_leakage_check()
    ),
    "ev_ab_test": QueryDef(q_ev_ab_test, pevents.sql_ab_test()),
    "ev_cohort_ltv": QueryDef(q_ev_cohort_ltv, pevents.sql_cohort_ltv()),
    "doc_pagerank": QueryDef(q_doc_pagerank, pdedup.sql_doc_pagerank()),
    # CUSUM daily-volume change-point per event type
    "ev_cusum_changepoint": QueryDef(
        q_ev_cusum_changepoint, pevents.sql_cusum_changepoint()
    ),
    # Benford first-digit forensic audit of the value measure
    "ev_benford": QueryDef(q_ev_benford, pevents.sql_benford_deviation()),
    # daily-volume autocorrelation at calendar lags (seasonality detector)
    "ev_lag_autocorr": QueryDef(q_ev_lag_autocorr, pevents.sql_lag_autocorr()),
    # k-occurrence hubness profile of the ANN graph (embedding QC)
    "emb_hubness": QueryDef(q_emb_hubness, psim.sql_hubness()),
    # TwoNN intrinsic-dimension estimate (compression-safety signal)
    "emb_intrinsic_dim": QueryDef(q_emb_intrinsic_dim, psim.sql_intrinsic_dim()),
    # per-cutoff dedup sensitivity from one LSH pass
    "doc_dedup_threshold_sweep": QueryDef(
        q_doc_dedup_threshold_sweep, pdedup.sql_dedup_threshold_sweep()
    ),
    # per-source lexical richness constants (TTR/hapax/Simpson/Yule K)
    "doc_lexical_diversity": QueryDef(
        q_doc_lexical_diversity, ptext.sql_lexical_diversity()
    ),
    # IVF cell-count elbow curve (one corpus scan for all ks)
    "emb_kmeans_elbow": QueryDef(q_emb_kmeans_elbow, psim.sql_kmeans_elbow()),
    # Church-Gale term burstiness of the high-frequency vocabulary
    "doc_term_burstiness": QueryDef(
        q_doc_term_burstiness, ptext.sql_term_burstiness()
    ),
    # farthest-point diverse keyframe selection (VLM frame sampling)
    "mm_keyframe_select": QueryDef(
        q_mm_keyframe_select, pmm.sql_keyframe_select()
    ),
    # corpus anisotropy: exact mean pairwise cosine, no pair join
    "emb_isotropy": QueryDef(q_emb_isotropy, psim.sql_isotropy()),
    # per-label kNN label agreement over the bucketed ANN graph
    "emb_knn_purity": QueryDef(
        q_emb_knn_purity, psim.sql_knn_label_purity()
    ),
    # week-over-week heavy-hitter turnover
    "ev_topk_drift": QueryDef(q_ev_topk_drift, pevents.sql_topk_drift()),
    # value-distribution PSI drift gate per (type, week)
    "ev_value_psi": QueryDef(q_ev_value_psi, pevents.sql_value_psi()),
    # daily new/returning/resurrected active split
    "ev_user_lifecycle": QueryDef(
        q_ev_user_lifecycle, pevents.sql_user_lifecycle()
    ),
    # exact vs MinHash vs SimHash pair-set confusion summary
    "doc_detector_agreement": QueryDef(
        q_doc_detector_agreement, pdedup.sql_detector_agreement()
    ),
    # pairwise label-centroid separation matrix
    "emb_label_confusion": QueryDef(
        q_emb_label_confusion, psim.sql_label_confusion()
    ),
    # scalar-quantization bit-width tuning curve (MSE + recall@k)
    "emb_sq_bits_sweep": QueryDef(
        q_emb_sq_bits_sweep, psim.sql_sq_bits_sweep()
    ),
    # weekly event-type mix JS drift vs corpus
    "ev_type_mix_drift": QueryDef(
        q_ev_type_mix_drift, pevents.sql_type_mix_drift()
    ),
    # near-dup rate lift per quality verdict
    "doc_quality_dup_lift": QueryDef(
        q_doc_quality_dup_lift, pdedup.sql_quality_dup_lift()
    ),
    # reciprocal-rank-fusion hybrid retrieval (lexical + dense)
    "doc_hybrid_rrf": QueryDef(q_doc_hybrid_rrf, psim.sql_hybrid_rrf()),
    # ---------------------------------------------- round-12 additions
    # per-user contribution-cap sweep (retained share per cap)
    "ev_user_cap_sweep": QueryDef(
        q_ev_user_cap_sweep, pevents.sql_user_cap_sweep()
    ),
    # CUPED variance-reduced A/B readout
    "ev_ab_cuped": QueryDef(q_ev_ab_cuped, pevents.sql_ab_cuped()),
    # per-type daily-volume overdispersion index
    "ev_poisson_dispersion": QueryDef(
        q_ev_poisson_dispersion, pevents.sql_poisson_dispersion()
    ),
    # interpolated Kneser-Ney bigram scoring
    "doc_kn_logprob": QueryDef(
        q_doc_kn_logprob, ptext.sql_kn_smoothed_logprob()
    ),
    # per-source bigram conditional entropy rate
    "doc_ngram_entropy_rate": QueryDef(
        q_doc_ngram_entropy_rate, ptext.sql_ngram_entropy_rate()
    ),
    # bucketed-layout char-mass balance sweep
    "doc_shard_balance": QueryDef(
        q_doc_shard_balance, ptext.sql_shard_balance()
    ),
    # exact-dup cluster-size histogram + power-law MLE
    "doc_cluster_size_dist": QueryDef(
        q_doc_cluster_size_dist, pdedup.sql_cluster_size_dist()
    ),
    # kNN-graph mutual-edge rate
    "emb_knn_reciprocity": QueryDef(
        q_emb_knn_reciprocity, psim.sql_knn_reciprocity()
    ),
    # per-label diagonal-Mahalanobis OOD audit
    "emb_ood_mahalanobis": QueryDef(
        q_emb_ood_mahalanobis, psim.sql_ood_mahalanobis()
    ),
    # power-iteration top principal component
    "emb_top_pc": QueryDef(q_emb_top_pc, psim.sql_top_pc()),
    # ---------------------------------------------- round-13 additions
    # @-pinned subquery under a duplicate-sensitive range fn
    "promql_at_subquery": QueryDef(
        q_promql_at_subquery, SQL_PROMQL_AT_SUBQUERY
    ),
    # one-permutation-hashing MinHash near-dup pairs
    "doc_oph_minhash": QueryDef(
        q_doc_oph_minhash, pdedup.sql_oph_neardup_pairs()
    ),
    # participation-ratio effective rank (no eigendecomposition)
    "emb_effective_rank": QueryDef(
        q_emb_effective_rank, psim.sql_effective_rank()
    ),
    # experiment-sizing minimum detectable effect
    "ev_power_mde": QueryDef(q_ev_power_mde, pevents.sql_power_mde()),
    # difference-in-differences across the midpoint split
    "ev_diff_in_diff": QueryDef(
        q_ev_diff_in_diff, pevents.sql_diff_in_diff()
    ),
    # DCT perceptual hash + collision groups
    "mm_phash_dct": QueryDef(q_mm_phash_dct, pmm.sql_dct_phash()),
}


# The driver's correctness gate checks the FIRST 50 catalog entries in
# insertion order.
#
# STANDING RATCHET RULE (VERDICT r5 #7 / r6 #6 / r8 #7 — the stated
# mechanics): every sweep that touches a kernel must, IN THE SAME
# COMMIT, move the touched catalog rows to the front of this list; a
# row's driver attestation must never be older than its kernel.  Window
# priority order: (0) never-attested entries, (1) rows whose kernels
# changed after their newest green driver row, (2) backfill with the
# oldest remaining attestations.
#
# ROUND-13 QUEUE (recomputed at r12 close by tools/verify_window_queue.py
# against CORRECTNESS_r01-r12): the r12 window attested 50 rows (10 new
# r12 kernels + 4 changed + the FULL 36-row r5 cohort), so the oldest
# remaining attestations are the 39-row r6 cohort; the r13 window takes
# the 6 new r13 kernels + 5 changed kernels (the @-subquery pinned-window
# fix's nearest kernel promql_subquery; the duck_np_cte oracle gate's
# emb_hubness / emb_knn_purity / emb_knn_reciprocity; the inputFiles
# partition-probe's emb_top_pc) + the FULL 39-row r6 cohort = exactly 50,
# so after r13 no attestation predates r8 (whose 49-row cohort rolls to
# r14).
#
# Later changes keep the window at exactly 50: each kernel that changes
# enters group (1) below and displaces the last entry of the backfill
# (2).  api_series and api_label_values are both in the window, since
# /series and the label lookups now share one selection path.  Once the
# planner stated each rule once, the rows on its moved paths not yet in
# the window (promql_rate_sum .. promql_preagg_route) entered group (1).
#
_VERIFY_FIRST: list[str] = [
    # --- (0) NEW round-13 kernels (ratchet rule: new kernels enter the
    # window in the commit that adds them) ---
    "promql_at_subquery",
    "doc_oph_minhash",
    "emb_effective_rank",
    "ev_power_mde",
    "ev_diff_in_diff",
    "mm_phash_dct",
    # --- (1) kernels CHANGED this round: promql_subquery (the
    # @-on-subquery pinned-window fix touches every range-fn consumer;
    # this is the nearest catalog kernel to the changed code),
    # emb_hubness / emb_knn_purity / emb_knn_reciprocity (duck_np_cte
    # AUTO_PLANES_MAX oracle gate, ADVICE r12 low), emb_top_pc (the
    # .rdd -> inputFiles partition probe, r12 review #5 + the _cov_table
    # refactor shared with emb_effective_rank) ---
    "promql_subquery",
    "emb_hubness",
    "emb_knn_purity",
    "emb_knn_reciprocity",
    "emb_top_pc",
    # ts_set_or: `or` is one windowed pass over both sides instead of a
    # persisted left side plus an anti-join (it displaced ts_tenant_filter,
    # the last entry of the attested backfill below)
    "ts_set_or",
    # pins are owned by a pin_scope and persist nothing outside one: the
    # five pinned builders not yet in the window enter here (the other
    # four, emb_hubness, emb_knn_purity, emb_knn_reciprocity and
    # ev_rfm_segments, already are), plus api_series and
    # ts_mutable_labels, whose planner paths changed after their newest
    # attestation.  They displaced the last seven entries of the
    # attested backfill below (ts_label_values .. ts_stitch_preagg_raw).
    "ev_hll_setops",
    "mm_keyframe_select",
    "doc_detector_agreement",
    "emb_ivf_nprobe_sweep",
    "emb_sq_bits_sweep",
    "api_series",
    "ts_mutable_labels",
    # api_label_values: its kernel selects through PromAPI._matching,
    # the path every series lookup now shares, which changed after its
    # newest attestation.  It displaced ts_instant_selector, the last
    # entry of the attested backfill below.
    "api_label_values",
    # their paths moved: rate and absent_over_time through _over_range,
    # label promotion through the one AST walk, routing through
    # downsample.use_preagg; they displaced the last four backfill rows
    "promql_rate_sum",
    "promql_map_labels",
    "promql_absent_over_time",
    "promql_preagg_route",
    # --- (2) r6-era backfill: the ENTIRE remaining r6 cohort (VERDICT
    # r12 order #4 — after this window no catalog row's newest
    # attestation predates r8; the 49-row r8 cohort rolls to r14) ---
    "api_instant_query",
    "doc_cm_heavyhitters",
    "doc_curation_verdict",
    "doc_dsir_weights",
    "doc_exact_dedup",
    "doc_fingerprint",
    "doc_incremental_dedup",
    "doc_lang_id",
    "doc_minhash_accuracy",
    "doc_mixture_sample",
    "doc_ngram_jaccard",
    "doc_priority_sample",
    "doc_quality_logreg",
    "doc_split_assign",
    "doc_text_stats",
    "emb_ann_ivfpq",
    "emb_ann_ivfpq_refine",
    "emb_ann_lsh_recall",
    "emb_matryoshka_recall",
    "emb_mmr_rerank",
    "emb_range_search",
    "ev_attribution",
    "ev_cooccurrence",
    "ev_hll_distinct",
    "ev_rfm_segments",
    "promql_double_exp_smoothing",
]



CATALOG: dict[str, QueryDef] = {
    **{k: _ALL_QUERIES[k] for k in _VERIFY_FIRST},
    **{k: v for k, v in _ALL_QUERIES.items() if k not in _VERIFY_FIRST},
}
