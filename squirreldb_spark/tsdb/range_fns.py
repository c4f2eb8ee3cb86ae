"""PromQL range-vector functions (`rate`, `increase`, `*_over_time`, ...).

Semantics ported from the PromQL spec / upstream engine behavior the
reference embeds (SURVEY §2B; reference wires the engine at
api/promql/engine.go:32-51). The hardest item is the **extrapolation** math
of ``rate``/``increase``/``delta``: Prometheus extrapolates the sampled
interval to the window boundaries unless the first/last sample is further
than 1.1x the average sample spacing from the edge, and clamps counter
extrapolation at the zero crossing.

Everything here is pure column arithmetic over a grouped range selection —
window ``lag`` for reset detection, then one ``groupBy(series, step)``
aggregate. No Python UDFs; the whole pipeline stays in whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from squirreldb_spark.tsdb.aggregation import upstream_avg as _upstream_avg
from squirreldb_spark.tsdb.selectors import range_select


def _windowed(points: DataFrame, keys: Sequence[str], step_ms: int, range_ms: int,
              grid: DataFrame | None = None) -> DataFrame:
    """Range selection carrying per-window lag deltas.

    Scale note: samples consecutive within a window are consecutive in the
    raw series (windows are contiguous time slices), so ``lag`` runs ONCE
    per series over the raw points — one narrow window shuffle — and the
    range explosion only copies the precomputed columns. The previous
    per-(series, step) window over the exploded rows sorted range/step
    times more data. The lag is nulled when the previous sample falls
    outside the window (the first in-window sample has no in-window
    predecessor).
    """
    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy("ts")
    pts = points.withColumn("prev_value", F.lag("value").over(w)).withColumn(
        "prev_ts", F.lag("ts").over(w)
    )
    rs = range_select(pts, keys, step_ms, range_ms, grid=grid)
    in_window = F.col("prev_ts") > F.col("step_ts") - F.lit(range_ms)
    return rs.withColumn(
        "prev_value", F.when(in_window, F.col("prev_value"))
    ).withColumn("prev_ts", F.when(in_window, F.col("prev_ts")))


def extrapolated(
    points: DataFrame,
    keys: Sequence[str],
    step_ms: int,
    range_ms: int,
    is_counter: bool,
    is_rate: bool,
    grid: DataFrame | None = None,
    out: str = "value",
) -> DataFrame:
    """`rate` (counter,rate), `increase` (counter,!rate), `delta` (gauge,!rate).

    Output: ``(*keys, step_ts, <out>)``; windows with <2 samples are dropped
    (Prometheus requires two samples to emit anything).
    """
    keys = list(keys)
    win = _windowed(points, keys, step_ms, range_ms, grid=grid)
    agg = win.groupBy(*keys, "step_ts").agg(
        F.count("value").alias("n"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min_by("value", "ts").alias("first_val"),
        F.max_by("value", "ts").alias("last_val"),
        F.coalesce(
            # upstream reset detection is a plain float `<` — NaN
            # operands never compare true. Spark orders NaN above every
            # number (value < NaN is TRUE), so a NaN predecessor must be
            # masked or it would count as a reset and poison the sum.
            F.sum(
                F.when(
                    (F.col("value") < F.col("prev_value"))
                    & ~F.isnan(F.col("prev_value")),
                    F.col("prev_value"),
                )
            ),
            F.lit(0.0),
        ).alias("reset_corr"),
        # >= 2 samples AND a nonzero time spread: duplicate-timestamp
        # writes (which upstream's A7 dedup collapses before reads) would
        # otherwise make the extrapolation factor divide by zero under
        # ANSI mode; a zero-spread window carries no rate information
    ).filter((F.col("n") >= 2) & (F.col("last_ts") > F.col("first_ts")))

    result_value = F.col("last_val") - F.col("first_val")
    if is_counter:
        result_value = result_value + F.col("reset_corr")

    sampled = (F.col("last_ts") - F.col("first_ts")) / F.lit(1000.0)
    avg_spacing = sampled / (F.col("n") - F.lit(1))
    dur_start = (F.col("first_ts") - (F.col("step_ts") - F.lit(range_ms))) / F.lit(1000.0)
    dur_end = (F.col("step_ts") - F.col("last_ts")) / F.lit(1000.0)
    threshold = avg_spacing * F.lit(1.1)

    dur_start = F.when(
        dur_start >= threshold, avg_spacing / F.lit(2.0)
    ).otherwise(dur_start)
    if is_counter:
        # counter cannot go below zero: clamp start extrapolation at the
        # implied zero crossing. Upstream (prometheus v0.307.x
        # extrapolatedRate) applies the threshold rewrite FIRST, then
        # takes min(durationToStart, durationToZero) — so a dur_zero
        # above the half-spacing fallback never widens the window back.
        dur_zero = F.when(
            (result_value > 0) & (F.col("first_val") >= 0),
            sampled * (F.col("first_val") / result_value),
        )
        dur_start = F.when(
            dur_zero.isNotNull() & (dur_zero < dur_start), dur_zero
        ).otherwise(dur_start)
    dur_end = F.when(dur_end >= threshold, avg_spacing / F.lit(2.0)).otherwise(dur_end)

    factor = (sampled + dur_start + dur_end) / sampled
    if is_rate:
        factor = factor / F.lit(range_ms / 1000.0)

    return agg.select(*keys, "step_ts", (result_value * factor).alias(out))


def instantaneous(
    points: DataFrame,
    keys: Sequence[str],
    step_ms: int,
    range_ms: int,
    is_rate: bool,
    grid: DataFrame | None = None,
    out: str = "value",
) -> DataFrame:
    """`irate` / `idelta`: last two samples of the window.

    irate applies counter-reset logic (drop to the raw value on reset) and
    divides by the sample gap in seconds; idelta is the raw difference.
    """
    keys = list(keys)
    win = _windowed(points, keys, step_ms, range_ms, grid=grid)
    # the last two samples of the window = the last sample + its (in-window)
    # global predecessor, so no per-(series, step) sort is needed at all
    agg = win.groupBy(*keys, "step_ts").agg(
        F.max("ts").alias("last_ts"),
        F.max_by("value", "ts").alias("last_val"),
        F.max_by("prev_value", "ts").alias("prev_val"),
        F.max_by("prev_ts", "ts").alias("prev_ts"),
        # strict predecessor: a duplicate-timestamp pair would divide
        # irate by a zero gap (ANSI raises); upstream dedup makes equal
        # timestamps impossible, so mirror that invariant here
    ).filter(
        F.col("prev_ts").isNotNull() & (F.col("prev_ts") < F.col("last_ts"))
    )
    if is_rate:
        # counter-reset test is upstream's plain float `<`: a NaN
        # predecessor never resets (last < NaN is TRUE under Spark's
        # NaN-is-largest ordering, so it needs the explicit mask); the
        # unmasked subtraction then propagates NaN exactly like Go
        diff = F.when(
            (F.col("last_val") < F.col("prev_val"))
            & ~F.isnan(F.col("prev_val")),
            F.col("last_val"),
        ).otherwise(F.col("last_val") - F.col("prev_val"))
        value = diff / ((F.col("last_ts") - F.col("prev_ts")) / F.lit(1000.0))
    else:
        value = F.col("last_val") - F.col("prev_val")
    return agg.select(*keys, "step_ts", value.alias(out))


def _nan_skipping_max(c):
    """Upstream max semantics (aggrOverTime/aggregation: ``acc = v if
    v > acc || IsNaN(acc)``): NaN is skipped unless EVERY value is NaN.
    Spark's ordering puts NaN above all numbers, so a plain max would
    return NaN whenever one sample is NaN; min needs no wrapper — the
    same Spark ordering makes min pick the smallest non-NaN (and all-NaN
    groups still yield NaN)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.coalesce(F.max(F.when(~F.isnan(c), c)), F.max(c))


def _ts_of_max(c):
    """``ts_of_max_over_time`` (experimental, prometheus v3.5+): the
    timestamp (seconds) of the window's maximum — ties resolve to the
    LATEST occurrence (upstream scans forward with ``>=``), NaN samples
    are skipped like ``max_over_time``; an all-NaN window falls back to
    the last sample's timestamp."""
    c = F.col(c) if isinstance(c, str) else c
    picked = F.max(
        F.when(~F.isnan(c), F.struct(c.alias("v"), F.col("ts").alias("ts")))
    )
    return F.coalesce(picked["ts"], F.max("ts")) / F.lit(1000.0)


def _ts_of_min(c):
    """``ts_of_min_over_time``: timestamp of the minimum, ties to the
    LATEST occurrence (lexicographic min over (value, -ts))."""
    c = F.col(c) if isinstance(c, str) else c
    picked = F.min(
        F.when(~F.isnan(c), F.struct(c.alias("v"), (-F.col("ts")).alias("nts")))
    )
    return F.coalesce(-picked["nts"], F.max("ts")) / F.lit(1000.0)


_OVER_TIME = {
    "avg": _upstream_avg,
    "min": lambda c: F.min(c),
    "max": _nan_skipping_max,
    "sum": lambda c: F.sum(c),
    "count": lambda c: F.count(c).cast("double"),
    "last": lambda c: F.max_by(c, "ts"),
    "stddev": lambda c: F.stddev_pop(c),
    "stdvar": lambda c: F.var_pop(c),
    "present": lambda c: F.lit(1.0),
    # experimental trio (prometheus v3.5+, --enable-feature
    # promql-experimental-functions — present in the pinned v3.7 engine)
    "ts_of_max": _ts_of_max,
    "ts_of_min": _ts_of_min,
    "ts_of_last": lambda c: F.max("ts") / F.lit(1000.0),
}


def over_time(
    points: DataFrame,
    keys: Sequence[str],
    step_ms: int,
    range_ms: int,
    fn: str,
    quantile: float | None = None,
    grid: DataFrame | None = None,
    out: str = "value",
) -> DataFrame:
    """`<fn>_over_time(m[range])` — grouped aggregate over the range vector.

    ``quantile_over_time`` collects each window's values
    (``collect_list``) and applies ``prom_quantile_expr``: upstream's
    exact linear-interpolation quantile, NaN sorting first. Spark's
    ``percentile`` sorts NaN last, and SURVEY §2B flags
    percentile_approx as unacceptable.
    """
    keys = list(keys)
    rs = range_select(points, keys, step_ms, range_ms, grid=grid)
    if fn == "quantile":
        assert quantile is not None
        from squirreldb_spark.tsdb.aggregation import prom_quantile_expr

        g = rs.groupBy(*keys, "step_ts").agg(
            F.collect_list("value").alias("_vals")
        )
        return g.select(
            *keys, "step_ts",
            F.expr(prom_quantile_expr("_vals", quantile)).alias(out),
        )
    expr = _OVER_TIME[fn]("value")
    return rs.groupBy(*keys, "step_ts").agg(expr.alias(out))


def mad_over_time(
    points: DataFrame,
    keys: Sequence[str],
    step_ms: int,
    range_ms: int,
    grid: DataFrame | None = None,
    out: str = "value",
) -> DataFrame:
    """``mad_over_time(m[range])`` (Prometheus experimental): median
    absolute deviation around the window median.

    ONE aggregation: the window's values collect once per (series,
    step); the median, the deviation array and the deviation median are
    then in-row array math (upstream's NaN-first quantile both times,
    aggregation.prom_quantile_expr) — no second shuffle and no
    median-table join-back at all.
    """
    from squirreldb_spark.tsdb.aggregation import prom_quantile_expr

    keys = list(keys)
    rs = range_select(points, keys, step_ms, range_ms, grid=grid)
    g = rs.groupBy(*keys, "step_ts").agg(
        F.collect_list("value").alias("_vals")
    )
    g = g.withColumn("_med", F.expr(prom_quantile_expr("_vals", 0.5)))
    dev = "transform(_vals, x -> abs(x - _med))"
    return g.select(
        *keys, "step_ts", F.expr(prom_quantile_expr(dev, 0.5)).alias(out)
    )


def resets_changes(
    points: DataFrame,
    keys: Sequence[str],
    step_ms: int,
    range_ms: int,
    fn: str,
    grid: DataFrame | None = None,
    out: str = "value",
) -> DataFrame:
    """`resets` (counter drops) / `changes` (value changes) per window."""
    keys = list(keys)
    win = _windowed(points, keys, step_ms, range_ms, grid=grid)
    if fn == "resets":
        # upstream funcResets uses a plain float < — any NaN operand
        # compares false, so NaN transitions never count. Spark orders
        # NaN ABOVE every number (x < NaN is true), so a NaN
        # predecessor must be masked explicitly.
        flag = F.when(
            (F.col("value") < F.col("prev_value"))
            & ~F.isnan(F.col("prev_value")),
            1,
        ).otherwise(0)
    else:
        flag = F.when(
            F.col("prev_value").isNotNull() & (F.col("value") != F.col("prev_value")), 1
        ).otherwise(0)
    return (
        win.groupBy(*keys, "step_ts")
        .agg(F.sum(flag).cast("double").alias(out), F.count("value").alias("n"))
        .filter(F.col("n") >= 1)
        .drop("n")
    )
