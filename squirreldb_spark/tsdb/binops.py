"""PromQL binary operators with vector matching (SURVEY §2B, yml:100-137).

vector ⊗ vector arithmetic is an inner equi-join on (step_ts, match labels);
comparison operators filter (keeping the left value) or, with ``bool``,
return 0/1; the set operators are semi/anti joins:

  and    -> left semi join on match labels
  unless -> left anti join
  or     -> left ∪ right rows whose keys no left row has (one window)

These join shapes are exactly what Catalyst optimizes best — the match-label
join is a shuffled hash join (or broadcast when one side is a small
sub-expression), and AQE picks the strategy at runtime from observed sizes.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

def _ieee_div(l, r):
    """IEEE-754 division (PromQL): x/0 = ±Inf, 0/0 = NaN.

    Spark 4 runs in ANSI mode by default where /0 raises; the zero branch
    is taken via CASE so the raw division only evaluates when r != 0.
    """
    return F.when(
        r == 0,
        # the NaN guard must come first: Spark orders NaN above every
        # double, so `NaN > 0` is TRUE and would return +Inf where Go's
        # NaN/0 is NaN
        F.when(F.isnan(l), F.lit(float("nan")))
        .when(l > 0, F.lit(float("inf")))
        .when(l < 0, F.lit(float("-inf")))
        .otherwise(F.lit(float("nan"))),
    ).otherwise(l / r)


def _ieee_mod(l, r):
    """fmod with IEEE x%0 = NaN (ANSI-safe, as above)."""
    return F.when(r == 0, F.lit(float("nan"))).otherwise(l % r)


def _go_pow(l, r):
    """Go math.Pow's IEEE-754-2008 special cases that the JVM's
    Math.pow (and hence Spark's pow) gets differently: Pow(1, y) = 1
    for ANY y including NaN, and Pow(-1, ±Inf) = 1 — Java returns NaN
    for both ("if |base| is 1 and the exponent is infinite, the result
    is NaN"). Pow(x, ±0) = 1 agrees on both platforms but is kept
    explicit so the branch order is self-evident."""
    return (
        F.when(l == 1.0, F.lit(1.0))
        .when(r == 0.0, F.lit(1.0))
        .when((l == -1.0) & (~F.isnan(r)) & (F.abs(r) == float("inf")), F.lit(1.0))
        .otherwise(F.pow(l, r))
    )


_ARITH = {
    "+": lambda l, r: l + r,
    "-": lambda l, r: l - r,
    "*": lambda l, r: l * r,
    "/": _ieee_div,
    "%": _ieee_mod,                   # fmod on doubles, like PromQL
    "^": _go_pow,
    "atan2": lambda l, r: F.atan2(l, r),  # Prometheus 2.31+ binop
}

def _no_nan(l, r):
    return ~F.isnan(l) & ~F.isnan(r)


# IEEE comparison semantics (PromQL uses Go float comparisons): any
# ordered comparison with NaN is FALSE and `!=` with NaN is TRUE. Spark
# SQL instead totally orders NaN above all doubles (NaN == NaN, NaN > x),
# so every comparison needs an explicit NaN guard.
_CMP = {
    ">": lambda l, r: _no_nan(l, r) & (l > r),
    "<": lambda l, r: _no_nan(l, r) & (l < r),
    ">=": lambda l, r: _no_nan(l, r) & (l >= r),
    "<=": lambda l, r: _no_nan(l, r) & (l <= r),
    "==": lambda l, r: _no_nan(l, r) & (l == r),
    "!=": lambda l, r: ~_no_nan(l, r) | (l != r),
}


def arith(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    op: str,
    out: str = "value",
) -> DataFrame:
    """1:1 vector matching ``on(...)``: inner join + arithmetic."""
    on = list(on) + ["step_ts"]
    l = left.withColumnRenamed("value", "_lv")
    r = right.withColumnRenamed("value", "_rv").select(*on, "_rv")
    j = l.join(r, on=on, how="inner")
    return j.withColumn(out, _ARITH[op](F.col("_lv"), F.col("_rv"))).drop("_lv", "_rv")


def compare(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    op: str,
    bool_mode: bool = False,
    out: str = "value",
) -> DataFrame:
    """Comparison binop: filter semantics, or 0/1 with ``bool``."""
    on = list(on) + ["step_ts"]
    l = left.withColumnRenamed("value", "_lv")
    r = right.withColumnRenamed("value", "_rv").select(*on, "_rv")
    j = l.join(r, on=on, how="inner")
    cond = _CMP[op](F.col("_lv"), F.col("_rv"))
    if bool_mode:
        return j.withColumn(out, cond.cast("double")).drop("_lv", "_rv")
    return j.filter(cond).withColumn(out, F.col("_lv")).drop("_lv", "_rv")


def set_op(left: DataFrame, right: DataFrame, on: Sequence[str], op: str) -> DataFrame:
    """``and`` / ``unless`` / ``or`` with matching on the given labels.

    The sides may carry different label sets (e.g. ``sum by(a)(x) or
    sum by(b)(y)``); a label absent on one side compares as the empty
    string (Prometheus missing-label semantics), so both sides are
    aligned to the matching columns before the join.
    """
    l_orig = list(left.columns)
    for c in on:
        if c not in left.columns:
            left = left.withColumn(c, F.lit(""))
        if c not in right.columns:
            right = right.withColumn(c, F.lit(""))
    keys = list(on) + ["step_ts"]
    if op == "and":
        rk = right.select(*keys).distinct()
        return left.join(rk, on=keys, how="left_semi").select(*l_orig)
    if op == "unless":
        rk = right.select(*keys).distinct()
        return left.join(rk, on=keys, how="left_anti").select(*l_orig)
    if op == "or":
        # the union carries both sides' labels, missing ones as ""
        meta = ("step_ts", "value")
        for c in right.columns:
            if c not in left.columns and c not in meta:
                left = left.withColumn(c, F.lit(""))
        for c in left.columns:
            if c not in right.columns and c not in meta:
                right = right.withColumn(c, F.lit(""))
        # one pass over each side: tag the rows by side and keep a right
        # row only when no left row shares its match keys and step. A
        # null key matches nothing, as in an anti-join.
        tagged = left.withColumn("_side", F.lit(0)).unionByName(
            right.select(*left.columns).withColumn("_side", F.lit(1))
        ).withColumn(
            "_no_left", F.min("_side").over(Window.partitionBy(*keys)) == 1
        )
        null_key = functools.reduce(
            lambda a, b: a | b, [F.col(k).isNull() for k in keys]
        )
        return tagged.filter(
            (F.col("_side") == 0) | F.col("_no_left") | null_key
        ).drop("_side", "_no_left")
    raise ValueError(op)
