"""PromQL AST -> DataFrame planner.

The reference feeds selector hints into ``MetricRequest`` and lets the
embedded engine iterate series (SURVEY §3.2). Here each AST node lowers to
a declarative DataFrame transform over the shared evaluation grid, built
from the tsdb operator modules — so one PromQL query becomes ONE Catalyst
plan: selector filters push into the parquet scan, the grid broadcast is
shared by every selector, and no per-series iteration exists anywhere.

Model mapping: the ``__name__`` label is the ``name_label`` column
(``event_type`` for the events table); all label values compare as
strings, regex matchers are fully anchored (``^(?:re)$``), matching the
reference's matcher semantics (cassandra/index/index.go:3609-3628).

Upstream ``__name__`` semantics (promql/functions.go DropMetricName):
value-transforming functions (rate/increase/delta, irate/idelta, the
``*_over_time`` family except ``last_over_time``, resets/changes, the
scalar math functions, round/clamp*, deriv/predict_linear/holt_winters,
histogram_quantile, timestamp, the date functions) and arithmetic /
bool-mode binops drop the metric name from every result series; unary
negation does too. Two result series left with an identical label set
raise ``vector cannot contain metrics with the same labelset`` exactly
like Prometheus — implemented as an in-plan window count over the
result identity (the exchange it adds is usually reused by the
downstream aggregation, which groups on the same keys).
"""

from __future__ import annotations

import copy
import math
import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from squirreldb_spark.model import series_json
from squirreldb_spark.promql import ast as A
from squirreldb_spark.promql.parser import parse
from squirreldb_spark.tsdb import aggregation as agg_ops
from squirreldb_spark.tsdb import binops, range_fns, selectors
from squirreldb_spark.tsdb import downsample as ds_mod
from squirreldb_spark.tsdb import functions as fns
from squirreldb_spark.tsdb import mutable as mut
from squirreldb_spark.tsdb.grid import data_grid


@dataclass
class Vec:
    """An instant vector: DataFrame (labels..., step_ts, value)."""

    df: DataFrame
    labels: tuple[str, ...]


@dataclass
class Mat:
    """A range vector: the underlying (shifted, filtered) points + range.

    ``labels`` is the series identity: the engine's label columns for a
    matrix selector; a subquery's inner aggregation may have reduced it.

    ``pinned_grid`` is set for ``@``-pinned subqueries: a 1-row grid
    holding the effective pinned timestamp. The window content is then
    step-invariant (upstream wraps the whole ``f(sub @ T)`` call in a
    StepInvariantExpr and evaluates it once, promql/engine.go), so the
    consuming range function evaluates ONCE on this grid and the
    per-series result is broadcast across the outer grid — never by
    replicating the window's points per step, which would let replicas
    slide into neighboring steps' windows and double-count.
    """

    points: DataFrame
    range_ms: int
    labels: tuple[str, ...]
    pinned_grid: DataFrame | None = None


_RANGE_FNS = {
    "rate": dict(is_counter=True, is_rate=True),
    "increase": dict(is_counter=True, is_rate=False),
    "delta": dict(is_counter=False, is_rate=False),
}
_INSTANT_RANGE = {"irate": True, "idelta": False}
_OVER_TIME_FNS = {
    f"{fn}_over_time": fn
    for fn in ("avg", "min", "max", "sum", "count", "last", "stddev", "stdvar",
               "present", "ts_of_max", "ts_of_min", "ts_of_last")
}

def _go_log(base_fn):
    """Go math.Log* semantics for Spark's log family, which NULLs
    non-positive input: negative -> NaN, zero -> -Inf (a NaN input
    falls through both predicates to base_fn, which keeps it NaN)."""
    def wrapped(c):
        return (
            F.when(c < 0, F.lit(float("nan")))
            .when(c == 0, F.lit(float("-inf")))
            .otherwise(base_fn(c))
        )
    return wrapped


def _double_floor(c):
    """Go math.Floor on doubles: Spark's floor() returns BIGINT (NaN
    becomes 0, |x| >= 2^63 saturates at Long.MAX — the funcRound hazard,
    promql/functions.go keeps float64 throughout), so the double floor
    is spelled x - pmod(x, 1) with NaN/±Inf passed through untouched."""
    return F.when(F.isnan(c) | (F.abs(c) == float("inf")), c).otherwise(
        c - F.pmod(c, F.lit(1.0))
    )


def _double_ceil(c):
    """Go math.Ceil on doubles (= -floor(-x)); same BIGINT hazard."""
    return F.when(F.isnan(c) | (F.abs(c) == float("inf")), c).otherwise(
        c + F.pmod(-c, F.lit(1.0))
    )


_SCALAR_FNS: dict[str, object] = {
    "abs": F.abs,
    "ceil": _double_ceil,
    "floor": _double_floor,
    "exp": F.exp,
    "ln": _go_log(F.log),
    "log2": _go_log(F.log2),
    "log10": _go_log(F.log10),
    "sqrt": F.sqrt,
    "sgn": F.signum,
    # trigonometric family (Prometheus 2.31+)
    "sin": F.sin,
    "cos": F.cos,
    "tan": F.tan,
    "asin": F.asin,
    "acos": F.acos,
    "atan": F.atan,
    "sinh": F.sinh,
    "cosh": F.cosh,
    "tanh": F.tanh,
    "asinh": F.asinh,
    "acosh": F.acosh,
    "atanh": F.atanh,
    "deg": F.degrees,
    "rad": F.radians,
}


def time_window(node, lookback_ms: int) -> tuple[int, int, list[int]]:
    """Conservative sample window for an expression evaluated at step ``t``.

    Returns ``(behind_ms, ahead_ms, anchors)``: any raw sample the plan can
    touch has ``ts in (t - behind_ms, t + ahead_ms]`` — except selectors
    pinned by an absolute ``@`` modifier, whose anchor timestamps are
    returned so the caller can widen the scan to cover them.  Mirrors the
    reference's from/to pushdown into every table scan
    (cassandra/tsdb/read.go:380-396): Prometheus computes the same
    selector-relative start/end before touching storage.

    Range selectors do not apply lookback (their window is exactly
    ``(t - range, t]``); instant selectors add ``lookback_ms``; offsets
    shift the window (negative offsets look ahead); subqueries widen by
    their own range + offset.
    """
    if isinstance(node, A.VectorSelector):
        behind = lookback_ms + max(node.offset_ms, 0)
        ahead = max(-node.offset_ms, 0)
        anchors = [node.at_ms] if isinstance(node.at_ms, int) else []
        return behind, ahead, anchors
    if isinstance(node, A.MatrixSelector):
        s = node.inner
        behind = node.range_ms + max(s.offset_ms, 0)
        ahead = max(-s.offset_ms, 0)
        anchors = [s.at_ms] if isinstance(s.at_ms, int) else []
        return behind, ahead, anchors
    if isinstance(node, A.Subquery):
        b, a, an = time_window(node.inner, lookback_ms)
        if isinstance(node.at_ms, int):
            an = an + [node.at_ms]
        return (
            b + node.range_ms + max(node.offset_ms, 0),
            a + max(-node.offset_ms, 0),
            an,
        )
    behind = ahead = 0
    anchors: list[int] = []
    for c in A.children(node):
        cb, ca, can = time_window(c, lookback_ms)
        behind, ahead = max(behind, cb), max(ahead, ca)
        anchors.extend(can)
    return behind, ahead, anchors


def referenced_labels(node) -> set[str]:
    """Every label NAME an expression references: selector matchers (and
    the bare metric name as ``__name__``), by/without groupings,
    on/ignoring lists, group_left/right carried labels, and
    label_replace/label_join/sort_by_label source labels."""
    acc: set[str] = set()
    for n in A.walk(node):
        if isinstance(n, A.VectorSelector):
            if n.name:
                acc.add("__name__")
            acc.update(m.name for m in n.matchers)
        elif isinstance(n, A.Aggregation):
            acc.update(n.grouping)
        elif isinstance(n, A.BinaryOp):
            for lst in (n.on, n.ignoring, n.group_labels):
                acc.update(lst or ())
        elif isinstance(n, A.FunctionCall):
            if n.name == "histogram_quantile":
                acc.add("le")  # the bucket label is an implicit reference
            if n.name == "label_replace":
                sources = n.args[3:4]
            elif n.name == "label_join":
                sources = n.args[3:]
            elif n.name in ("sort_by_label", "sort_by_label_desc"):
                # the sort keys are label references too — without this a
                # dynamic-label (map) store never promotes them to columns
                sources = n.args[1:]
            else:
                sources = ()
            acc.update(a for a in sources if isinstance(a, str))
    return acc


def _check_label_name(name: str, kind: str) -> None:
    """An invalid label name is a query error (upstream ``invalid <kind>``)."""
    if not re.match(r"^[a-zA-Z_][a-zA-Z0-9_]*$", name):
        raise ValueError(f"invalid {kind} {name!r}")


def without_fp_name(grouping) -> str:
    """Column name for the fingerprint excluding a ``without`` set."""
    import hashlib as _hl

    digest = _hl.md5("|".join(sorted(grouping)).encode()).hexdigest()[:8]
    return f"__series_wo_{digest}__"


def aligned_grid(spark, lo_ms: int, hi_ms: int, step_ms: int) -> DataFrame:
    """Absolute-aligned steps (multiples of ``step_ms``) covering
    ``[lo_ms, hi_ms]`` — PromQL subquery step alignment."""
    first = -(-lo_ms // step_ms) * step_ms
    last = (hi_ms // step_ms) * step_ms
    return spark.range(first, last + 1, step_ms).select(
        F.col("id").alias("step_ts")
    )


def _time_bounded(points: DataFrame, lo: int, hi: int) -> DataFrame:
    """``points`` with ``ts in (lo, hi]``. On the production layout (A9)
    the raw store is partitionBy("date"); an equivalent predicate on the
    partition column turns the time bound into real partition pruning at
    the source."""
    out = points.filter((F.col("ts") > F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
    if "date" in points.columns:
        import datetime as _dt

        lo_d, hi_d = (
            _dt.datetime.fromtimestamp(t // 1000, tz=_dt.timezone.utc).date()
            for t in (lo, hi)
        )
        out = out.filter(
            F.col("date").between(lo_d.isoformat(), hi_d.isoformat())
        )
    return out


class PromQLEngine:
    """Evaluates PromQL range queries over a points DataFrame.

    ``points`` columns: ``(*label_cols, ts, value)``; ``name_label`` is the
    column playing the ``__name__`` role. The evaluation grid derives from
    the full points table (shared across every selector in the query).
    ``mutable_mapping`` is the mutable-label mapping as driver-side rows
    (:mod:`squirreldb_spark.tsdb.mutable`).
    """

    def __init__(
        self,
        points: DataFrame,
        label_cols: tuple[str, ...] = ("user_id", "event_type"),
        name_label: str = "event_type",
        step_ms: int = 86_400_000,
        lookback_ms: int = 432_000_000,
        start_ms: int | None = None,
        end_ms: int | None = None,
        mutable_mapping: list | None = None,
        tenant: str = "",
        downsample: DataFrame | None = None,
        preagg_resolution_ms: int = 300_000,
        preagg_until_ms: int | None = None,
        force_raw: bool = False,
        force_preagg: bool = False,
        labels_map_col: str | None = None,
    ):
        self.points = points
        self.label_cols = tuple(label_cols)
        self.name_label = name_label
        self.step_ms = step_ms
        self.lookback_ms = lookback_ms
        self.mutable_mapping = mutable_mapping
        self.tenant = tenant
        # A15-A17: optional 5-min pre-aggregate table
        # (*label_cols, bucket_ts, min, max, avg, count)
        self.downsample = downsample
        self.preagg_resolution_ms = preagg_resolution_ms
        self.preagg_until_ms = preagg_until_ms
        self.force_raw = force_raw
        self.force_preagg = force_preagg
        self.labels_map_col = labels_map_col
        #: the time-bounded fact relation the last :meth:`query_range`
        #: read — every sample the plan can touch; the API's sample and
        #: series budgets count it
        self.scanned: DataFrame | None = None
        #: fingerprint columns added by _with_dynamic_labels (empty for
        #: promoted-column stores)
        self._fp_cols: frozenset[str] = frozenset()
        self.start_ms = start_ms
        self.end_ms = end_ms
        if start_ms is not None and end_ms is not None:
            # explicit query_range bounds: steps = start, start+step, ..., end
            spark = points.sparkSession
            self.grid = spark.range(start_ms, end_ms + 1, step_ms).select(
                F.col("id").alias("step_ts")
            )
        else:
            self.grid = data_grid(points, step_ms)

    # ------------------------------------------------------------ public

    def query_range(self, promql: str) -> DataFrame:
        """Evaluate and return (labels..., step_ts, value)."""
        node = parse(promql)
        eng = self._with_dynamic_labels(node)._bounded(node)
        self.scanned = eng.points
        result = eng._eval(node)
        if isinstance(result, Vec):
            return result.df
        if isinstance(result, (int, float)):
            return self.grid.select(
                "step_ts", F.lit(float(result)).alias("value")
            )
        raise ValueError("query did not evaluate to an instant vector")

    def select_raw(self, sel: A.VectorSelector, lo_ms: int,
                   hi_ms: int) -> DataFrame:
        """The raw points ``sel`` selects with ``ts`` in the inclusive
        ``[lo_ms, hi_ms]`` (after ``sel``'s offset), no lookback: what
        /series and remote read return. Labels are promoted
        as for a query (a missing label compares as ""), mutable-label
        matchers are rewritten, and the bound prunes like
        :meth:`_bounded`'s."""
        if not isinstance(sel, A.VectorSelector):
            raise ValueError("expected a series selector")
        eng = self._with_dynamic_labels(sel)
        # integer-ms timestamps: [lo, hi] is (lo - 1, hi]
        pts = _time_bounded(
            eng.points, lo_ms - 1 - sel.offset_ms, hi_ms - sel.offset_ms
        )
        return eng._select_points(sel, pts)

    def _with_dynamic_labels(self, node) -> "PromQLEngine":
        """Dynamic label model (reference index.go:1903-2136 creates label
        names at write time; FIXTURES.md declares
        ``labels MAP<STRING,STRING>``).

        With ``labels_map_col`` set, the engine supports arbitrary
        per-series label sets discovered at ingest: every label name the
        query references (matchers, by/without, on/ignoring, group_*,
        label_replace/join sources) is PROMOTED from the map into a
        string column (missing key -> "" per Prometheus missing-label
        semantics), and a canonical sorted-JSON fingerprint column
        ``__series__`` is appended as the series-identity key so
        differently-labelled series never merge even when the query only
        references a subset of their labels. Promotion is a narrow
        projection on the scan — no shuffle, no schema migration when
        new label names appear in the data.
        """
        if self.labels_map_col is None:
            return self
        m = self.labels_map_col
        # apply the same __name__ -> name_label translation the eval side
        # uses (see _eval_aggregation), or the without() fingerprint
        # column computed here and the one looked up there get different
        # digests and without(__name__) silently fails to merge series
        def named(labels):
            return (self.name_label if l == "__name__" else l for l in labels)

        refs = set(named(referenced_labels(node)))
        if self.mutable_mapping is not None:
            # mutable (virtual) labels are resolved by the matcher
            # rewrite, never stored: promoting one would shadow it with
            # an empty column and defeat the rewrite
            refs -= {
                r.mutable_name
                for r in self.mutable_mapping
                if r.tenant == self.tenant
            }
        nodes = list(A.walk(node))
        needs_nole = any(
            isinstance(n, A.FunctionCall) and n.name == "histogram_quantile"
            for n in nodes
        )
        # each without(...) grouping set needs its own label-set fingerprint
        wo_sets = {
            frozenset(named(n.grouping))
            for n in nodes
            if isinstance(n, A.Aggregation) and n.without
        }
        def fp_expr(excluded: list[str]):
            """Canonical sorted-JSON fingerprint of the map minus keys."""
            if excluded:
                lits = ", ".join(f"'{k}'" for k in sorted(excluded))
                inner = f"map_filter({m}, (k, v) -> k NOT IN ({lits}))"
            else:
                inner = m
            return series_json(F.expr(inner))

        def promote(df: DataFrame) -> tuple[DataFrame, list[str]]:
            names: list[str] = []
            for name in sorted(refs):
                if name not in df.columns and name not in self.label_cols:
                    df = df.withColumn(
                        name,
                        F.coalesce(
                            F.element_at(F.col(m), F.lit(name)), F.lit("")
                        ),
                    )
                    names.append(name)
            if "__series__" not in df.columns:
                df = df.withColumn("__series__", fp_expr([]))
            if "__series_noname__" not in df.columns:
                # vector-matching identity: upstream matches on the full
                # label set EXCEPT __name__; __series__ embeds the name,
                # so binops/set-ops match on this fingerprint instead
                df = df.withColumn(
                    "__series_noname__", fp_expr([self.name_label])
                )
            if needs_nole and "__series_nole__" not in df.columns:
                # histogram grouping identity: the label set MINUS 'le'
                # (__series__ itself includes le, which would put every
                # bucket in its own group)
                df = df.withColumn("__series_nole__", fp_expr(["le"]))
            for w in wo_sets:
                col = without_fp_name(w)
                if col not in df.columns:
                    # without(...) identity: the label set minus the
                    # without-ed labels minus __name__
                    df = df.withColumn(
                        col, fp_expr(sorted(w) + [self.name_label])
                    )
            return df, names

        eng = copy.copy(self)
        eng.points, promoted = promote(self.points)
        if self.downsample is not None and m in self.downsample.columns:
            # the pre-agg table (downsample_map) carries the same map:
            # promote identically so A15-A17 routing works over it
            eng.downsample, _ = promote(self.downsample)
        fp_cols = ["__series__", "__series_noname__"]
        if needs_nole:
            fp_cols.append("__series_nole__")
        fp_cols.extend(without_fp_name(w) for w in wo_sets)
        eng.label_cols = tuple(
            dict.fromkeys([*self.label_cols, *promoted, *fp_cols])
        )
        eng._fp_cols = frozenset(fp_cols)
        return eng

    def _bounded(self, node) -> "PromQLEngine":
        """Time-bound pushdown: with explicit [start, end] bounds, filter
        the fact (and pre-agg) scan to the window the query can touch
        BEFORE planning, so the ``ts`` predicate reaches the parquet
        reader as a pushed filter / partition prune — the reference
        pushes from/to into every scan (cassandra/tsdb/read.go:380-396).
        A bounded 1-hour query must not scan years of history."""
        if self.start_ms is None or self.end_ms is None:
            return self
        behind, ahead, anchors = time_window(node, self.lookback_ms)
        lo = min([self.start_ms, *anchors]) - behind
        hi = max([self.end_ms, *anchors]) + ahead
        eng = copy.copy(self)
        eng.points = _time_bounded(self.points, lo, hi)
        if self.downsample is not None:
            # pre-agg buckets are labelled by bucket start; a bucket
            # starting up to one resolution before ``lo`` can still hold
            # samples inside the window
            eng.downsample = self.downsample.filter(
                (F.col("bucket_ts") > F.lit(lo - self.preagg_resolution_ms))
                & (F.col("bucket_ts") <= F.lit(hi))
            )
        return eng

    # ---------------------------------------------------------- selector

    def _select_points(self, sel: A.VectorSelector, points: DataFrame | None = None) -> DataFrame:
        pts = self.points if points is None else points
        if sel.offset_ms:
            # offset shifts the evaluation window into the past: a sample at
            # t appears at t + offset
            pts = pts.withColumn("ts", F.col("ts") + F.lit(sel.offset_ms))
        conds = []
        if sel.name:
            conds.append(F.col(self.name_label).cast("string") == sel.name)
        for m in sel.matchers:
            name = self.name_label if m.name == "__name__" else m.name
            if name not in self.label_cols:
                # A31: a matcher on a mutable (virtual) label rewrites to a
                # concrete-label isin() before the scan
                pts = mut.rewrite_filter(
                    pts, self.mutable_mapping or [], self.tenant, m,
                    self.labels_map_col,
                )
                continue
            col = F.col(name).cast("string")
            if m.op == "=":
                conds.append(col == m.value)
            elif m.op == "!=":
                conds.append(col != m.value)
            elif m.op == "=~":
                conds.append(col.rlike(f"^(?:{m.value})$"))
            else:
                conds.append(~col.rlike(f"^(?:{m.value})$"))
        for c in conds:
            pts = pts.filter(c)
        return pts

    # ----------------------------------------------------- pre-agg routing

    def _use_preagg(self) -> bool:
        """A15 (:func:`downsample.use_preagg`) when a pre-agg table is set."""
        return self.downsample is not None and ds_mod.use_preagg(
            self.step_ms, self.force_raw, self.force_preagg,
            self.preagg_resolution_ms,
        )

    def _routed_mat(self, node_arg, fn_name: str):
        """Lower a plain matrix selector against the routed downsample
        column instead of the raw table (A16: counter functions read max
        for reset safety). With ``preagg_until_ms`` set, the not-yet-
        aggregated raw tail is re-bucketed with the same expression and
        stitched on (A17) so range functions see a uniform cadence.
        Matchers and offset apply identically — the routed relation
        carries the same label columns."""
        if not (isinstance(node_arg, A.MatrixSelector) and self._use_preagg()):
            return None
        if self.preagg_until_ms is not None:
            pts = ds_mod.stitch(
                self.downsample, self.points, list(self.label_cols),
                self.preagg_until_ms, fn_name, self.preagg_resolution_ms,
            )
        else:
            pts = ds_mod.as_points(self.downsample, list(self.label_cols), fn_name)
        return Mat(self._select_points(node_arg.inner, points=pts),
                   node_arg.range_ms, labels=self.label_cols)

    # ---------------------------------------------------------- evaluate

    def _eval(self, node):
        if isinstance(node, A.NumberLiteral):
            return node.value
        if isinstance(node, A.Unary):
            inner = self._eval(node.expr)
            if isinstance(inner, float):
                return -inner if node.op == "-" else inner
            if node.op == "-":
                # unary negation is arithmetic: drops the metric name
                return self._drop_name(
                    Vec(inner.df.withColumn("value", -F.col("value")),
                        inner.labels)
                )
            return inner
        if isinstance(node, A.VectorSelector):
            pts = self._select_points(node)
            if node.at_ms is not None:
                # @ modifier: evaluate once at the fixed time, replicate the
                # constant result across the whole grid
                fixed = self._at_frame(node.at_ms, "step_ts")
                one = selectors.instant_select(
                    pts, self.label_cols, self.step_ms, self.lookback_ms, grid=fixed
                ).drop("step_ts")
                df = one.crossJoin(F.broadcast(self.grid))
                return Vec(df.select(*self.label_cols, "step_ts", "value"),
                           self.label_cols)
            df = selectors.instant_select(
                pts, self.label_cols, self.step_ms, self.lookback_ms, grid=self.grid
            )
            return Vec(df, self.label_cols)
        if isinstance(node, A.MatrixSelector):
            return Mat(self._select_points(node.inner), node.range_ms,
                       labels=self.label_cols)
        if isinstance(node, A.Subquery):
            # evaluate the inner expression on its own finer grid, then feed
            # the results back in as points of a range vector
            inner_engine = PromQLEngine(
                self.points, self.label_cols, self.name_label,
                step_ms=node.step_ms or self.step_ms,
                lookback_ms=self.lookback_ms,
                mutable_mapping=self.mutable_mapping, tenant=self.tenant,
            )
            if self.start_ms is not None and self.end_ms is not None:
                # bounded outer query: the inner steps the outer range
                # selector can consume are exactly
                # (start - range - offset, end - offset]; evaluate on an
                # absolute-aligned grid over that window instead of the
                # data extent (matches PromQL subquery step alignment and
                # keeps the pushdown effective for the nested scan)
                inner_engine.grid = aligned_grid(
                    self.points.sparkSession,
                    self.start_ms - node.range_ms - node.offset_ms,
                    self.end_ms - node.offset_ms,
                    node.step_ms or self.step_ms,
                )
            if node.at_ms is not None:
                # @ on a subquery (upstream: the whole inner window is
                # pinned at the fixed time T, so the outer range vector is
                # the same window at every outer step).  All in-plan, the
                # VectorSelector-@ convention: T is a 1-row DataFrame; the
                # inner grid is the absolutely-aligned steps of
                # (T - offset - range, T - offset].
                step = node.step_ms or self.step_ms
                tdf = self._at_frame(node.at_ms, "_t")
                teff = (F.col("_t") - F.lit(node.offset_ms)).alias("_te")
                k = node.range_ms // step + 2
                offs = self.grid.sparkSession.range(k).select(
                    (F.col("id") * step).alias("_k")
                )
                inner_engine.grid = (
                    tdf.select(teff)
                    .crossJoin(F.broadcast(offs))
                    .select(
                        "_te",
                        (
                            F.floor(F.col("_te") / step) * step - F.col("_k")
                        ).cast("long").alias("step_ts"),
                    )
                    .filter(
                        (F.col("step_ts") > F.col("_te") - node.range_ms)
                        & (F.col("step_ts") <= F.col("_te"))
                    )
                    .select("step_ts")
                )
            inner = inner_engine._eval(node.inner)
            assert isinstance(inner, Vec), "subquery inner must be an instant vector"
            pts = inner.df.withColumnRenamed("step_ts", "ts")
            if node.at_ms is not None:
                # the pinned window is step-invariant: keep the single
                # window's points at their real timestamps and hand the
                # consumer the 1-row pinned grid. The consuming range
                # function evaluates once at T_eff and the result is
                # broadcast across the outer grid (_over_range) —
                # replicating points per outer step is WRONG for
                # duplicate-sensitive functions (count/sum/avg/rate):
                # replicas made for step s also land in the sliding
                # windows of neighboring steps, inflating their counts.
                pinned = tdf.select(teff).select(
                    F.col("_te").cast("long").alias("step_ts")
                )
                return Mat(pts, node.range_ms, labels=inner.labels,
                           pinned_grid=pinned)
            if node.offset_ms:
                pts = pts.withColumn("ts", F.col("ts") + F.lit(node.offset_ms))
            return Mat(pts, node.range_ms, labels=inner.labels)
        if isinstance(node, A.FunctionCall):
            return self._eval_function(node)
        if isinstance(node, A.Aggregation):
            return self._eval_aggregation(node)
        if isinstance(node, A.BinaryOp):
            return self._eval_binop(node)
        raise ValueError(f"cannot evaluate {node!r}")

    _COLLIDE_MSG = "vector cannot contain metrics with the same labelset"

    def _dup_check(self, df: DataFrame, labels) -> DataFrame:
        """Upstream duplicate-series guard: a result vector holding two
        samples with the same label set at the same step is a query
        error (promql/engine.go "vector cannot contain metrics with the
        same labelset"). Declarative: a window count over the result
        identity gates the value through raise_error, so the error
        surfaces at execution exactly when upstream's would. The window
        exchange partitions on (labels, step_ts) — the same keys any
        downstream per-step aggregation shuffles on, so Catalyst reuses
        it in the common sum(rate(...)) shape."""
        from pyspark.sql import Window

        w = Window.partitionBy(*labels, "step_ts")
        n = F.count(F.lit(1)).over(w)
        return df.withColumn(
            "value",
            F.when(n > 1, F.raise_error(F.lit(self._COLLIDE_MSG)))
            .otherwise(F.col("value")),
        )

    def _drop_name(self, vec: Vec, force_check: bool = False) -> Vec:
        """Remove ``__name__`` from a result vector per upstream
        DropMetricName, then apply the duplicate-series guard.

        Promoted-column stores drop the name column; dynamic-label
        stores swap the series identity to the name-less fingerprint
        (``__series_noname__`` becomes ``__series__``). ``force_check``
        runs the duplicate guard even when there was no name to drop —
        binop results use it because a coarse ``on()`` set can fan out
        without touching the name."""
        labels = list(vec.labels)
        df = vec.df
        dropped = False
        if self.name_label in labels:
            labels.remove(self.name_label)
            df = df.drop(self.name_label)
            dropped = True
        if "__series__" in labels and "__series_noname__" in labels:
            labels.remove("__series__")
            df = df.drop("__series__").withColumnRenamed(
                "__series_noname__", "__series__"
            )
            labels = [
                "__series__" if l == "__series_noname__" else l for l in labels
            ]
            dropped = True
        if not dropped and not force_check:
            return vec
        df = self._dup_check(df, labels)
        if dropped:
            df = df.select(*labels, "step_ts", "value")
        return Vec(df, tuple(labels))

    def _at_frame(self, at_ms, col: str) -> DataFrame:
        """The ``@`` time as a 1-row frame ``(col)``: ``@ start()`` and
        ``@ end()`` resolve to the grid's boundary in-plan (no collect),
        an absolute ``@`` is the literal ms."""
        if at_ms == "start":
            return self.grid.agg(F.min("step_ts").alias(col))
        if at_ms == "end":
            return self.grid.agg(F.max("step_ts").alias(col))
        return self.grid.sparkSession.range(1).select(F.lit(at_ms).alias(col))

    def _over_range(self, mat: Mat, kernel, *args, **kwargs) -> DataFrame:
        """Apply a range kernel,
        ``kernel(points, labels, step_ms, range_ms, *args, grid=...)``, to
        ``mat``. An ``@``-pinned subquery's window is step-invariant: the
        kernel evaluates once on its 1-row pinned grid and the result is
        broadcast across the outer grid. Any other range vector evaluates
        on the query grid."""
        pinned = mat.pinned_grid
        df = kernel(mat.points, mat.labels, self.step_ms, mat.range_ms, *args,
                    grid=self.grid if pinned is None else pinned, **kwargs)
        if pinned is None:
            return df
        return df.drop("step_ts").crossJoin(F.broadcast(self.grid))

    def _eval_function(self, node: A.FunctionCall):
        name = node.name
        if name in _RANGE_FNS:
            mat = self._routed_mat(node.args[0], name) or self._eval(node.args[0])
            assert isinstance(mat, Mat), f"{name} needs a range vector"
            df = self._over_range(mat, range_fns.extrapolated, **_RANGE_FNS[name])
            return self._drop_name(Vec(df, mat.labels))
        if name in _INSTANT_RANGE:
            mat = self._routed_mat(node.args[0], name) or self._eval(node.args[0])
            df = self._over_range(
                mat, range_fns.instantaneous, is_rate=_INSTANT_RANGE[name]
            )
            return self._drop_name(Vec(df, mat.labels))
        if name in _OVER_TIME_FNS:
            mat = self._routed_mat(node.args[0], name) or self._eval(node.args[0])
            df = self._over_range(mat, range_fns.over_time, _OVER_TIME_FNS[name])
            vec = Vec(df, mat.labels)
            # last_over_time is the one *_over_time that KEEPS the metric
            # name (upstream functions.go funcLastOverTime)
            return vec if name == "last_over_time" else self._drop_name(vec)
        if name == "quantile_over_time":
            q = self._eval(node.args[0])
            mat = self._eval(node.args[1])
            df = self._over_range(mat, range_fns.over_time, "quantile", quantile=q)
            return self._drop_name(Vec(df, mat.labels))
        if name == "mad_over_time":
            mat = self._eval(node.args[0])
            df = self._over_range(mat, range_fns.mad_over_time)
            return self._drop_name(Vec(df, mat.labels))
        if name in ("resets", "changes"):
            mat = self._eval(node.args[0])
            df = self._over_range(mat, range_fns.resets_changes, name)
            return self._drop_name(Vec(df, mat.labels))
        if name in _SCALAR_FNS:
            vec = self._eval(node.args[0])
            if isinstance(vec, (int, float)):
                py = {
                    "abs": abs, "ceil": math.ceil, "floor": math.floor,
                    "exp": math.exp, "ln": math.log, "log2": math.log2,
                    "log10": math.log10, "sqrt": math.sqrt,
                    "sgn": lambda x: float((x > 0) - (x < 0)),
                    "sin": math.sin, "cos": math.cos, "tan": math.tan,
                    "asin": math.asin, "acos": math.acos, "atan": math.atan,
                    "sinh": math.sinh, "cosh": math.cosh, "tanh": math.tanh,
                    "asinh": math.asinh, "acosh": math.acosh,
                    "atanh": math.atanh, "deg": math.degrees,
                    "rad": math.radians,
                }[name]
                if name in ("ln", "log2", "log10") and vec == 0:
                    return float("-inf")  # Go math.Log(0); Python raises
                try:
                    return float(py(vec))
                except ValueError:
                    return float("nan")  # Go: NaN outside the domain
                except OverflowError:
                    return float("inf")  # Go math.Exp overflow -> +Inf
            fn = _SCALAR_FNS[name]
            return self._drop_name(
                Vec(vec.df.withColumn("value", fn(F.col("value"))), vec.labels)
            )
        if name == "round":
            vec = self._eval(node.args[0])
            nearest = self._eval(node.args[1]) if len(node.args) > 1 else 1.0
            # upstream funcRound: floor(v * (1/nearest) + 0.5) / (1/nearest)
            # — halves round toward +Inf (round(-2.5) = -2). Spark's
            # F.round is HALF_UP away from zero (-2.5 -> -3), and its
            # floor() returns BIGINT (NaN -> 0, huge values overflow),
            # so the double floor is spelled as x - pmod(x, 1) with
            # NaN/Inf passed through untouched.
            inv = 1.0 / float(nearest)
            v = F.col("value")
            shifted = v * F.lit(inv) + F.lit(0.5)
            value = F.when(
                F.isnan(v) | (F.abs(v) == float("inf")), v
            ).otherwise((shifted - F.pmod(shifted, F.lit(1.0))) / F.lit(inv))
            return self._drop_name(
                Vec(vec.df.withColumn("value", value), vec.labels)
            )
        if name in ("clamp", "clamp_min", "clamp_max"):
            vec = self._eval(node.args[0])
            v = F.col("value")
            if name in ("clamp", "clamp_min"):
                v = F.greatest(v, F.lit(float(self._eval(node.args[1]))))
            if name == "clamp":
                v = F.least(v, F.lit(float(self._eval(node.args[2]))))
            if name == "clamp_max":
                v = F.least(v, F.lit(float(self._eval(node.args[1]))))
            # Go Max/Min propagate NaN, Spark's least() picks the
            # smallest non-NaN (NaN orders largest) — a NaN sample must
            # stay NaN through the clamp
            v = F.when(F.isnan(F.col("value")), F.col("value")).otherwise(v)
            if name == "clamp":
                lo = float(self._eval(node.args[1]))
                hi = float(self._eval(node.args[2]))
                if lo != lo or hi != hi:  # NaN bound -> all values NaN
                    v = F.lit(float("nan"))
                elif lo > hi:  # upstream: empty vector, not NaN
                    return self._drop_name(
                        Vec(vec.df.filter(F.lit(False)), vec.labels)
                    )
            return self._drop_name(
                Vec(vec.df.withColumn("value", v), vec.labels)
            )
        if name == "scalar":
            vec = self._eval(node.args[0])
            if isinstance(vec, (int, float)):
                return float(vec)
            # PromQL scalar(): the value when the vector has exactly one
            # series at that step, NaN otherwise (incl. empty steps) —
            # guarantees one row per step so downstream step-joins never
            # fan out
            agg = vec.df.groupBy("step_ts").agg(
                F.count(F.lit(1)).alias("_n"), F.min("value").alias("_v")
            )
            df = self.grid.join(agg, "step_ts", "left").select(
                "step_ts",
                F.when(F.col("_n") == 1, F.col("_v"))
                .otherwise(F.lit(float("nan")))
                .alias("value"),
            )
            return Vec(df, ())
        if name == "deriv":
            mat = self._eval(node.args[0])
            df = self._over_range(mat, fns.linreg)
            return self._drop_name(Vec(df, mat.labels))
        if name == "predict_linear":
            mat = self._eval(node.args[0])
            t = float(self._eval(node.args[1]))
            df = self._over_range(mat, fns.linreg, predict_s=t)
            return self._drop_name(Vec(df, mat.labels))
        if name in ("holt_winters", "double_exponential_smoothing"):
            # Prometheus 3.x renamed holt_winters; both spellings accepted
            mat = self._eval(node.args[0])
            sf = float(self._eval(node.args[1]))
            tf = float(self._eval(node.args[2]))
            # upstream funcDoubleExponentialSmoothing rejects factors
            # outside the open interval (invalid params are a query
            # error, not NaN results)
            if not 0 < sf < 1:
                raise ValueError(
                    f"invalid smoothing factor. Expected: 0 < sf < 1, got: {sf}"
                )
            if not 0 < tf < 1:
                raise ValueError(
                    f"invalid trend factor. Expected: 0 < tf < 1, got: {tf}"
                )
            df = self._over_range(mat, fns.holt_winters, sf=sf, tf=tf)
            return self._drop_name(Vec(df, mat.labels))
        if name == "pi":
            return math.pi
        if name == "time":
            # per-step scalar: evaluation time in epoch seconds
            return Vec(
                self.grid.select(
                    "step_ts", (F.col("step_ts") / F.lit(1000.0)).alias("value")
                ),
                (),
            )
        if name == "absent":
            vec = self._eval(node.args[0])
            lbls = self._absent_const_labels(node.args[0])
            return Vec(
                fns.absent(vec.df, self.grid, vec.labels, const_labels=lbls),
                tuple(lbls),
            )
        if name == "absent_over_time":
            mat = self._eval(node.args[0])
            present = self._over_range(mat, range_fns.over_time, "present")
            lbls = self._absent_const_labels(node.args[0])
            return Vec(
                fns.absent(present, self.grid, mat.labels, const_labels=lbls),
                tuple(lbls),
            )
        if name == "histogram_quantile":
            q = float(self._eval(node.args[0]))
            vec = self._eval(node.args[1])
            if "le" not in vec.labels:
                # series without an "le" label are ignored (upstream drops
                # them) -> empty vector, not an error
                return Vec(vec.df.filter(F.lit(False)), vec.labels)
            groups = [l for l in vec.labels if l != "le"]
            if "__series_nole__" in groups:
                # dynamic-label store: group on the le-less fingerprint
                # only — every other fingerprint embeds le and would put
                # each bucket in its own group
                groups = [
                    l for l in groups
                    if l not in self._fp_cols or l == "__series_nole__"
                ]
            buckets = vec.df.withColumn(
                "le",
                F.when(F.col("le").isin("+Inf", "Inf", "inf"), F.lit(float("inf")))
                .otherwise(F.col("le").cast("double")),
            )
            df = fns.histogram_quantile(buckets, q, groups)
            if "__series_nole__" in groups:
                df = df.withColumnRenamed("__series_nole__", "__series__")
                groups = [
                    "__series__" if l == "__series_nole__" else l for l in groups
                ]
            return self._drop_name(Vec(df, tuple(groups)))
        if name in ("minute", "hour", "day_of_week", "day_of_month", "day_of_year",
                    "month", "year", "days_in_month"):
            if not node.args:
                # zero-arg form defaults to vector(time())
                vec = self._eval(A.FunctionCall("time"))
            else:
                vec = self._eval(node.args[0])
            # PromQL date fns read the sample VALUE as epoch seconds
            ts_ms = (F.col("value") * 1000).cast("long")
            parted = fns.date_parts(
                vec.df.withColumn("_t", ts_ms), ts_col="_t"
            )
            return self._drop_name(Vec(
                parted.withColumn("value", F.col(name)).select(*vec.df.columns),
                vec.labels,
            ))
        if name == "label_replace":
            vec = self._eval(node.args[0])
            dst, repl, src, regex = node.args[1:5]
            re.compile(regex)  # invalid regex is a query error (yml:188-210)
            _check_label_name(dst, "destination label name")
            df = vec.df
            if src not in df.columns:
                # a missing source label matches as the empty string
                df = df.withColumn(src, F.lit(""))
            df = fns.label_replace(df, dst, repl, src, regex)
            if src not in vec.labels and src != dst:
                df = df.drop(src)
            labels = vec.labels if dst in vec.labels else vec.labels + (dst,)
            return Vec(df, labels)
        if name == "label_join":
            vec = self._eval(node.args[0])
            dst, sep = node.args[1], node.args[2]
            _check_label_name(dst, "destination label name")
            sources = list(node.args[3:])
            df = vec.df
            for s in sources:
                if s not in df.columns:
                    df = df.withColumn(s, F.lit(""))
            df = fns.label_join(df, dst, sep, sources)
            for s in sources:
                if s not in vec.labels and s != dst:
                    df = df.drop(s)
            labels = vec.labels if dst in vec.labels else vec.labels + (dst,)
            return Vec(df, labels)
        if name == "vector":
            val = self._eval(node.args[0])
            if isinstance(val, Vec):  # e.g. vector(time())
                return Vec(val.df.select("step_ts", "value"), ())
            return Vec(self.grid.select("step_ts", F.lit(float(val)).alias("value")), ())
        if name in ("sort", "sort_desc"):
            vec = self._eval(node.args[0])
            order = F.asc("value") if name == "sort" else F.desc("value")
            return Vec(vec.df.orderBy(order), vec.labels)
        if name in ("sort_by_label", "sort_by_label_desc"):
            # Prometheus experimental (functions.go funcSortByLabel):
            # lexicographic sort on the given label names; a label a
            # series lacks sorts as the empty string (upstream labels.Get
            # semantics), never an error
            vec = self._eval(node.args[0])
            mk = F.asc if name == "sort_by_label" else F.desc
            cols = []
            for lbl in node.args[1:]:
                expr = (
                    F.coalesce(F.col(lbl).cast("string"), F.lit(""))
                    if lbl in vec.df.columns
                    else F.lit("")
                )
                cols.append(mk(expr))
            return Vec(vec.df.orderBy(*cols), vec.labels)
        if name == "timestamp":
            arg = node.args[0]
            if isinstance(arg, A.VectorSelector) and arg.at_ms is None:
                # the timestamp OF THE SAMPLE the instant selector resolves
                # to: rewrite value := sample ts (seconds) before the offset
                # shift, then run the normal as-of selection
                pts = self._select_points(
                    arg,
                    points=self.points.withColumn(
                        "value", F.col("ts") / F.lit(1000.0)
                    ),
                )
                df = selectors.instant_select(
                    pts, self.label_cols, self.step_ms, self.lookback_ms,
                    grid=self.grid,
                )
                return self._drop_name(Vec(df, self.label_cols))
            # derived vectors carry samples AT the evaluation step
            vec = self._eval(arg)
            return self._drop_name(Vec(
                vec.df.withColumn("value", (F.col("step_ts") / 1000).cast("double")),
                vec.labels,
            ))
        raise ValueError(f"unsupported function {name!r}")

    def _absent_const_labels(self, node) -> dict[str, str]:
        """Labels absent()/absent_over_time() derive from the selector's
        equality matchers (upstream createLabelsForAbsentFunction):
        __name__ is excluded, and a label matched for two different
        values is dropped."""
        sel = node.inner if isinstance(node, A.MatrixSelector) else node
        if not isinstance(sel, A.VectorSelector):
            return {}
        out: dict[str, str] = {}
        dropped: set[str] = set()
        for m in sel.matchers:
            if m.op != "=" or m.name == "__name__":
                continue
            if m.name in out and out[m.name] != m.value:
                dropped.add(m.name)
            out[m.name] = m.value
        return {k: v for k, v in out.items() if k not in dropped}

    def _eval_aggregation(self, node: A.Aggregation):
        vec = self._eval(node.expr)
        assert isinstance(vec, Vec)
        # __name__ in a grouping list addresses the name column (same
        # translation binop on() lists already apply)
        grouping = tuple(
            self.name_label if l == "__name__" else l for l in node.grouping
        )
        if node.without:
            by = tuple(
                l for l in vec.labels
                if l not in grouping and l != self.name_label
            )
            fp = without_fp_name(grouping)
            if "__series__" in by and fp in vec.labels:
                # dynamic-label store: the full fingerprint embeds the
                # without-ed labels and would block the merge; group on
                # the per-without fingerprint instead
                by = tuple(
                    l for l in by if l not in self._fp_cols
                ) + (fp,)
        else:
            # a grouping label absent from the vector behaves as the empty
            # value on every series (Prometheus missing-label semantics):
            # grouping by it is a no-op, so drop it
            by = tuple(l for l in grouping if l in vec.labels)
        if node.op in ("topk", "bottomk"):
            df = agg_ops.topk(
                vec.df, by=by, series_keys=vec.labels, k=int(node.param),
                bottom=node.op == "bottomk",
            )
            return Vec(df, vec.labels)
        if node.op == "limitk":
            # experimental upstream aggregation (promql/functions,
            # --enable-feature=promql-experimental-functions)
            df = agg_ops.limitk(
                vec.df, by=by, series_keys=vec.labels, k=int(node.param)
            )
            return Vec(df, vec.labels)
        if node.op == "limit_ratio":
            df = agg_ops.limit_ratio(
                vec.df, by=by, series_keys=vec.labels, r=float(node.param)
            )
            return Vec(df, vec.labels)

        def finish(df: DataFrame, labels: tuple[str, ...]) -> Vec:
            # a per-without fingerprint becomes the result's __series__
            fp = next((c for c in labels if c.startswith("__series_wo_")), None)
            if fp is not None:
                df = df.withColumnRenamed(fp, "__series__")
                labels = tuple("__series__" if c == fp else c for c in labels)
            return Vec(df, labels)

        if node.op == "count_values":
            lbl = str(node.param)
            _check_label_name(lbl, "label name")
            # Prometheus label values are STRINGS: upstream formats the
            # sample value with strconv.FormatFloat(v, 'f', -1, 64)
            # (promql count_values), so 2.0 becomes label "2", 0.5 stays
            # "0.5".  Formatted BEFORE the count so the grouping key IS
            # the label (and so a label named "value" can't collide with
            # the count output column).  Integral doubles take the
            # bigint path; huge magnitudes fall back to Spark's cast
            # (may use an exponent — out of 'f' spec but out of label
            # range in practice too).
            v = F.col("value")
            # try_cast, not cast: ANSI mode (the session default) throws
            # CAST_OVERFLOW on Inf/NaN inside the comparison otherwise
            fmt = (
                F.when(v == float("inf"), F.lit("+Inf"))     # Go FormatFloat
                .when(v == float("-inf"), F.lit("-Inf"))
                .when(v == v.try_cast("bigint"),
                      v.try_cast("bigint").cast("string"))
                .otherwise(v.cast("string"))                 # NaN -> "NaN"
            )
            df = agg_ops.count_values(
                vec.df.withColumn("value", fmt), by=by, label=lbl
            )
            return finish(df, by + (lbl,))
        if node.op == "quantile":
            df = agg_ops.aggregate(vec.df, by, "quantile", quantile=float(node.param))
            return finish(df, by)
        df = agg_ops.aggregate(vec.df, by, node.op)
        return finish(df, by)

    def _eval_binop(self, node: A.BinaryOp):
        lhs, rhs = self._eval(node.lhs), self._eval(node.rhs)
        scalar_l = isinstance(lhs, float)
        scalar_r = isinstance(rhs, float)
        if scalar_l and scalar_r:
            if node.op in binops._CMP and not node.bool_mode:
                raise ValueError("comparisons between scalars must use BOOL modifier")
            return self._scalar_arith(node.op, lhs, rhs)
        if scalar_l or scalar_r:
            return self._vector_scalar(node, lhs, rhs)
        return self._vector_vector(node, lhs, rhs)

    @staticmethod
    def _scalar_arith(op: str, a: float, b: float) -> float:
        if op in ("==", "!=", "<", ">", "<=", ">="):
            # scalar comparisons require `bool` in PromQL and yield 0/1;
            # the caller has already validated bool_mode
            return float(
                {"==": a == b, "!=": a != b, "<": a < b,
                 ">": a > b, "<=": a <= b, ">=": a >= b}[op]
            )
        if op == "/":
            if b == 0:
                return math.inf * a if a else math.nan
            return a / b
        if op == "^":
            try:
                return math.pow(a, b)
            except (OverflowError, ValueError):
                return math.nan
        return {
            "+": a + b, "-": a - b, "*": a * b,
            "%": math.fmod(a, b) if b else float("nan"),
            "atan2": math.atan2(a, b),
        }[op]

    def _vector_scalar(self, node: A.BinaryOp, lhs, rhs):
        vec, scalar, vec_left = (
            (lhs, rhs, True) if isinstance(lhs, Vec) else (rhs, lhs, False)
        )
        v, s = F.col("value"), F.lit(float(scalar))
        a, b = (v, s) if vec_left else (s, v)
        if node.op in binops._ARITH:
            value = binops._ARITH[node.op](a, b)
            return self._drop_name(
                Vec(vec.df.withColumn("value", value), vec.labels)
            )
        cond = binops._CMP[node.op](a, b)
        if node.bool_mode:
            # bool-mode comparisons drop the name; plain comparisons
            # FILTER and keep the original series untouched (upstream)
            return self._drop_name(
                Vec(vec.df.withColumn("value", cond.cast("double")), vec.labels)
            )
        return Vec(vec.df.filter(cond), vec.labels)

    def _vector_stepscalar(self, node: A.BinaryOp, lhs: Vec, rhs: Vec):
        """Binop where one side is a label-less per-step vector.

        Deviation from strict PromQL 1:1 matching (which would demand equal
        label sets): the label-less side behaves like ``scalar()`` — matched
        per step against every series of the other side. This is the only
        useful reading for ``time() - timestamp(m)``-style expressions.
        """
        scalar_side, vec_side, vec_left = (
            (rhs, lhs, True) if rhs.labels == () else (lhs, rhs, False)
        )
        s = scalar_side.df.select("step_ts", F.col("value").alias("_sv"))
        j = vec_side.df.withColumnRenamed("value", "_vv").join(s, on="step_ts")
        a, b = (
            (F.col("_vv"), F.col("_sv")) if vec_left else (F.col("_sv"), F.col("_vv"))
        )
        out_cols = [*vec_side.labels, "step_ts", "value"]
        if node.op in binops._ARITH:
            value = binops._ARITH[node.op](a, b)
            return self._drop_name(
                Vec(j.withColumn("value", value).select(*out_cols),
                    vec_side.labels)
            )
        cond = binops._CMP[node.op](a, b)
        if node.bool_mode:
            return self._drop_name(
                Vec(
                    j.withColumn("value", cond.cast("double")).select(*out_cols),
                    vec_side.labels,
                )
            )
        return Vec(
            j.filter(cond).withColumn("value", F.col("_vv")).select(*out_cols),
            vec_side.labels,
        )

    def _vector_vector(self, node: A.BinaryOp, lhs: Vec, rhs: Vec):
        if (lhs.labels == () or rhs.labels == ()) and node.op not in (
            "and", "or", "unless"
        ):
            # one side is a per-step scalar (time(), scalar(), vector()):
            # join on the step only, keep the labelled side's identity
            return self._vector_stepscalar(node, lhs, rhs)
        # dynamic-label stores: when both sides are raw map selectors,
        # default matching uses the name-less fingerprint instead of the
        # full one (upstream matches all labels EXCEPT __name__; the full
        # fingerprint embeds the name and would never match across
        # metrics), and the auxiliary fingerprints never participate
        both_noname = (
            "__series_noname__" in lhs.labels
            and "__series_noname__" in rhs.labels
        )
        aux = {"__series__", "__series_nole__"} | {
            c for c in (*lhs.labels, *rhs.labels)
            if c.startswith("__series_wo_")
        }
        if node.on is not None:
            # __name__ in an on() list matches on the name column
            on = [self.name_label if l == "__name__" else l for l in node.on]
        else:
            common = [l for l in lhs.labels if l in rhs.labels and l != self.name_label]
            if node.ignoring:
                common = [l for l in common if l not in node.ignoring]
            if both_noname:
                common = [l for l in common if l not in aux]
            on = common
        if node.op in ("and", "unless", "or"):
            if node.on is None:
                # set ops default to matching on the FULL label set
                # (minus __name__), not the intersection: a label absent
                # on one side compares as "" inside set_op
                on = [
                    l for l in dict.fromkeys([*lhs.labels, *rhs.labels])
                    if l != self.name_label
                    and not (node.ignoring and l in node.ignoring)
                ]
                if both_noname:
                    on = [l for l in on if l not in aux]
            df = binops.set_op(lhs.df, rhs.df, on=on, op=node.op)
            if node.op == "or":
                # the union carries both sides' labels (missing -> "")
                labels = tuple(dict.fromkeys([*lhs.labels, *rhs.labels]))
                return Vec(df.select(*labels, "step_ts", "value"), labels)
            return Vec(df, lhs.labels)
        if node.group_side and node.op in binops._ARITH:
            # many-to-one matching: each row of the "many" side joins the
            # single matching row of the "one" side; extra labels are
            # carried over from the "one" side (group_left(extra))
            many, one = (lhs, rhs) if node.group_side == "left" else (rhs, lhs)
            extra = [l for l in node.group_labels if l in one.labels]
            one_df = one.df.select(
                *on, "step_ts", F.col("value").alias("_ov"), *extra
            )
            j = many.df.withColumnRenamed("value", "_mv").join(
                one_df, on=on + ["step_ts"], how="inner"
            )
            l_col, r_col = (
                (F.col("_mv"), F.col("_ov"))
                if node.group_side == "left"
                else (F.col("_ov"), F.col("_mv"))
            )
            value = binops._ARITH[node.op](l_col, r_col)
            labels = tuple(dict.fromkeys(list(many.labels) + extra))
            # upstream: group_* results carry the many side's labels
            # WITHOUT the metric name; a non-unique "one" side fans the
            # join out and trips the duplicate guard, matching
            # upstream's "multiple matches" error class
            return self._drop_name(
                Vec(
                    j.withColumn("value", value)
                    .select(*labels, "step_ts", "value"),
                    labels,
                ),
                force_check=True,
            )
        if node.op in binops._ARITH:
            df = binops.arith(lhs.df, rhs.df, on=on, op=node.op)
            out = df.select(*on, "step_ts", "value")
            labels = tuple(on)
            if "__series_noname__" in labels:
                # the binop result's identity IS the name-less label set
                out = out.withColumnRenamed("__series_noname__", "__series__")
                labels = tuple(
                    "__series__" if l == "__series_noname__" else l
                    for l in labels
                )
            # arithmetic always drops the name (even an explicit
            # on(__name__) keeps it for MATCHING only); a coarse on()
            # set can fan out, so force the duplicate guard
            return self._drop_name(Vec(out, labels), force_check=True)
        cmp_map = {"==": "==", "!=": "!=", "<": "<", ">": ">", "<=": "<=", ">=": ">="}
        df = binops.compare(
            lhs.df, rhs.df, on=on, op=cmp_map[node.op], bool_mode=node.bool_mode
        )
        keep = list(dict.fromkeys(list(lhs.labels) + on))
        vec = Vec(
            df.select(*[c for c in df.columns if c in keep] + ["step_ts", "value"]),
            lhs.labels,
        )
        return self._drop_name(vec) if node.bool_mode else vec


def query_range(points, promql: str, **kwargs) -> DataFrame:
    """One-shot convenience: evaluate a PromQL range query."""
    return PromQLEngine(points, **kwargs).query_range(promql)
