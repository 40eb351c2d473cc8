"""Query planner: AST → DataFrame plans (frames).

This is the Spark-native replacement for the reference's iterator-tree
evaluator (reference: src/query/evaluator.rs:96-152). Each AST node lowers
to declarative DataFrame operations; Catalyst handles optimization. The
temporal core — the per-selector evaluation grid with staleness/lookback
gap-fill (reference: src/query/vector.rs) — is expressed as:

1. a tiny bounds aggregate per selector (min/max matched sample ts),
2. a ``sequence``-generated grid of instants:
   ``t0 = anchor + min(lookback, interval) − 1``, anchor = ``--since`` or
   the selector's first matching sample (vector.rs:29-45,86-97); the last
   instant is the largest grid point ``< max_ts + lookback`` (the buffer
   drains over trailing instants, vector.rs:74-107),
3. a shuffle-friendly **serving-instant explode**: each sample serves the
   grid instants ``t`` with ``ts ≤ t < ts + lookback``; fan-out is
   ``ceil(lookback/interval)`` rows (= 1 for pq's default lookback ==
   interval). This replaces an O(grid × samples) range join with a
   map-side explode + hash aggregation, which scales linearly and
   partitions by (instant, series) — no skew pile-up on hot series at
   100 TB (hot *instants* are bounded by series cardinality per tick).

Star-schema discipline (see frames.py): every combinator operates on the
narrow fact relation keyed by the 64-bit ``skey``; label maps and signature
strings live only in the per-series dim, where grouping/matching label
algebra is computed ONCE per series, not per sample. Consequently no
Exchange in any aggregate/over-time/binary plan carries a
``map<string,string>`` or a signature string — the only exceptions are the
reference's ordering quirks (count/group seeding, topk tie-breaks), where
the ~60-byte ``ord`` string participates in the aggregation itself and
rides the shuffle only as post-combine partial state (one row per group per
input partition).

Ordering parity: the reference materializes vectors in BTreeMap order of
the byte signature (sorted ``k\\xffv`` concat) — the dim carries an ``ord``
string and the formatter sorts on it at output time.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, replace

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from ..errors import MatchingError, PqError
from ..query.ast import (
    AGG_OVER_TIME_FUNCS,
    AggregateOperation,
    BinaryOperation,
    EXTENSION_OVER_TIME_FUNCS,
    Expr,
    FunctionCall,
    LabelMatcher,
    NAME_LABEL,
    NumberLiteral,
    Parentheses,
    Subquery,
    UnaryOperation,
    VectorSelector,
    find_smallest_range_ms,
    op_kind,
)
from ..textops import portable_hash
from .frames import (
    Check, RangeFrame, ScalarResult, ScalarSeries, VectorFrame, dim_from_sig2,
    empty_map, okey_expr, series_key, sig2_expr, sig_expr, sig_from_sig2,
)

F64_EPSILON = 2.220446049250313e-16

# Prometheus math functions (extensions — see _math_fn)
_MATH_FNS = {
    "abs", "ceil", "floor", "round", "sqrt", "exp", "ln", "log2", "log10",
    "sgn",
    # trigonometry (libm pass-through incl. NaN outside domains, like
    # Prometheus); deg/rad are degrees()/radians()
    "sin", "cos", "tan", "asin", "acos", "atan",
    "sinh", "cosh", "tanh", "asinh", "acosh", "atanh", "deg", "rad",
}

# counter-analysis over-time extensions: pairwise scans over the window's
# ordered points (resets counts decreases, changes counts value changes)
_COUNT_OVER_TIME_FNS = {"resets", "changes"}

# least-squares linear regression over the window's (t, v) points —
# algebraic sums only, so the aggregation stays in HashAggregate
_REGRESSION_FNS = {"deriv", "predict_linear"}

# Prometheus calendar functions (extensions — see _math_fn): interpret the
# sample VALUE as epoch seconds in UTC, e.g. hour(timestamp(v))
_CALENDAR_FNS = {
    "minute", "hour", "day_of_week", "day_of_month", "day_of_year",
    "days_in_month", "month", "year",
}

# statistical over-time extensions (Prometheus surface the reference lacks;
# population moments + interpolated quantile — both expressible as grouped
# aggregates AND as sliding-window expressions, so they ride the same
# explode/fused adaptive strategy as the core over-time functions)
_STAT_OVER_TIME_FNS = {
    "quantile_over_time", "stddev_over_time", "stdvar_over_time",
    "present_over_time", "mad_over_time",
}
DEFAULT_INTERVAL_MS = 1000


def _arr_median(a: Column) -> Column:
    """Linear-interpolated median of a SORTED array (percentile_cont 0.5):
    odd n → middle element, even n → mean of the two middle elements.
    1-based element_at; floor((n+1)/2) == floor(n/2)+1 for odd n, so both
    branches read the same element there."""
    n = F.size(a)
    lo = F.element_at(a, F.floor((n + F.lit(1)) / F.lit(2)).cast("int"))
    hi = F.element_at(a, (F.floor(n / F.lit(2)) + F.lit(1)).cast("int"))
    return (lo + hi) / F.lit(2)


def labelless_vector(grid: DataFrame, facts: DataFrame, checks=None) -> VectorFrame:
    """One label-less series (the empty signature) carrying ``facts``'
    [instant, value] rows: ``vector(s)`` and a top-level per-instant
    scalar, which the output layer presents as a vector."""
    skey = series_key(F.lit(""))
    dim = grid.limit(1).select(
        skey.alias("skey"), F.lit("").alias("sig"),
        empty_map().alias("labels"), F.lit("").alias("ord"),
    )
    return VectorFrame(
        grid, facts.select("instant", skey.alias("skey"), "value"), dim, checks
    )


def _relabeled(dim: DataFrame, labels: Column, ord="ord") -> DataFrame:
    """A dim rewrite: the series' label maps become ``labels`` and are
    re-signed; the skey, and by default the output order, stay."""
    return dim.select(
        "skey", sig_expr(labels).alias("sig"), labels.alias("labels"), ord
    )


def _labels_with(labels: Column, names) -> Column:
    """Keep listed labels, always dropping __name__ (labels.rs:27-31)."""
    arr = F.array(*[F.lit(n) for n in names]) if names else F.array().cast("array<string>")
    return F.map_filter(
        labels, lambda k, _: (k != F.lit(NAME_LABEL)) & F.array_contains(arr, k)
    )


def _labels_without(labels: Column, names) -> Column:
    """Drop listed labels and __name__ (labels.rs:33-37)."""
    if not names:
        return F.map_filter(labels, lambda k, _: k != F.lit(NAME_LABEL))
    arr = F.array(*[F.lit(n) for n in names])
    return F.map_filter(
        labels, lambda k, _: (k != F.lit(NAME_LABEL)) & ~F.array_contains(arr, k)
    )


def group_labels_expr(labels: Column, modifier) -> Column:
    """Aggregation grouping labels (reference: src/query/aggregate.rs:46-50)."""
    if modifier is None:
        return _labels_with(labels, [])
    kind, names = modifier
    return _labels_with(labels, names) if kind == "by" else _labels_without(labels, names)


def match_labels_expr(labels: Column, matching) -> Column:
    """Vector-matching labels (reference: src/query/value.rs:79-102)."""
    if matching is None:
        return _labels_without(labels, [])
    kind, names = matching
    return _labels_with(labels, names) if kind == "on" else _labels_without(labels, names)


# ---------------------------------------------------------------------------
# scalar (plan-time) arithmetic — IEEE f64 parity via numpy
# ---------------------------------------------------------------------------


def scalar_binop(op: str, a: float, b: float) -> float:
    """Rust f64 op parity (reference: src/query/binary.rs:331-352)."""
    with np.errstate(all="ignore"):
        x, y = np.float64(a), np.float64(b)
        if op == "+":
            return float(x + y)
        if op == "-":
            return float(x - y)
        if op == "*":
            return float(x * y)
        if op == "/":
            return float(x / y)
        if op == "%":
            return float(np.fmod(x, y))
        if op == "^":
            return float(np.power(x, y))
        if op == "==":
            return float(abs(float(x) - float(y)) < F64_EPSILON)
        if op == "!=":
            return float(abs(float(x) - float(y)) > F64_EPSILON)
        if op == ">":
            return float(float(x) > float(y))
        if op == ">=":
            return float(float(x) >= float(y))
        if op == "<":
            return float(float(x) < float(y))
        if op == "<=":
            return float(float(x) <= float(y))
    raise PqError(f"operator {op} is not supported between scalars")


def _binop_col(op: str, l: Column, r: Column) -> Column:
    """Arithmetic column op with IEEE f64 semantics (Spark's non-ANSI
    ``/``/``%`` return NULL on zero divisors — pq needs ±Inf/NaN)."""
    if op == "+":
        return l + r
    if op == "-":
        return l - r
    if op == "*":
        return l * r
    if op == "/":
        # IEEE sign rules for x/±0: the divisor's sign bit flips the Inf
        # sign. Spark evaluates -0.0 == 0.0 as true, so detect the negative
        # zero via its string form ("-0.0") — only consulted when r == 0.
        neg_zero = r.cast("string").startswith("-")
        pos_inf, neg_inf = F.lit(float("inf")), F.lit(float("-inf"))
        return (
            F.when(
                r == 0.0,
                F.when(l > 0, F.when(neg_zero, neg_inf).otherwise(pos_inf))
                .when(l < 0, F.when(neg_zero, pos_inf).otherwise(neg_inf))
                .otherwise(F.lit(float("nan"))),
            )
            .otherwise(l / r)
        )
    if op == "%":
        return F.when(r == 0.0, F.lit(float("nan"))).otherwise(l % r)
    if op == "^":
        return F.pow(l, r)
    raise PqError(f"operator {op} is not an arithmetic operator")


def _compare_pred(op: str, l: Column, r: Column) -> Column:
    """Comparison predicate with the reference's epsilon equality
    (binary.rs:344,349): ``==`` ⇔ |l−r| < ε, ``!=`` ⇔ |l−r| > ε."""
    if op == "==":
        return F.abs(l - r) < F.lit(F64_EPSILON)
    if op == "!=":
        return F.abs(l - r) > F.lit(F64_EPSILON)
    if op == ">":
        return l > r
    if op == ">=":
        return l >= r
    if op == "<":
        return l < r
    if op == "<=":
        return l <= r
    raise PqError(f"operator {op} is not a comparison operator")


# ---------------------------------------------------------------------------
# planner
# ---------------------------------------------------------------------------


@dataclass
class PlanContext:
    samples: DataFrame
    interval_ms: int
    lookback_ms: int
    start_at_ms: int | None = None
    strict: bool = True
    extensions: bool = False


class Planner:
    def __init__(self, ctx: PlanContext):
        self.ctx = ctx

    # -- entry ---------------------------------------------------------------

    @staticmethod
    def infer_interval_ms(expr: Expr, cli_interval_ms: int | None) -> int:
        if cli_interval_ms is not None:
            return cli_interval_ms
        smallest = find_smallest_range_ms(expr)
        return smallest if smallest is not None else DEFAULT_INTERVAL_MS

    def plan(self, node: Expr):
        if isinstance(node, Parentheses):
            return self.plan(node.inner)
        if isinstance(node, NumberLiteral):
            return ScalarResult(node.value)
        if isinstance(node, VectorSelector):
            return self._plan_selector(node)
        if isinstance(node, UnaryOperation):
            return self._plan_unary(node)
        if isinstance(node, AggregateOperation):
            return self._plan_aggregate(node)
        if isinstance(node, BinaryOperation):
            return self._plan_binary(node)
        if isinstance(node, FunctionCall):
            return self._plan_function(node)
        if isinstance(node, Subquery):
            return self._plan_subquery(node)
        raise PqError(f"cannot plan node {node!r}")

    # -- selectors -------------------------------------------------------------

    def _matcher_filter(self, m: LabelMatcher) -> Column:
        if m.label == NAME_LABEL:
            col = F.col("name")
        elif f"_lbl_{m.label}" in self.ctx.samples.columns:
            # scan-pushable passthrough column (table-ingested samples)
            col = F.col(f"_lbl_{m.label}")
        else:
            col = F.col("labels").getItem(m.label)
        # missing label never matches, even negated ops (vector.rs:56-64)
        if m.op == "=":
            return col == F.lit(m.value)
        if m.op == "!=":
            return col.isNotNull() & (col != F.lit(m.value))
        if m.op == "=~":
            return col.rlike(m.anchored_pattern)
        return col.isNotNull() & ~col.rlike(m.anchored_pattern)

    def _grid_params(self, matched: DataFrame, lookback: int):
        """Bounds aggregate → (params, grid): the evaluation grid
        ``t0 = anchor + min(lookback, interval) − 1`` with the trailing
        drain (vector.rs:29-45,74-107)."""
        bounds = matched.agg(
            F.min("ts").alias("_tsmin"), F.max("ts").alias("_tsmax")
        )
        return self._params_from_bounds(bounds, lookback)

    def _params_from_bounds(self, bounds: DataFrame, lookback: int):
        """(1-row bounds [_tsmin, _tsmax]) → (params, grid)."""
        ctx = self.ctx
        interval = ctx.interval_ms
        anchor = (
            F.lit(ctx.start_at_ms).cast("long")
            if ctx.start_at_ms is not None
            else F.col("_tsmin")
        )
        t0 = (anchor + F.lit(min(lookback, interval) - 1)).alias("_t0")
        params = bounds.select(t0, F.col("_tsmax")).withColumn(
            # last emitted instant: largest grid point < tsmax + lookback
            "_kend",
            F.when(
                F.col("_tsmax").isNotNull()
                & (F.col("_tsmax") + F.lit(lookback - 1) >= F.col("_t0")),
                _floordiv(F.col("_tsmax") + F.lit(lookback - 1) - F.col("_t0"), interval),
            ),
        )
        grid = params.filter(F.col("_kend").isNotNull()).select(
            F.explode(
                F.sequence(
                    F.col("_t0"),
                    F.col("_t0") + F.col("_kend") * F.lit(interval),
                    F.lit(interval).cast("long"),
                )
            ).alias("instant")
        )
        return params, grid

    def _selector_parts(self, sel: VectorSelector, lookback: int):
        """Shared selector prep: matcher filters, grid params, series dim."""
        matched = self.ctx.samples
        for m in sel.matchers:
            matched = matched.filter(self._matcher_filter(m))
        if sel.offset_ms:
            # extension (reference TODO, expr.rs:33): evaluate the selector
            # offset_ms in the past. Shifting every matched sample forward
            # by the offset makes a window ending at t equal the original
            # window at t − offset; deltas (rate spans) and tie-break
            # packing are shift-invariant. Note: under the CLI's --since
            # the input stream is already range-filtered at ingest
            # (reference semantics), so offset reads within that stream.
            if not self.ctx.extensions:
                raise PqError("offset modifier is not implemented")
            matched = matched.withColumn(
                "ts", F.col("ts") + F.lit(int(sel.offset_ms))
            )
        # star schema: fact rows carry only the 64-bit skey; the label map
        # and signature string live in the per-series dim and join back
        # broadcast-style at the output edge (frames.py). The big shuffles
        # (serving-instant gap-fill agg) move longs + doubles only.
        # dim discovery is the ONLY place label data crosses a shuffle, and
        # it crosses as one invertible signature string per distinct series
        # per partition (map-side combine): per-sig HashAggregate, then the
        # map is rebuilt on the dim-sized result. (Like the reference's
        # separator-free signature itself, this treats label text
        # containing \xff/\xfe as out of contract.)
        #
        # FUSED bounds (optimization round 8): the grid bounds
        # (min/max ts) ride the SAME per-series aggregation as dim
        # discovery — two long partials next to the sig key — so a
        # selector scans its fact input twice (dim+bounds, serve) instead
        # of three times. The per-series result is dim-sized; the global
        # bounds reduce over it is a cache-read of #series rows.
        #
        # localCheckpoint instead of persist: the dim feeds MANY
        # consumers (bounds broadcast, output-label join, group maps) and
        # each would otherwise re-ANALYZE the whole fact lineage under the
        # cached plan — the truncated LogicalRDD leaf makes every
        # downstream plan small (measured: −0.1 s build and −0.05 s exec
        # per grid query at sf0.1). Content is identical. eager=False
        # skips the collect of the checkpointed rows, but NOT every job:
        # under AQE, building the LogicalRDD materializes the plan's
        # shuffle-map stage, so the per-series aggregate's map job (the
        # whole fact scan below it) runs here, while ``evaluate`` builds
        # the plan. For a CLI program that job is the first ingest pass
        # (decode, map, timestamp parse). It is no CacheManager entry, so
        # no owner releases it: the ContextCleaner frees its blocks once
        # every frame over it is garbage-collected.
        per_series = (
            matched.select(sig2_expr(F.col("labels")).alias("_sig2"), "ts")
            .groupBy("_sig2")
            .agg(F.min("ts").alias("_tsmin"), F.max("ts").alias("_tsmax"))
            .localCheckpoint(eager=False)
        )
        bounds = per_series.agg(
            F.min("_tsmin").alias("_tsmin"), F.max("_tsmax").alias("_tsmax")
        )
        params, grid = self._params_from_bounds(bounds, lookback)
        return matched, params, grid, dim_from_sig2(per_series)

    def _plan_selector(self, sel: VectorSelector):
        ctx = self.ctx
        interval = ctx.interval_ms
        # a range selector's duration overrides the lookback (vector.rs:29-32)
        lookback = sel.duration_ms if sel.duration_ms is not None else ctx.lookback_ms
        instant = sel.duration_ms is None
        matched, params, grid, sel_dim = self._selector_parts(sel, lookback)
        skey = series_key(sig_expr(F.col("labels"))).alias("skey")
        cols = (skey, "value", "ts", "seq", okey_expr().alias("_okey"))

        if sel.at_ms is not None:
            # extension (PromQL `@` modifier): the selector window is
            # pinned to the fixed instant T — every grid instant sees the
            # same sample(s). The grid itself stays the selector's normal
            # data-anchored grid (engine convention). Offset composes as
            # usual: samples are already shifted, so (T−lookback, T] over
            # the shifted stream is the original window at T − offset.
            if not ctx.extensions:
                raise PqError("@ modifier is not implemented")
            facts = self._at_fixed(matched, cols, grid, sel.at_ms, lookback, instant)
        elif instant and math.ceil(lookback / interval) > self.FANOUT_SWITCH:
            # strategy switch: the serving-instant explode multiplies rows by
            # ceil(lookback/interval) pre-shuffle — above FANOUT_SWITCH the
            # skeleton/window plan is cheaper (see _instant_window_strategy)
            facts = self._instant_window_strategy(matched, grid, sel_dim, lookback)
        else:
            facts = self._serve(matched, params, lookback, cols)
            if instant:
                # instant vector: latest sample per series in the lookback window
                facts = facts.groupBy("instant", "skey").agg(
                    F.max_by("value", "_okey").alias("value"),
                )
        return (VectorFrame if instant else RangeFrame)(grid, facts, sel_dim)

    def _serve(
        self, src: DataFrame, params: DataFrame, lookback: int, cols
    ) -> DataFrame:
        """The serving-instant explode: each ``src`` row (a sample at
        ``ts``) serves the grid instants ``t0 + k·interval`` with
        ``ts ≤ t < ts + lookback``, k clipped to ``[0, kend]``; one output
        row [instant, *cols] per served instant."""
        interval = self.ctx.interval_ms
        j = src.crossJoin(F.broadcast(params.filter(F.col("_kend").isNotNull())))
        k0 = F.greatest(F.lit(0).cast("long"), _ceildiv(F.col("ts") - F.col("_t0"), interval))
        k1 = F.least(
            F.col("_kend"),
            _floordiv(F.col("ts") + F.lit(lookback - 1) - F.col("_t0"), interval),
        )
        # few Dataset ops on purpose: every transformation re-analyzes the
        # whole subtree on the driver (eager per-op analysis), so the
        # serve projection explodes the ALREADY-SHIFTED instants directly
        return (
            j.select("*", k0.alias("_k0"), k1.alias("_k1"))
            .filter(F.col("_k1") >= F.col("_k0"))
            .select(
                F.explode(
                    F.transform(
                        F.sequence("_k0", "_k1"),
                        lambda k: F.col("_t0") + k * F.lit(interval),
                    )
                ).alias("instant"),
                *cols,
            )
        )

    @staticmethod
    def _at_fixed(
        src: DataFrame, cols, grid: DataFrame, t_at: int, lookback: int,
        instant: bool,
    ) -> DataFrame:
        """Fixed-instant (`@`) evaluation: one window (T−lookback, T] over
        the ``src`` rows, replicated to every grid instant: the latest row
        per series for an instant vector, every window point for a range.

        Scale shape: the fixed-window aggregate is series-dim-sized (one
        row per series for instants, window-point-bounded for ranges), so
        it BROADCASTS against the grid — a BroadcastNestedLoopJoin over
        grid × dim rows, never a data-sized cartesian."""
        t_at = int(t_at)
        fixed = src.filter(
            (F.col("ts") > F.lit(t_at - lookback)) & (F.col("ts") <= F.lit(t_at))
        ).select(*cols)
        if instant:
            latest = fixed.groupBy("skey").agg(
                F.max_by("value", "_okey").alias("value")
            )
            return grid.crossJoin(F.broadcast(latest)).select(
                "instant", "skey", "value"
            )
        return grid.crossJoin(F.broadcast(fixed)).select(
            "instant", "skey", "value", "ts", "seq", "_okey"
        )

    # explode fan-out above this, the skeleton/window strategy wins: the
    # explode multiplies every sample by ceil(lookback/interval) rows BEFORE
    # the shuffle, while the window plan moves samples + (series × instants)
    # rows exactly once
    FANOUT_SWITCH = 16

    @staticmethod
    def _skeleton_carry(
        matched: DataFrame, grid: DataFrame, sel_dim: DataFrame, lookback: int,
    ):
        """The window strategies' input: the samples [skey, ts, _okey,
        value] unioned with a (series × grid-instant) skeleton whose rows
        carry ``_isinst = 1`` (NULL on samples, which therefore sort first
        at equal ts) and NULL value/_okey. Returns it with the
        (skey, time-block) window partitioning both strategies order.

        Skew immunity: block width = lookback. A window ending at t reaches
        back at most ``lookback − 1`` ms, into t's block or the one before
        — so each sample is replicated into its own block and the next
        (fan-out exactly 2 ≪ FANOUT_SWITCH, the explode path's break-even,
        mirroring the Gorilla super-block boundary carry), and a
        pathologically hot series shards across ceil(span/lookback) tasks
        instead of serializing on one."""
        from pyspark.sql import Window

        blk = _floordiv(F.col("ts"), lookback)
        pts = matched.select(
            series_key(sig_expr(F.col("labels"))).alias("skey"),
            "ts", okey_expr().alias("_okey"), "value",
        )
        # native copy in its own block + boundary carry into the next
        pts = pts.withColumn("_blk", blk).unionByName(
            pts.withColumn("_blk", blk + F.lit(1))
        )
        skeleton = grid.crossJoin(F.broadcast(sel_dim.select("skey"))).select(
            "skey",
            F.col("instant").alias("ts"),
            F.lit(None).cast("long").alias("_okey"),
            F.lit(None).cast("double").alias("value"),
        ).withColumn("_blk", _floordiv(F.col("ts"), lookback))
        unioned = pts.unionByName(
            skeleton.withColumn("_isinst", F.lit(1)), allowMissingColumns=True
        )
        return unioned, Window.partitionBy("skey", "_blk")

    def _instant_window_strategy(
        self, matched: DataFrame, grid: DataFrame,
        sel_dim: DataFrame, lookback: int,
    ) -> DataFrame:
        """High-fanout instant vectors (lookback ≫ interval): carry the
        latest sample per series over the skeleton with a last-value
        window, keep skeleton rows whose source sample is still fresh. One
        shuffle keyed by (skey, block); the per-series sort replaces the
        explode's ceil(lookback/interval)× row multiplication."""
        from pyspark.sql import Window

        unioned, part = self._skeleton_carry(matched, grid, sel_dim, lookback)
        w = part.orderBy("ts", "_isinst", "_okey").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        carried = unioned.select(
            "skey",
            "ts",
            "_isinst",
            F.last("value", ignorenulls=True).over(w).alias("_lv"),
            F.last(
                F.when(F.col("_isinst").isNull(), F.col("ts")), ignorenulls=True
            ).over(w).alias("_lts"),
        )
        return carried.filter(
            (F.col("_isinst") == 1)
            & F.col("_lts").isNotNull()
            & (F.col("_lts") > F.col("ts") - F.lit(lookback))
        ).select(F.col("ts").alias("instant"), "skey", F.col("_lv").alias("value"))

    # -- subqueries ------------------------------------------------------------

    def _plan_subquery(self, node: Subquery) -> RangeFrame:
        """Extension (PromQL subquery ``expr[range:step]`` — the reference
        grammar has no such production, src/query/parser/expr.rs:25-34):
        evaluate the inner instant-vector expression on its own grid with
        ``interval = step``, then serve each inner sample into every outer
        window it falls in, exactly like a range selector serves raw
        samples.

        Grid convention (engine-wide, documented at _scalar_series_vector):
        the inner expression anchors its own grid (per-selector anchoring
        with interval=step), NOT Prometheus's absolutely-aligned subquery
        steps; the OUTER grid is then derived from the inner sample stream
        with the standard ``t0 = anchor + min(range, interval) − 1`` rule,
        so a subquery of a bare selector windows the same instants the
        equivalent range selector would.

        Scale: inner facts are one row per (series, step-instant) — already
        aggregated, far smaller than raw samples. The serve explode
        multiplies them by at most ceil(range/outer-interval) (the same
        bounded fan-out as range selectors); no per-row Python, one
        broadcast of the 1-row bounds."""
        if not self.ctx.extensions:
            raise PqError("subquery is not implemented")
        step = node.step_ms if node.step_ms is not None else self.ctx.interval_ms
        inner = Planner(replace(self.ctx, interval_ms=step)).plan(node.inner)
        if not isinstance(inner, VectorFrame):
            raise PqError("subquery expects an instant vector expression")

        lookback = int(node.range_ms)
        # offset: shift the inner sample stream forward (selector
        # convention) — a window ending at t over the shifted stream equals
        # the original window at t − offset
        ts = F.col("instant") + F.lit(int(node.offset_ms))
        samples = inner.facts.select(
            ts.cast("long").alias("ts"), "skey", "value"
        )
        params, grid = self._grid_params(samples, lookback)
        # one inner sample per (series, instant): seq ≡ 0 in the packed
        # ordering key
        cols = (
            "skey", "value", "ts", F.lit(0).cast("long").alias("seq"),
            okey_expr(seq=False).alias("_okey"),
        )
        if node.at_ms is not None:
            # `expr[r:s] @ T`: the outer window is pinned to T; every grid
            # instant sees the same inner points (same broadcast shape as
            # the selector `@` — inner points in one window are bounded by
            # series × ceil(range/step))
            facts = self._at_fixed(samples, cols, grid, node.at_ms, lookback, False)
        else:
            facts = self._serve(samples, params, lookback, cols)
        return RangeFrame(grid, facts, inner.dim, inner.checks)

    # -- unary -----------------------------------------------------------------

    def _plan_unary(self, node: UnaryOperation):
        inner = self.plan(node.inner)
        if isinstance(inner, ScalarResult):
            return ScalarResult(
                -inner.value if node.op == "-" else inner.value, inner.checks
            )
        if isinstance(inner, VectorFrame):
            if node.op == "+":
                return inner
            # '-' keeps __name__ (reference: src/query/unary.rs:14-19)
            facts = inner.facts.withColumn("value", -F.col("value"))
            return VectorFrame(inner.grid, facts, inner.dim, inner.checks)
        if isinstance(inner, ScalarSeries):
            if node.op == "+":
                return inner
            facts = inner.facts.withColumn("value", -F.col("value"))
            return ScalarSeries(inner.grid, facts, inner.checks)
        raise PqError("unary operator expects a scalar or an instant vector")

    # -- aggregation -------------------------------------------------------------

    def _plan_aggregate(self, node: AggregateOperation):
        inner = self.plan(node.inner)
        if not isinstance(inner, VectorFrame):
            raise PqError("aggregate operators expect an instant vector")

        op = node.op
        if op in ("limitk", "limit_ratio") and not self.ctx.extensions:
            # experimental-PromQL extensions; not in the reference grammar
            raise PqError(f"aggregation operator {op} is not implemented")
        if op in ("quantile", "stddev", "stdvar", "count_values") and not self.ctx.extensions:
            # parse-only in the reference — evaluator panics
            # (aggregate.rs:184); enable via extensions=True
            raise PqError(f"aggregation operator {op} is not implemented")

        # group-label algebra happens ONCE per series on the dim, never on
        # fact rows: skey → (gkey, gsig, glabels). The invertible _gsig2
        # keeps the group-dim dedup a plain string-distinct HashAggregate
        # (no map type near any aggregation).
        # one projection, expressions inlined: withColumn chains re-analyze
        # the dim subtree once per column on the driver; the duplicated
        # subexpressions only re-evaluate on dim-sized rows
        _glabels = group_labels_expr(F.col("labels"), node.modifier)
        _gsig2 = sig2_expr(_glabels)
        _gsig = sig_from_sig2(_gsig2)
        gmap = inner.dim.select(
            "*",
            _glabels.alias("_glabels"),
            _gsig2.alias("_gsig2"),
            _gsig.alias("_gsig"),
            series_key(_gsig).alias("_gkey"),
        )

        # iteration-order quirks (count/group seeding, topk tie-breaks)
        # follow the INPUT vector's emission order — the dim's 'ord' column
        # (selector: sig; topk output: gsig\x7fsig; binary output: lhs ord;
        # aggregate.rs:44-66 seeds from the first sample in that order).
        # Rank it ONCE on the dim (a dim-sized window partitioned by group)
        # so fact-side aggregations order by a LONG — no strings in the
        # fact shuffle, min_by stays HashAggregate
        def _with_ordn(gm: DataFrame) -> DataFrame:
            from pyspark.sql import Window

            w = Window.partitionBy("_gkey").orderBy("ord")
            return gm.withColumn("_ordn", F.row_number().over(w))

        if op == "limit_ratio":
            # Extension (experimental PromQL): deterministic per-SERIES
            # hash sampling — keep series whose portable-hash uniform
            # u(sig) ∈ [0,1) lands below r (r ≥ 0), or in the complement
            # [1+r, 1) for r < 0, so limit_ratio(r, v) and
            # limit_ratio(r-1, v) partition the input exactly. Unlike
            # Prometheus's labels.Hash() this uses the repo's portable
            # 60-bit md5 hash, so a DuckDB oracle reproduces it
            # bit-for-bit. Purely dim-sized work + one broadcast
            # semi-join — no per-instant window over facts.
            r = min(max(float(node.argument), -1.0), 1.0)
            u = portable_hash(F.col("sig"), "lr") / F.lit(float(1 << 60))
            kept = gmap.filter(u < F.lit(r) if r >= 0 else u >= F.lit(1.0 + r))
            facts = inner.facts.join(
                F.broadcast(kept.select("skey")), "skey", "semi"
            )
            out_dim = kept.select(
                "skey",
                "sig",
                "labels",
                F.concat(F.col("_gsig"), F.lit("\x7f"), F.col("sig")).alias("ord"),
            )
            return VectorFrame(inner.grid, facts, out_dim, inner.checks)

        if op in ("topk", "bottomk", "limitk"):
            from pyspark.sql import Window

            k = max(int(node.argument), 0)
            f = inner.facts.join(
                F.broadcast(_with_ordn(gmap).select("skey", "_gkey", "_ordn")), "skey"
            )
            # reference iterates BTreeMap (sig) order, aggregate.rs:100-165.
            # limitk (extension, experimental PromQL): the first k series
            # PRESENT at each instant in that same sig order — Prometheus
            # leaves the pick unspecified; pinning it to the engine's
            # output-order convention makes it deterministic and oracle-able
            if op == "limitk":
                order = [F.col("_ordn")]
            elif op == "topk":
                order = [F.col("value").desc(), F.col("_ordn")]
            else:
                order = [F.col("value").asc(), F.col("_ordn")]
            w = Window.partitionBy("instant", "_gkey").orderBy(*order)
            facts = (
                f.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= F.lit(k))
                .select("instant", "skey", "value")
            )
            # original labels kept (aggregate.rs:100-165); output order is
            # (group sig, series sig)
            out_dim = gmap.select(
                "skey",
                "sig",
                "labels",
                F.concat(F.col("_gsig"), F.lit("\x7f"), F.col("sig")).alias("ord"),
            )
            return VectorFrame(inner.grid, facts, out_dim, inner.checks)

        if op == "count_values":
            # extension; output identity depends on the VALUE, not just the
            # series — fall back to the wide path
            lbl = str(node.argument)
            base = inner.cells.withColumn(
                "_glabels", group_labels_expr(F.col("labels"), node.modifier)
            )
            # 6 dp, trailing zeros trimmed. %.6f rounds HALF_UP
            # (java.util.Formatter) — exact .0000005 ties at the 7th digit
            # are out of contract (the DuckDB oracle's fmt-based format()
            # rounds half-even; no representable double that our pipelines
            # produce lands exactly on such a tie)
            vstr = F.regexp_replace(
                F.regexp_replace(
                    F.format_string("%.6f", F.col("value")), r"0+$", ""
                ),
                r"\.$",
                "",
            )
            base = base.withColumn(
                "_glabels",
                F.map_concat(
                    F.col("_glabels"),
                    F.create_map(F.lit(lbl), vstr),
                ),
            ).withColumn("_gsig", sig_expr(F.col("_glabels")))
            agg = base.groupBy("instant", "_gsig").agg(
                F.count("value").cast("double").alias("value"),
                F.first("_glabels").alias("labels"),
            )
            cells = agg.select(
                "instant",
                F.col("_gsig").alias("sig"),
                "labels",
                F.col("_gsig").alias("ord"),
                "value",
            )
            return VectorFrame.wide(inner.grid, cells, inner.checks)

        if op in ("count", "group"):
            # reference quirk (aggregate.rs:30-67): the accumulator is seeded
            # with the FIRST sample's value (in signature order), then updated
            # per further sample ⇒ count == first_value + n − 1
            f = inner.facts.join(
                F.broadcast(_with_ordn(gmap).select("skey", "_gkey", "_ordn")), "skey"
            )
            g = f.groupBy("instant", "_gkey")
            if op == "count":
                agg = g.agg(
                    (F.min_by("value", "_ordn") + F.count("value") - 1).alias("value")
                )
            else:
                # same seeding quirk: single-sample groups keep the value
                agg = g.agg(
                    F.when(F.count("value") > 1, F.lit(1.0))
                    .otherwise(F.min_by("value", "_ordn"))
                    .alias("value")
                )
        else:
            f = inner.facts.join(F.broadcast(gmap.select("skey", "_gkey")), "skey")
            g = f.groupBy("instant", "_gkey")
            if op == "sum":
                agg = g.agg(F.sum("value").alias("value"))
            elif op == "min":
                agg = g.agg(F.min("value").alias("value"))
            elif op == "max":
                agg = g.agg(F.max("value").alias("value"))
            elif op == "avg":
                agg = g.agg((F.sum("value") / F.count("value")).alias("value"))
            elif op == "quantile":
                q = float(node.argument)
                # Prometheus out-of-range rule: NaN→NaN, φ<0→−Inf, φ>1→+Inf
                # (Spark's percentile rejects all three at runtime)
                if math.isnan(q):
                    agg = g.agg(F.lit(float("nan")).alias("value"))
                elif q < 0:
                    agg = g.agg(F.lit(float("-inf")).alias("value"))
                elif q > 1:
                    agg = g.agg(F.lit(float("inf")).alias("value"))
                else:
                    agg = g.agg(
                        F.expr(f"percentile(value, {q})").alias("value")
                    )
            elif op == "stddev":
                agg = g.agg(F.stddev_pop("value").alias("value"))
            elif op == "stdvar":
                agg = g.agg(F.var_pop("value").alias("value"))
            else:  # pragma: no cover
                raise PqError(f"unknown aggregation {op}")

        facts = agg.select("instant", F.col("_gkey").alias("skey"), "value")
        gdim = dim_from_sig2(gmap.select("_gsig2").distinct(), "_gsig2")
        return VectorFrame(inner.grid, facts, gdim, inner.checks)

    # -- over-time functions -------------------------------------------------------

    def _plan_function(self, node: FunctionCall):
        name = node.name
        if name in AGG_OVER_TIME_FUNCS or (
            self.ctx.extensions and name in _STAT_OVER_TIME_FNS
        ):
            argnode = node.args[-1]
            q = float(node.args[0]) if name == "quantile_over_time" else None
            if (
                isinstance(argnode, VectorSelector)
                and argnode.duration_ms is not None
                and argnode.at_ms is None  # @-pinned windows take _at_fixed
                and math.ceil(argnode.duration_ms / self.ctx.interval_ms)
                > self.FANOUT_SWITCH
            ):
                # high window/interval ratio: fuse selector+function into a
                # sliding-window plan instead of materializing each point
                # ceil(range/interval) times (see _over_time_fused)
                return self._over_time_fused(name, argnode, q)
            arg = self.plan(argnode)
            if not isinstance(arg, RangeFrame):
                raise PqError(f"{name} expects a range vector")
            return self._over_time(name, arg, q)
        if self.ctx.extensions and name in EXTENSION_OVER_TIME_FUNCS:
            arg = self.plan(node.args[0])
            if not isinstance(arg, RangeFrame):
                raise PqError(f"{name} expects a range vector")
            return self._rate_family(name, arg)
        if self.ctx.extensions and name in ("clamp", "clamp_max", "clamp_min"):
            arg = self.plan(node.args[0])
            if not isinstance(arg, VectorFrame):
                raise PqError(f"{name} expects an instant vector")
            return self._clamp(name, arg, node.args[1:])
        if self.ctx.extensions and name == "label_replace":
            arg = self.plan(node.args[0])
            if not isinstance(arg, VectorFrame):
                raise PqError("label_replace expects an instant vector")
            return self._label_replace(arg, *node.args[1:5])
        if self.ctx.extensions and name == "vector":
            return self._vector_const(float(node.args[0]))
        if self.ctx.extensions and name in _MATH_FNS | _CALENDAR_FNS:
            arg = self.plan(node.args[0])
            if not isinstance(arg, VectorFrame):
                raise PqError(f"{name} expects an instant vector")
            return self._math_fn(name, arg)
        if self.ctx.extensions and name in ("absent", "absent_over_time"):
            return self._absent(node.args[0])
        if self.ctx.extensions and name == "timestamp":
            return self._timestamp(node.args[0])
        if self.ctx.extensions and name in _COUNT_OVER_TIME_FNS:
            arg = self.plan(node.args[0])
            if not isinstance(arg, RangeFrame):
                raise PqError(f"{name} expects a range vector")
            return self._resets_changes(name, arg)
        if self.ctx.extensions and name in _REGRESSION_FNS:
            arg = self.plan(node.args[0])
            if not isinstance(arg, RangeFrame):
                raise PqError(f"{name} expects a range vector")
            horizon = float(node.args[1]) if name == "predict_linear" else None
            return self._linear_regression(name, arg, horizon)
        if self.ctx.extensions and name == "label_join":
            arg = self.plan(node.args[0])
            if not isinstance(arg, VectorFrame):
                raise PqError("label_join expects an instant vector")
            return self._label_join(arg, node.args[1], node.args[2], node.args[3:])
        if self.ctx.extensions and name == "pi":
            return ScalarResult(math.pi)
        if self.ctx.extensions and name == "scalar":
            arg = self.plan(node.args[0])
            if not isinstance(arg, VectorFrame):
                raise PqError("scalar expects an instant vector")
            return self._scalar_of(arg)
        if self.ctx.extensions and name == "histogram_quantile":
            arg = self.plan(node.args[1])
            if not isinstance(arg, VectorFrame):
                raise PqError("histogram_quantile expects an instant vector")
            return self._histogram_quantile(float(node.args[0]), arg)
        if self.ctx.extensions and name in (
            "double_exponential_smoothing", "holt_winters"
        ):
            arg = self.plan(node.args[0])
            if not isinstance(arg, RangeFrame):
                raise PqError(f"{name} expects a range vector")
            sf_, tf_ = float(node.args[1]), float(node.args[2])
            if not (0 < sf_ < 1) or not (0 < tf_ < 1):
                raise PqError(
                    f"{name} smoothing factors must be in (0, 1)"
                )
            return self._holt_winters(arg, sf_, tf_)
        if self.ctx.extensions and name == "time":
            return self._time()
        # reference: create_func_evaluator panics "Coming soon..."
        # (function.rs:27) for clamp*/vector/label_replace
        raise PqError(f"function {name} is not implemented")

    def _vector_const(self, s: float) -> VectorFrame:
        """Extension (Prometheus ``vector(s)``): a single label-less series
        carrying ``s`` at every grid instant; the grid anchors on the full
        sample stream (a matcher-less selector)."""
        _, grid = self._grid_params(self.ctx.samples, self.ctx.lookback_ms)
        return labelless_vector(grid, grid.select("instant", F.lit(s).alias("value")))

    def _histogram_quantile(self, phi: float, vf: VectorFrame) -> VectorFrame:
        """Extension (Prometheus ``histogram_quantile(φ, v)``): per
        (instant, series-minus-le), linear interpolation of φ within the
        classic cumulative ``le`` buckets (functions.go bucketQuantile):

        - series group = labels minus ``le`` (and ``__name__``); series
          whose ``le`` doesn't parse as a float are dropped;
        - counts are clamped monotone non-decreasing in ``le`` order (the
          ensureMonotonic step — float-published cumulative counts can
          jitter downward);
        - rank = φ·count(+Inf); the first bucket whose count ≥ rank is
          interpolated from its lower edge; the +Inf bucket answers with
          the highest finite ``le``; a first bucket with ``le ≤ 0``
          answers its own ``le``;
        - malformed histograms (no +Inf bucket, fewer than 2 buckets, or
          zero observations) answer NaN (Prometheus rule);
        - φ = NaN → NaN, φ < 0 → −Inf, φ > 1 → +Inf per group.

        Plan shape: one broadcast dim join attaches (group key, le) to
        facts; all bucket logic runs in per-(instant, group) window
        functions — partitions are single-histogram sized (#buckets
        rows), so there is no skew surface; the group dim is rebuilt from
        the invertible sig2 on dim-sized rows (no label maps in
        aggregation buffers)."""
        from pyspark.sql import Window

        nan = F.lit(float("nan"))
        inf = float("inf")
        out_labels = _labels_without(F.col("labels"), ["le"])
        le_raw = F.col("labels").getItem("le")
        le_val = F.when(
            le_raw.isin("+Inf", "Inf", "inf", "+inf"), F.lit(inf)
        ).otherwise(le_raw.try_cast("double"))
        gmap = (
            vf.dim.select(
                "skey",
                le_val.alias("_le"),
                sig2_expr(out_labels).alias("_gsig2"),
            )
            .where(F.col("_le").isNotNull())
            .withColumn("_gsig", sig_from_sig2(F.col("_gsig2")))
            .withColumn("_gkey", series_key(F.col("_gsig")))
        )
        gdim = dim_from_sig2(gmap.select("_gsig2").distinct(), "_gsig2")
        joined = vf.facts.join(
            F.broadcast(gmap.select("skey", "_gkey", "_le")), "skey"
        ).select("instant", "_gkey", "_le", "value")

        if math.isnan(phi) or phi < 0 or phi > 1:
            const = nan if math.isnan(phi) else F.lit(-inf if phi < 0 else inf)
            facts = (
                joined.select("instant", "_gkey").distinct()
                .select("instant", F.col("_gkey").alias("skey"),
                        const.alias("value"))
            )
            return VectorFrame(vf.grid, facts, gdim, vf.checks)

        wp = Window.partitionBy("instant", "_gkey").orderBy("_le")
        wfull = Window.partitionBy("instant", "_gkey")
        f = (
            joined
            .withColumn(
                "_cnt",
                F.max("value").over(
                    wp.rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
            .withColumn("_ple", F.lag("_le").over(wp))
            .withColumn("_pcnt", F.lag("_cnt").over(wp))
            .withColumn(
                "_total",
                F.max(F.when(F.col("_le") == inf, F.col("_cnt"))).over(wfull),
            )
            .withColumn("_nb", F.count("*").over(wfull))
            .withColumn(
                "_maxfin",
                F.max(F.when(F.col("_le") != inf, F.col("_le"))).over(wfull),
            )
        )
        rank = F.lit(phi) * F.col("_total")
        malformed = (
            F.col("_total").isNull() | (F.col("_nb") < 2)
            | (F.col("_total") <= 0) | F.isnan(F.col("_total"))
        )
        first_ge = (F.col("_cnt") >= rank) & F.coalesce(
            F.col("_pcnt") < rank, F.lit(True)
        )
        pick = F.when(malformed, F.col("_ple").isNull()).otherwise(first_ge)
        bs = F.coalesce(F.col("_ple"), F.lit(0.0))
        cs = F.coalesce(F.col("_pcnt"), F.lit(0.0))
        interp = F.when(
            F.col("_cnt") > cs,
            bs + (F.col("_le") - bs) * (rank - cs) / (F.col("_cnt") - cs),
        ).otherwise(nan)  # zero-width bucket (rank == cs == cnt)
        res = (
            F.when(malformed, nan)
            .when(F.col("_le") == inf, F.col("_maxfin"))
            .when(F.col("_ple").isNull() & (F.col("_le") <= 0), F.col("_le"))
            .otherwise(interp)
        )
        facts = f.where(pick).select(
            "instant", F.col("_gkey").alias("skey"), res.alias("value")
        )
        return VectorFrame(vf.grid, facts, gdim, vf.checks)

    def _scalar_of(self, vf: VectorFrame) -> ScalarSeries:
        """Extension (Prometheus ``scalar(v)``): at every grid instant, the
        value of the argument's single series — NaN when it has zero or
        more than one series at that instant (the Prometheus rule). One
        tiny per-instant aggregate + a left join onto the grid."""
        nan = F.lit(float("nan"))
        agg = vf.facts.groupBy("instant").agg(
            F.count("*").alias("_n"), F.min("value").alias("_v")
        )
        facts = vf.grid.join(agg, "instant", "left").select(
            "instant",
            F.when(F.col("_n") == 1, F.col("_v")).otherwise(nan).alias("value"),
        )
        return ScalarSeries(vf.grid, facts, vf.checks)

    def _time(self) -> ScalarSeries:
        """Extension (Prometheus ``time()``): the evaluation instant in
        epoch seconds (ms instant / 1000, one exact double division); the
        grid anchors on the full sample stream like ``vector(s)``."""
        _, grid = self._grid_params(self.ctx.samples, self.ctx.lookback_ms)
        facts = grid.select(
            "instant", (F.col("instant") / F.lit(1000.0)).alias("value")
        )
        return ScalarSeries(grid, facts)

    def _absent(self, argnode) -> VectorFrame:
        """Extension (Prometheus ``absent(v)`` / ``absent_over_time(v[d])``):
        at every grid instant where the argument has NO series (no sample
        in its lookback/range window), emit a single sample of 1; where it
        has any, emit nothing. Both argument shapes carry per-instant
        facts, so one presence test serves both. The output series' labels
        are the argument selector's equality matchers minus ``__name__``
        (Prometheus rule; empty labels for non-selector arguments).

        Grid note: the result anchors on the FULL sample stream (like
        ``vector(s)``) — with ``--since`` set (the CLI/driver contract)
        every selector shares that anchor so presence aligns exactly;
        without it, per-selector anchors (the reference's own quirk) make
        cross-grid comparisons undefined anyway. Plan shape: one
        left-anti join of the (tiny, grid-sized) instant skeleton against
        the argument's distinct instants."""
        inner = self.plan(argnode)
        if not isinstance(inner, (VectorFrame, RangeFrame)):
            raise PqError("absent expects a vector argument")
        # drain horizon follows the ARGUMENT's window: for a range argument
        # the grid runs to tsmax + range − 1 (the last instant whose window
        # could still hold data), matching the selector-grid trailing-drain
        # rule; t0 is unaffected (min(lb, interval) saturates at interval)
        lb = self.ctx.lookback_ms
        if isinstance(argnode, VectorSelector) and argnode.duration_ms:
            lb = argnode.duration_ms
        _, grid = self._grid_params(self.ctx.samples, lb)
        present = inner.facts.select("instant").distinct()
        missing = grid.join(present, "instant", "left_anti")

        labels: dict[str, str] = {}
        if isinstance(argnode, VectorSelector):
            labels = {
                m.label: m.value for m in argnode.matchers
                if m.op == "=" and m.label != NAME_LABEL
            }
        keys = sorted(labels)
        label_expr = F.map_from_arrays(
            F.array(*[F.lit(k) for k in keys]).cast("array<string>"),
            F.array(*[F.lit(labels[k]) for k in keys]).cast("array<string>"),
        )
        sigc = sig_expr(label_expr)
        skey = series_key(sigc)
        facts = missing.select(
            "instant", skey.alias("skey"), F.lit(1.0).alias("value")
        )
        dim = grid.limit(1).select(
            skey.alias("skey"), sigc.alias("sig"),
            label_expr.alias("labels"), sigc.alias("ord"),
        )
        return VectorFrame(grid, facts, dim, inner.checks)

    def _timestamp(self, argnode) -> VectorFrame:
        """Extension (Prometheus ``timestamp(v)``): the timestamp of each
        series' latest sample in the lookback window, in SECONDS with ms
        fraction, metric name dropped. Implemented by substituting
        ``value := ts / 1000`` on the sample source BEFORE the selector
        plan runs: the serving gap-fill already picks the latest sample
        per (instant, series), and that sample's value IS its timestamp —
        no new plan shape, the standard selector explode/window strategy
        applies unchanged (ms/1000.0 is one correctly-rounded double
        division, bit-reproducible in any engine)."""
        if not isinstance(argnode, VectorSelector) or argnode.duration_ms:
            raise PqError("timestamp expects an instant vector selector")
        swapped = replace(
            self.ctx,
            samples=self.ctx.samples.withColumn(
                "value", F.col("ts") / F.lit(1000.0)
            ),
        )
        saved, self.ctx = self.ctx, swapped
        try:
            inner = self.plan(argnode)
        finally:
            self.ctx = saved
        return VectorFrame(
            inner.grid, inner.facts, self._dropname_dim(inner.dim),
            inner.checks,
        )

    @staticmethod
    def _dropname_dim(dim: DataFrame, keep_ord: bool = False) -> DataFrame:
        """Dim rewrite: drop __name__, re-sign. The output order is the
        ORIGINAL series sig (the reference emits in input-series order),
        or with ``keep_ord`` the dim's existing ord."""
        return _relabeled(
            dim, _labels_without(F.col("labels"), []),
            "ord" if keep_ord else F.col("sig").alias("ord"),
        )

    def _over_time(self, name: str, rf: RangeFrame, q: float | None = None) -> VectorFrame:
        facts = rf.facts.groupBy("instant", "skey").agg(
            self._over_time_val(name, q).alias("value")
        )
        return VectorFrame(rf.grid, facts, self._dropname_dim(rf.dim), rf.checks)

    @staticmethod
    def _over_time_val(name: str, q: float | None, w=None):
        """The value expression of an over-time function, grouped (w=None)
        or windowed over ``w``. The statistical extensions use population
        moments (Prometheus uses stddev/stdvar over the window
        population); quantile is the exact interpolated percentile
        (Prometheus's linear-interpolation quantile == SQL
        percentile_cont), with the Prometheus out-of-range rule
        φ<0 → −Inf, φ>1 → +Inf."""
        def over(c):
            return c.over(w) if w is not None else c

        if name == "count_over_time":
            return over(F.count("value")).cast("double")
        if name == "sum_over_time":
            return over(F.sum("value"))
        if name == "min_over_time":
            return over(F.min("value"))
        if name == "max_over_time":
            return over(F.max("value"))
        if name == "avg_over_time":
            return over(F.sum("value")) / over(F.count("value"))
        if name == "last_over_time":
            # reference quirk: iterates the DESC-ordered window and takes
            # .last() ⇒ the OLDEST point (function.rs:56 + vector.rs:235),
            # diverging from Prometheus. Replicate with min_by over the
            # packed ordering key (HashAggregate-friendly; in a window it
            # ignores the skeleton rows' null ordering keys).
            return over(F.min_by("value", "_okey"))
        if name == "present_over_time":
            # 1 for any non-empty window; empty windows never reach here
            # (grouped: group requires a point; fused: the _n >= 1 filter)
            return F.lit(1.0)
        if name == "stddev_over_time":
            return over(F.stddev_pop("value"))
        if name == "stdvar_over_time":
            return over(F.var_pop("value"))
        if name == "mad_over_time":
            # median absolute deviation: median(|x − median(x)|), both
            # medians linear-interpolated (Prometheus quantile(0.5) ==
            # percentile_cont). One collect_list (window point count ≤
            # ceil(range/scrape) — the same bound as the irate/holt
            # collect pattern), all array math JVM-side. The collected
            # list is null-free (skeleton rows carry null values, which
            # collect_list drops — same contract count/sum rely on).
            # the sorted window array and its median are BOUND as lambda
            # variables (one-element transform) before the deviation
            # pass: an expression captured inside a HOF lambda is
            # re-evaluated per element (PLANS.md §12 item 8), and `m`
            # captured directly would re-fold the median once per point
            # — O(n²) in window point count.
            a = F.sort_array(over(F.collect_list("value")))
            bound = F.transform(
                F.array(a),
                lambda aa: F.transform(
                    F.array(_arr_median(aa)),
                    lambda mm: _arr_median(
                        F.sort_array(
                            F.transform(aa, lambda v: F.abs(v - mm))
                        )
                    ),
                ),
            )
            return F.element_at(F.element_at(bound, 1), 1)
        if name != "quantile_over_time":  # pragma: no cover
            raise PqError(f"unknown over-time function {name}")
        # NaN first: it passes both range guards (NaN<0 and NaN>1 are
        # false) but Spark's percentile rejects it — Prometheus says NaN
        if math.isnan(q):
            return F.lit(float("nan"))
        if q < 0:
            return F.lit(float("-inf"))
        if q > 1:
            return F.lit(float("inf"))
        return over(F.percentile("value", F.lit(q)))

    def _over_time_fused(
        self, name: str, sel: VectorSelector, q: float | None = None
    ) -> VectorFrame:
        """High-fanout over-time functions (range ≫ interval): instead of
        exploding every sample into ceil(range/interval) window copies,
        compute the function as a per-series SLIDING RANGE window over the
        skeleton carry (``_skeleton_carry``: samples ∪ series × grid
        instants, partitioned by (skey, range-wide block)). Equivalence
        with the explode path, incl. the last_over_time oldest-point quirk,
        is pinned by a force-both-paths test."""
        lookback = sel.duration_ms
        matched, params, grid, sel_dim = self._selector_parts(sel, lookback)
        unioned, part = self._skeleton_carry(matched, grid, sel_dim, lookback)
        w = part.orderBy("ts").rangeBetween(-(lookback - 1), 0)
        carried = (
            unioned
            .withColumn("_val", self._over_time_val(name, q, w))
            .withColumn("_n", F.count("value").over(w))
        )
        facts = carried.filter(
            (F.col("_isinst") == 1) & (F.col("_n") >= 1)
        ).select(F.col("ts").alias("instant"), "skey", F.col("_val").alias("value"))
        return VectorFrame(grid, facts, self._dropname_dim(sel_dim))

    def _rate_family(self, name: str, rf: RangeFrame) -> VectorFrame:
        """Extension (NOT in the reference engine): PromQL-style rate family
        computed as first/last deltas over the same window groups. All
        first/last picks use the packed ``_okey`` long (HashAggregate)."""
        out_dim = self._dropname_dim(rf.dim)
        if name in ("irate", "idelta"):
            # needs the last two points: sorted window arrays keyed by _okey
            pts = rf.facts.groupBy("instant", "skey").agg(
                F.sort_array(F.collect_list(F.struct("_okey", "ts", "value"))).alias("_pts"),
            ).filter(F.size("_pts") >= 2)
            lastp = F.element_at("_pts", -1)
            prevp = F.element_at("_pts", -2)
            d = lastp.getField("value") - prevp.getField("value")
            if name == "idelta":
                v = d
            else:
                v = d / ((lastp.getField("ts") - prevp.getField("ts")) / F.lit(1000.0))
            facts = pts.select("instant", "skey", v.alias("value"))
            return VectorFrame(rf.grid, facts, out_dim, rf.checks)

        agg = rf.facts.groupBy("instant", "skey").agg(
            F.min_by("value", "_okey").alias("_fv"),
            F.max_by("value", "_okey").alias("_lv"),
            F.min("ts").alias("_ft"),
            F.max("ts").alias("_lt"),
            F.count("value").alias("_n"),
        ).filter(F.col("_n") >= 2)
        span_s = (F.col("_lt") - F.col("_ft")) / F.lit(1000.0)
        delta = F.col("_lv") - F.col("_fv")
        if name in ("increase", "delta"):
            val = delta
        elif name == "rate":
            # zero-span windows (all points at one ms) yield no sample
            agg = agg.filter(F.col("_lt") > F.col("_ft"))
            val = delta / span_s
        else:  # pragma: no cover
            raise PqError(name)
        facts = agg.select("instant", "skey", val.alias("value"))
        return VectorFrame(rf.grid, facts, out_dim, rf.checks)

    def _resets_changes(self, name: str, rf: RangeFrame) -> VectorFrame:
        """Extension (Prometheus ``resets``/``changes``): pairwise scan of
        the window's points in (ts, seq) order — resets counts strict
        decreases, changes counts value changes. NaN semantics: Spark's
        ``NaN = NaN`` is TRUE, so a NaN→NaN step is not a change — exactly
        Prometheus's ``!(isNaN(a) && isNaN(b))`` carve-out — but Spark
        ORDERS NaN above every value (``7 < NaN`` is true, where Go says
        false), so resets guards both operands with isnan explicitly.
        Plan shape: one ObjectHashAggregate (sorted collect_list, the irate
        pattern) + a JVM zip_with/filter over consecutive pairs; a window
        with one point emits 0."""
        pts = rf.facts.groupBy("instant", "skey").agg(
            F.sort_array(F.collect_list(F.struct("_okey", "value"))).alias("_pts")
        )
        vals = F.transform(F.col("_pts"), lambda p: p.getField("value"))
        n = F.size(vals)
        prev = F.slice(vals, F.lit(1), n - 1)
        cur = F.slice(vals, F.lit(2), n - 1)
        if name == "resets":
            flags = F.zip_with(
                prev, cur,
                lambda a, b: (b < a) & ~F.isnan(a) & ~F.isnan(b),
            )
        else:
            flags = F.zip_with(prev, cur, lambda a, b: b != a)
        val = F.size(F.filter(flags, lambda x: x)).cast("double")
        facts = pts.select("instant", "skey", val.alias("value"))
        return VectorFrame(rf.grid, facts, self._dropname_dim(rf.dim), rf.checks)

    def _holt_winters(self, rf: RangeFrame, sf_: float, tf_: float) -> VectorFrame:
        """Extension (Prometheus ``double_exponential_smoothing`` /
        ``holt_winters``): Holt's linear smoothing over the window's
        points in (ts, seq) order — s₀ = v₀, b₀ = v₁ − v₀, then
        sᵢ = sf·vᵢ + (1−sf)(sᵢ₋₁ + bᵢ₋₁),
        bᵢ = tf·(sᵢ − sᵢ₋₁) + (1−tf)·bᵢ₋₁; answer sₙ₋₁; windows with
        fewer than 2 points emit nothing (functions.go).

        The fold is SEQUENTIAL by definition — but over the same sorted
        point list in both engines it is bit-deterministic (every step is
        the same correctly-rounded double ops in the same order), so a
        DuckDB list_reduce oracle reproduces it exactly: this is the
        one iterative over-time function that still gets a value-hash
        oracle. Plan shape: the irate pattern (one ObjectHashAggregate
        sorted collect_list) + a JVM F.aggregate fold."""
        one_sf = 1.0 - sf_
        one_tf = 1.0 - tf_
        pts = rf.facts.groupBy("instant", "skey").agg(
            F.sort_array(F.collect_list(F.struct("_okey", "value"))).alias("_p")
        )
        vals = F.transform(F.col("_p"), lambda p: p.getField("value"))
        pts = pts.withColumn("_vs", vals).filter(F.size("_vs") >= 2)
        v0 = F.element_at("_vs", 1)
        v1 = F.element_at("_vs", 2)
        init = F.struct(
            v0.cast("double").alias("s"), (v1 - v0).cast("double").alias("b")
        )

        def step(acc, x):
            s_new = F.lit(sf_) * x + F.lit(one_sf) * (
                acc.getField("s") + acc.getField("b")
            )
            b_new = F.lit(tf_) * (s_new - acc.getField("s")) + F.lit(
                one_tf
            ) * acc.getField("b")
            return F.struct(s_new.alias("s"), b_new.alias("b"))

        rest = F.slice(F.col("_vs"), F.lit(2), F.size("_vs") - 1)
        state = F.aggregate(rest, init, step)
        facts = pts.select(
            "instant", "skey", state.getField("s").alias("value")
        )
        return VectorFrame(rf.grid, facts, self._dropname_dim(rf.dim), rf.checks)

    def _linear_regression(
        self, name: str, rf: RangeFrame, horizon_s: float | None
    ) -> VectorFrame:
        """Extension (Prometheus ``deriv``/``predict_linear``): simple
        least-squares over the window's (t, v) points with t measured in
        seconds RELATIVE TO THE WINDOW-END INSTANT — mathematically the
        slope is offset-invariant, and the offset keeps ``n·Σt² − (Σt)²``
        away from the catastrophic cancellation raw epoch seconds would
        cause (1.7e9² eats all 15 significand digits); the intercept at
        t = 0 is then the regressed value AT the instant, so
        ``predict_linear(v[d], h) = intercept + slope·h`` directly
        (Prometheus anchors its regression at the eval timestamp the same
        way). Algebraic sums only — one HashAggregate, no sort. Windows
        need ≥ 2 points with ≥ 2 distinct timestamps (a Prometheus series
        can't repeat a timestamp; with them the variance is 0 and the
        slope undefined — such windows emit nothing, documented
        refinement)."""
        t = (F.col("ts") - F.col("instant")) / F.lit(1000.0)
        agg = rf.facts.groupBy("instant", "skey").agg(
            F.count("value").alias("_n"),
            F.sum(t).alias("_st"),
            F.sum(t * t).alias("_stt"),
            F.sum("value").alias("_sv"),
            F.sum(t * F.col("value")).alias("_stv"),
        ).filter(F.col("_n") >= 2)
        den = F.col("_n") * F.col("_stt") - F.col("_st") * F.col("_st")
        agg = agg.filter(den != 0)
        slope = (F.col("_n") * F.col("_stv") - F.col("_st") * F.col("_sv")) / den
        if name == "deriv":
            val = slope
        else:
            intercept = (F.col("_sv") - slope * F.col("_st")) / F.col("_n")
            val = intercept + slope * F.lit(horizon_s)
        facts = agg.select("instant", "skey", val.alias("value"))
        return VectorFrame(rf.grid, facts, self._dropname_dim(rf.dim), rf.checks)

    def _label_join(
        self, vf: VectorFrame, dst: str, sep: str, srcs: list[str]
    ) -> VectorFrame:
        """Extension (Prometheus ``label_join``): set ``dst`` to the
        ``sep``-joined values of the source labels (missing sources join
        as empty strings); a resulting empty value REMOVES ``dst`` (the
        empty-label-is-absent rule label_replace also follows). Pure
        dim-side rewrite — facts untouched."""
        vals = [
            F.coalesce(F.col("labels").getItem(s), F.lit("")) for s in srcs
        ]
        new_val = F.concat_ws(sep, *vals)
        without_dst = F.map_filter(
            F.col("labels"), lambda k, _: k != F.lit(dst)
        )
        out_labels = F.when(
            new_val != "",
            F.map_concat(without_dst, F.create_map(F.lit(dst), new_val)),
        ).otherwise(without_dst)
        return VectorFrame(
            vf.grid, vf.facts, _relabeled(vf.dim, out_labels), vf.checks
        )

    def _label_replace(
        self, vf: VectorFrame, dst: str, replacement: str, src: str, regex: str
    ) -> VectorFrame:
        """Extension (Prometheus semantics): when ``regex`` fully matches
        the ``src`` label value, set ``dst`` to ``replacement`` with $N
        capture references; otherwise the sample passes unchanged. Pure
        dim-side rewrite — facts untouched."""
        anchored = f"^(?:{regex})$"
        src_val = F.coalesce(F.col("labels").getItem(src), F.lit(""))
        new_val = F.regexp_replace(src_val, anchored, replacement)
        matched = src_val.rlike(anchored)
        out_labels = F.when(
            matched & (new_val != ""),
            F.map_concat(
                F.map_filter(F.col("labels"), lambda k, _: k != F.lit(dst)),
                F.create_map(F.lit(dst), new_val),
            ),
        ).when(
            matched & (new_val == ""),
            F.map_filter(F.col("labels"), lambda k, _: k != F.lit(dst)),
        ).otherwise(F.col("labels"))
        return VectorFrame(
            vf.grid, vf.facts, _relabeled(vf.dim, out_labels), vf.checks
        )

    def _clamp(self, name: str, vf: VectorFrame, args: list) -> VectorFrame:
        v = F.col("value")
        if name == "clamp":
            mn, mx = float(args[0]), float(args[1])
            v = F.least(F.greatest(v, F.lit(mn)), F.lit(mx))
        elif name == "clamp_max":
            v = F.least(v, F.lit(float(args[0])))
        else:
            v = F.greatest(v, F.lit(float(args[0])))
        facts = vf.facts.withColumn("value", v)
        return VectorFrame(
            vf.grid, facts, self._dropname_dim(vf.dim, keep_ord=True), vf.checks
        )

    def _math_fn(self, name: str, vf: VectorFrame) -> VectorFrame:
        """Extension (Prometheus math functions; the reference's evaluator
        panics for every function it lacks — function.rs:27). Elementwise
        value transform + metric-name drop, like clamp. ANSI-survival and
        IEEE quirks handled explicitly:

        - ceil/floor/round go through a ``|v| ≥ 2^52`` pass-through guard:
          doubles that large are already integers, and Spark's
          ceil/floor(double) → LONG would overflow (ANSI: throw) on them;
          the guard also passes NaN/±Inf through unchanged, which is the
          Prometheus behavior and keeps the LONG cast total.
        - round() is Prometheus round-half-UP: floor(v + 0.5), not Java/SQL
          HALF_AWAY_FROM_ZERO (they differ at negative .5 ties: Prometheus
          round(-2.5) = -2).
        - ln/log2/log10 need explicit branches (Spark returns NULL for
          non-positive input where Prometheus wants log(0) = -Inf and
          log(<0) = NaN); the otherwise-branch also forwards NaN inputs.
        - sqrt(<0) = NaN explicitly (ANSI sessions may otherwise error)."""
        v = F.col("value")
        nan, ninf = F.lit(float("nan")), F.lit(float("-inf"))

        def intish(fn):
            return F.when(
                F.isnan(v) | (F.abs(v) >= F.lit(2.0 ** 52)), v
            ).otherwise(fn(v).cast("double"))

        def logish(fn):
            return (
                F.when(v > 0, fn(v)).when(v == 0, ninf)
                .otherwise(nan)
            )

        def calendar(field_fn):
            # Prometheus calendar fns read the VALUE as epoch seconds
            # (UTC session): truncate toward zero like Go's int64(v), guard
            # the long casts to |v| < 1e11 (~year 5138) — beyond that (or
            # NaN/±Inf) the result is NaN, keeping ANSI sessions total
            secs = F.when(v >= 0, F.floor(v)).otherwise(F.ceil(v))
            ts = F.timestamp_seconds(secs)
            return F.when(
                ~F.isnan(v) & (F.abs(v) < F.lit(1e11)),
                field_fn(ts).cast("double"),
            ).otherwise(nan)

        exprs = {
            "abs": lambda: F.abs(v),
            "ceil": lambda: intish(F.ceil),
            "floor": lambda: intish(F.floor),
            "round": lambda: F.when(
                F.isnan(v) | (F.abs(v) >= F.lit(2.0 ** 52)), v
            ).otherwise(F.floor(v + F.lit(0.5)).cast("double")),
            "sqrt": lambda: F.when(v < 0, nan).otherwise(F.sqrt(v)),
            "exp": lambda: F.exp(v),
            "ln": lambda: logish(F.log),
            "log2": lambda: logish(F.log2),
            "log10": lambda: logish(F.log10),
            "sgn": lambda: F.signum(v),
            # trigonometry: libm pass-through (asin/acos/acosh/atanh give
            # NaN outside their domains in both Spark and Prometheus)
            "sin": lambda: F.sin(v),
            "cos": lambda: F.cos(v),
            "tan": lambda: F.tan(v),
            "asin": lambda: F.asin(v),
            "acos": lambda: F.acos(v),
            "atan": lambda: F.atan(v),
            "sinh": lambda: F.sinh(v),
            "cosh": lambda: F.cosh(v),
            "tanh": lambda: F.tanh(v),
            "asinh": lambda: F.asinh(v),
            "acosh": lambda: F.acosh(v),
            "atanh": lambda: F.atanh(v),
            "deg": lambda: F.degrees(v),
            "rad": lambda: F.radians(v),
            "minute": lambda: calendar(F.minute),
            "hour": lambda: calendar(F.hour),
            # Prometheus: Sunday = 0; Spark dayofweek: Sunday = 1
            "day_of_week": lambda: calendar(lambda t: F.dayofweek(t) - F.lit(1)),
            "day_of_month": lambda: calendar(F.dayofmonth),
            "day_of_year": lambda: calendar(F.dayofyear),
            "days_in_month": lambda: calendar(
                lambda t: F.dayofmonth(F.last_day(t))
            ),
            "month": lambda: calendar(F.month),
            "year": lambda: calendar(F.year),
        }
        facts = vf.facts.withColumn("value", exprs[name]())
        return VectorFrame(
            vf.grid, facts, self._dropname_dim(vf.dim, keep_ord=True), vf.checks
        )

    # -- binary ----------------------------------------------------------------

    def _plan_binary(self, node: BinaryOperation):
        lhs = self.plan(node.lhs)
        rhs = self.plan(node.rhs)
        kind = op_kind(node.op)

        if isinstance(lhs, RangeFrame) or isinstance(rhs, RangeFrame):
            raise PqError(
                f"binary operation over range vectors is not supported"
            )

        if isinstance(lhs, ScalarResult) and isinstance(rhs, ScalarResult):
            if kind == "comparison" and not node.bool_modifier:
                raise PqError("comparisons between scalars must use the bool modifier")
            if kind == "logical":
                raise PqError("logical operators are not supported between scalars")
            return ScalarResult(
                scalar_binop(node.op, lhs.value, rhs.value), lhs.checks + rhs.checks
            )

        if kind == "logical":
            if not self.ctx.extensions:
                # parse-only in the reference: the evaluator panics on the
                # first matched pair (binary.rs:350)
                raise PqError(f"logical operator {node.op} is not implemented")
            return self._logical(node, lhs, rhs)

        # per-instant scalars (extension: scalar(v)/time()): lift a constant
        # scalar to a ScalarSeries when paired with one, else join by instant
        if isinstance(lhs, ScalarSeries) or isinstance(rhs, ScalarSeries):
            if isinstance(lhs, ScalarResult):
                lhs = self._const_series(rhs.grid, lhs)
            if isinstance(rhs, ScalarResult):
                rhs = self._const_series(lhs.grid, rhs)
            if isinstance(lhs, ScalarSeries) and isinstance(rhs, ScalarSeries):
                return self._scalar_series_pair(node, lhs, rhs)
            if isinstance(lhs, ScalarSeries):
                return self._scalar_series_vector(node, lhs, rhs, scalar_on_left=True)
            return self._scalar_series_vector(node, rhs, lhs, scalar_on_left=False)

        if isinstance(lhs, ScalarResult):
            return self._scalar_vector(node, lhs.value, rhs, scalar_on_left=True)
        if isinstance(rhs, ScalarResult):
            return self._scalar_vector(node, rhs.value, lhs, scalar_on_left=False)
        return self._vector_vector(node, lhs, rhs)

    @staticmethod
    def _with_binop_value(
        node: BinaryOperation, df: DataFrame, l: Column, r: Column,
        out: str, kept: Column | None = None,
    ) -> DataFrame:
        """``df`` with the op's result in column ``out``: arithmetic
        computes it; a bool comparison gives 1/0; a filter-mode comparison
        keeps the rows it holds for, with ``kept`` as the value when given.
        vector⊗vector keeps the LEFT value (binary.rs:304 comp_value=ls);
        vector⊗scalar keeps the VECTOR side's sample value, already in
        ``out`` (binary.rs:156-158,216-218 comp_value = s)."""
        if op_kind(node.op) != "comparison":
            return df.withColumn(out, _binop_col(node.op, l, r))
        pred = _compare_pred(node.op, l, r)
        if node.bool_modifier:
            return df.withColumn(
                out, F.when(pred, F.lit(1.0)).otherwise(F.lit(0.0))
            )
        df = df.filter(pred)
        return df if kept is None else df.withColumn(out, kept)

    @staticmethod
    def _const_series(grid: DataFrame, s: ScalarResult) -> ScalarSeries:
        facts = grid.select("instant", F.lit(s.value).alias("value"))
        return ScalarSeries(grid, facts, s.checks)

    def _scalar_series_pair(
        self, node: BinaryOperation, lhs: ScalarSeries, rhs: ScalarSeries
    ) -> ScalarSeries:
        kind = op_kind(node.op)
        if kind == "comparison" and not node.bool_modifier:
            raise PqError("comparisons between scalars must use the bool modifier")
        if kind == "logical":
            raise PqError("logical operators are not supported between scalars")
        grid = self._grid_merge(lhs.grid, rhs.grid)
        joined = (
            lhs.facts.withColumnRenamed("value", "_l")
            .join(rhs.facts.withColumnRenamed("value", "_r"), "instant")
        )
        l, r = F.col("_l"), F.col("_r")
        if kind == "comparison":
            pred = _compare_pred(node.op, l, r)
            v = F.when(pred, F.lit(1.0)).otherwise(F.lit(0.0))
        else:
            v = _binop_col(node.op, l, r)
        return ScalarSeries(
            grid, joined.select("instant", v.alias("value")),
            lhs.checks + rhs.checks,
        )

    def _scalar_series_vector(
        self, node: BinaryOperation, ss: ScalarSeries, vf: VectorFrame,
        scalar_on_left: bool,
    ) -> VectorFrame:
        """Vector ⊗ per-instant scalar: the _scalar_vector semantics with
        the scalar joined by instant (its facts are grid-sized → broadcast).
        The output grid is the two-pointer merge, like vector⊗vector.

        Misaligned-grid convention (deliberate, mirrors _vector_vector):
        the inner join on instant means vector samples at instants absent
        from the scalar's grid evaluate to empty vectors — per-selector
        anchors produce per-selector grids in this engine (planner grid
        anchoring, golden arithmetic_015), NOT Prometheus's single shared
        evaluation grid, so ``v ⊗ scalar(w)`` over differently-anchored
        selectors drops the non-shared instants exactly as ``v ⊗ w`` does.
        Same-expression grids (the only case the reference's scenarios
        exercise) are always aligned, where the join is lossless."""
        kind = op_kind(node.op)
        keep_name = kind == "comparison" and not node.bool_modifier
        grid = self._grid_merge(vf.grid, ss.grid)
        facts = vf.facts.join(
            F.broadcast(ss.facts.withColumnRenamed("value", "_s")), "instant"
        )
        s, v = F.col("_s"), F.col("value")
        l, r = (s, v) if scalar_on_left else (v, s)
        facts = self._with_binop_value(node, facts, l, r, "value").drop("_s")
        dim = vf.dim if keep_name else self._dropname_dim(vf.dim, keep_ord=True)
        return VectorFrame(
            grid, facts, dim, vf.checks + ss.checks
        )

    def _scalar_vector(
        self, node: BinaryOperation, scalar: float, vf: VectorFrame, scalar_on_left: bool
    ) -> VectorFrame:
        kind = op_kind(node.op)
        keep_name = kind == "comparison" and not node.bool_modifier
        s = F.lit(scalar)
        v = F.col("value")
        l, r = (s, v) if scalar_on_left else (v, s)
        facts = self._with_binop_value(node, vf.facts, l, r, "value")
        dim = vf.dim if keep_name else self._dropname_dim(vf.dim, keep_ord=True)
        return VectorFrame(vf.grid, facts, dim, vf.checks)

    def _grid_merge(self, lgrid: DataFrame, rgrid: DataFrame) -> DataFrame:
        """Aligned output grid of a vector⊗vector op: the two-pointer merge
        in the reference (binary.rs:268-295) emits every instant of either
        grid up to min(max(L), max(R)) — empty vectors where misaligned."""
        lmax = lgrid.agg(F.max("instant").alias("_lmax"))
        rmax = rgrid.agg(F.max("instant").alias("_rmax"))
        cutoff = F.broadcast(lmax.crossJoin(rmax))
        return (
            lgrid.union(rgrid)
            .distinct()
            .crossJoin(cutoff)
            .filter(
                F.col("_lmax").isNotNull()
                & F.col("_rmax").isNotNull()
                & (F.col("instant") <= F.least("_lmax", "_rmax"))
            )
            .select("instant")
        )

    @staticmethod
    def _match_map(dim: DataFrame, matching) -> DataFrame:
        """Dim-side matching-label algebra: skey → (mkey, msig, mlabels),
        computed once per series."""
        ml = match_labels_expr(F.col("labels"), matching)
        return (
            dim.withColumn("_mlabels", ml)
            .withColumn("_msig", sig_expr(F.col("_mlabels")))
            .withColumn("_mkey", series_key(F.col("_msig")))
        )

    def _vector_vector(
        self, node: BinaryOperation, lhs: VectorFrame, rhs: VectorFrame
    ) -> VectorFrame:
        if node.group_modifier is not None:
            # parsed but unimplemented in the reference (value.rs:131-150);
            # extension implements Prometheus many-to-one semantics
            if not self.ctx.extensions:
                raise PqError("group_left/group_right matching is not implemented")
            return self._vector_vector_grouped(node, lhs, rhs)

        kind = op_kind(node.op)
        keep_name = kind == "comparison" and not node.bool_modifier
        matching = node.label_matching

        grid = self._grid_merge(lhs.grid, rhs.grid)

        lmap = self._match_map(lhs.dim, matching)
        rmap = self._match_map(rhs.dim, matching)
        # the join exchange moves (instant, mkey, skey, value) — longs and
        # doubles only; the 1:1 match key is the 64-bit mkey
        lf = lhs.facts.join(F.broadcast(lmap.select("skey", "_mkey")), "skey").select(
            "instant", "skey", "_mkey", F.col("value").alias("_lvalue")
        )
        rf = rhs.facts.join(F.broadcast(rmap.select("skey", "_mkey")), "skey").select(
            "instant", "_mkey", F.col("value").alias("_rvalue")
        )

        joined = lf.join(rf, ["instant", "_mkey"], "inner")

        l = F.col("_lvalue")
        joined = self._with_binop_value(
            node, joined, l, F.col("_rvalue"), "_value", kept=l
        )
        facts = joined.select("instant", "skey", F.col("_value").alias("value"))

        # output labels: the matching labels (+ the lhs __name__ for
        # filter-mode comparisons) — a dim-side rewrite of the lhs dim
        lname = F.col("labels").getItem(NAME_LABEL)
        if keep_name:
            out_labels = F.when(
                lname.isNotNull(),
                F.map_concat(
                    F.col("_mlabels"), F.create_map(F.lit(NAME_LABEL), lname)
                ),
            ).otherwise(F.col("_mlabels"))
        else:
            out_labels = F.col("_mlabels")
        out_dim = _relabeled(lmap, out_labels)

        checks = list(lhs.checks) + list(rhs.checks)
        if self.ctx.strict:
            # duplicate series on the build (rhs) side at aligned instants
            # (value.rs:86-92); many-to-one after matching (value.rs:114-116)
            common = rf.join(lhs.grid, "instant", "left_semi")
            dup_rhs = (
                common.groupBy("instant", "_mkey").count().filter(F.col("count") > 1)
            )
            checks.append(
                Check(dup_rhs, "Found series collision for matching labels")
            )
            dup_match = (
                joined.groupBy("instant", "_mkey").count().filter(F.col("count") > 1)
            )
            checks.append(
                Check(
                    dup_match,
                    "Many-to-one matching detected! If it's desired, use explicit "
                    "group_left/group_right modifier",
                )
            )
        return VectorFrame(grid, facts, out_dim, checks)

    def _vector_vector_grouped(
        self, node: BinaryOperation, lhs: VectorFrame, rhs: VectorFrame
    ) -> VectorFrame:
        """Extension: Prometheus group_left/group_right (many-to-one).

        The 'many' side keeps its full label set (minus __name__ for
        arithmetic); listed include-labels are copied over from the 'one'
        side; the 'one' side must be unique per (instant, match-key).

        Output identity is the (many-series, one-series) PAIR — include-label
        copying makes labels depend on both sides — so the output skey is
        hash(many skey, one skey) and the pair dim is built from the two
        series dims joined on the distinct observed pairs (dim-sized work;
        the fact join itself stays all-longs)."""
        kind, include = node.group_modifier
        matching = node.label_matching
        keep_name = op_kind(node.op) == "comparison" and not node.bool_modifier

        many, one = (lhs, rhs) if kind == "left" else (rhs, lhs)
        grid = self._grid_merge(lhs.grid, rhs.grid)

        mmap = self._match_map(many.dim, matching)
        omap = self._match_map(one.dim, matching)
        mf = many.facts.join(F.broadcast(mmap.select("skey", "_mkey")), "skey").select(
            "instant", F.col("skey").alias("_mskey"), "_mkey",
            F.col("value").alias("_mvalue"),
        )
        of = one.facts.join(F.broadcast(omap.select("skey", "_mkey")), "skey").select(
            "instant", F.col("skey").alias("_oskey"), "_mkey",
            F.col("value").alias("_ovalue"),
        )
        joined = mf.join(of, ["instant", "_mkey"])

        l, r = (
            (F.col("_mvalue"), F.col("_ovalue"))
            if kind == "left"
            else (F.col("_ovalue"), F.col("_mvalue"))
        )
        joined = self._with_binop_value(node, joined, l, r, "_value", kept=l)

        pkey = F.xxhash64("_mskey", "_oskey")
        facts = joined.select(
            "instant", pkey.alias("skey"), F.col("_value").alias("value")
        )

        # pair dim: (many, one) pairs that CAN match, derived from the two
        # match maps — dim-sized work (≤ |many| rows under the unique-one
        # contract), so the fact-scale join above runs exactly once, for
        # the facts. Pairs that never co-occur at an instant produce
        # harmless extra dim rows that no fact references. (Persisting
        # `joined` instead would cache a fact-scale relation for the whole
        # session — prohibitive at the design scale.)
        pairs = (
            mmap.select(F.col("skey").alias("_mskey"), "_mkey")
            .join(omap.select(F.col("skey").alias("_oskey"), "_mkey"), "_mkey")
            .select("_mskey", "_oskey")
            .distinct()
        )
        mdim = many.dim.select(
            F.col("skey").alias("_mskey"),
            F.col("labels").alias("_mlabels_full"),
            F.col("ord").alias("_mord"),
        )
        odim = one.dim.select(
            F.col("skey").alias("_oskey"), F.col("labels").alias("_olabels")
        )
        pdim = pairs.join(F.broadcast(mdim), "_mskey").join(F.broadcast(odim), "_oskey")

        def _drop_key(m, key):
            def fn(k, _):
                return k != F.lit(key)

            return F.map_filter(m, fn)

        out_labels = F.col("_mlabels_full")
        if not keep_name:
            out_labels = _drop_key(out_labels, NAME_LABEL)
        for lbl in include:
            ov = F.col("_olabels").getItem(lbl)
            out_labels = F.when(
                ov.isNotNull(),
                F.map_concat(_drop_key(out_labels, lbl), F.create_map(F.lit(lbl), ov)),
            ).otherwise(_drop_key(out_labels, lbl))

        out_dim = pdim.select(
            F.xxhash64("_mskey", "_oskey").alias("skey"),
            sig_expr(out_labels).alias("sig"),
            out_labels.alias("labels"),
            F.col("_mord").alias("ord"),
        )

        checks = list(lhs.checks) + list(rhs.checks)
        if self.ctx.strict:
            dup_one = of.groupBy("instant", "_mkey").count().filter(F.col("count") > 1)
            checks.append(Check(dup_one, "multiple matches on the 'one' side"))
        return VectorFrame(grid, facts, out_dim, checks)

    def _logical(self, node: BinaryOperation, lhs, rhs) -> VectorFrame:
        """Extension semantics (Prometheus-style and/unless/or) — the
        reference parses these but its evaluator panics. and/unless are
        narrow semi/anti joins on (instant, mkey); ``or`` re-keys the rhs
        rows into a disjoint key space before the union so the two dims
        can never collide."""
        if not isinstance(lhs, VectorFrame) or not isinstance(rhs, VectorFrame):
            raise PqError("logical operators expect instant vectors")
        matching = node.label_matching
        # Prometheus filter semantics, NOT the arithmetic zip: the lhs
        # passes through wherever IT exists — the rhs is only a key set,
        # so its grid never truncates the lhs (`a unless b` at an instant
        # past b's data is just `a`). Output grid: lhs grid for and/unless
        # (cells require an lhs sample), full union for or.
        if node.op == "or":
            grid = lhs.grid.union(rhs.grid).distinct()
        else:
            grid = lhs.grid
        lmap = self._match_map(lhs.dim, matching)
        rmap = self._match_map(rhs.dim, matching)
        lf = lhs.facts.join(F.broadcast(lmap.select("skey", "_mkey")), "skey")
        rk = rhs.facts.join(F.broadcast(rmap.select("skey", "_mkey")), "skey").select(
            "instant", "_mkey"
        )
        if node.op == "and":
            facts = lf.join(rk, ["instant", "_mkey"], "left_semi").select(
                "instant", "skey", "value"
            )
            return VectorFrame(grid, facts, lhs.dim, lhs.checks + rhs.checks)
        if node.op == "unless":
            facts = lf.join(rk, ["instant", "_mkey"], "left_anti").select(
                "instant", "skey", "value"
            )
            return VectorFrame(grid, facts, lhs.dim, lhs.checks + rhs.checks)
        # or: lhs rows + rhs rows whose match-key has no lhs series at that
        # instant; rhs identities are re-keyed into a disjoint space
        rf = rhs.facts.join(F.broadcast(rmap.select("skey", "_mkey")), "skey")
        extra = (
            rf.join(lf.select("instant", "_mkey"), ["instant", "_mkey"], "left_anti")
            .select(
                "instant",
                F.xxhash64(F.col("skey"), F.lit("r")).alias("skey"),
                "value",
            )
        )
        facts = lhs.facts.select("instant", "skey", "value").unionByName(extra)
        rdim = rhs.dim.select(
            F.xxhash64(F.col("skey"), F.lit("r")).alias("skey"), "sig", "labels", "ord"
        )
        dim = lhs.dim.select("skey", "sig", "labels", "ord").unionByName(rdim)
        return VectorFrame(grid, facts, dim, lhs.checks + rhs.checks)


# ---------------------------------------------------------------------------
# integer division helpers (exact on longs via pmod)
# ---------------------------------------------------------------------------


def _floordiv(a: Column, b: int) -> Column:
    return ((a - F.pmod(a, F.lit(b))) / F.lit(b)).cast("long")


def _ceildiv(a: Column, b: int) -> Column:
    return ((a + F.pmod(-a, F.lit(b))) / F.lit(b)).cast("long")
