"""Time-series join operators Spark lacks natively: as-of join and
bucketed range join.

The pq engine family serves instant vectors by carrying the most recent
sample at-or-before each grid instant (reference: the vector-selector
staleness lookback in `/root/reference/src/engine/vector.rs`; our grid
machinery in pq_spark/engine/planner.py:442 reuses it on aligned grids).
These operators expose the same at-or-before / interval-containment
semantics as standalone DataFrame-to-DataFrame joins over ARBITRARY
(unaligned) left timestamps — the missing piece when tier rollups or
sparse event checkpoints must be attached to a raw event stream.

Scale design (the part Spark's own API gets wrong by default):

- ``asof_join`` never uses an inequality join (Spark plans those as
  BroadcastNestedLoopJoin — quadratic). Instead both sides are tagged and
  unioned, hash-partitioned ONCE by the series key, sorted by (ts, tag)
  within partitions, and the latest right row is carried forward with a
  single ``last(ignorenulls)`` running window. One Exchange, one Sort,
  whole-stage-codegen window — the same shape at 60k rows and 100 TB.
- ``range_join`` buckets time: each interval explodes to the fixed-width
  buckets it covers (bounded fan-out, asserted at runtime) and each left
  row joins its OWN bucket with an equi-join, then the exact containment
  predicate filters. Catalyst plans a hash/sort-merge join on
  (key..., bucket) — never a nested loop — and each (row, interval)
  match is produced exactly once because the join key is the left row's
  unique bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    values: list[str] | None = None,
    direction: str = "backward",
    inclusive: bool = True,
    tolerance_ms: int | None = None,
) -> DataFrame:
    """Left as-of join: for every left row, attach the single right row
    with the greatest ``right_ts`` at-or-before (``backward``) or the
    smallest at-or-after (``forward``) the row's ``left_ts``, per ``on``
    series key. Unmatched left rows keep nulls (left-outer semantics).

    ``right`` must be unique per (``on``, ``right_ts``) — rollup/tier
    outputs are; raw streams should be aggregated first. The matched
    right timestamp is returned under ``right_ts`` and must not collide
    with a left column, nor may any ``values`` column.

    ``tolerance_ms`` nulls out matches further than the given distance —
    pq's staleness lookback expressed as an as-of bound.

    Timestamps are integer epoch-ms on both sides (cast to long); right
    rows with a null timestamp never match anything and are dropped.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    on = list(on)
    if values is None:
        values = [c for c in right.columns if c not in on and c != right_ts]
    lpayload = [c for c in left.columns if c not in on]
    clash = [c for c in [right_ts, *values] if c in left.columns]
    if clash:
        raise ValueError(f"right columns collide with left: {clash} — rename first")

    # mirrored scan order implements forward as backward over negated time
    sign = 1 if direction == "backward" else -1
    # at equal ts an inclusive join must see the right row BEFORE the left
    # row in scan order; strict must not
    rtag, ltag = (0, 1) if inclusive else (1, 0)

    rrow = F.struct(
        F.col(right_ts).cast("long").alias("_rts"),
        *[F.col(c) for c in values],
    )
    r = right.filter(F.col(right_ts).isNotNull()).select(
        *on,
        (F.col(right_ts).cast("long") * sign).alias("_ots"),
        F.lit(rtag).alias("_tag"),
        rrow.alias("_rrow"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lpayload
        ],
    )
    l = left.select(
        *on,
        (F.col(left_ts).cast("long") * sign).alias("_ots"),
        F.lit(ltag).alias("_tag"),
        F.lit(None).cast(r.schema["_rrow"].dataType).alias("_rrow"),
        *lpayload,
    )
    w = (
        Window.partitionBy(*on)
        .orderBy("_ots", "_tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        r.unionByName(l)
        .withColumn("_m", F.last("_rrow", ignorenulls=True).over(w))
        .filter(F.col("_tag") == ltag)
    )
    if tolerance_ms is not None:
        # backward distance = lts - rts; forward = rts - lts; the mirrored
        # scan makes both equal to (lts - rts) * sign
        dist = (F.col("_ots") * sign - F.col("_m._rts")) * sign
        carried = carried.withColumn(
            "_m", F.when(dist <= F.lit(int(tolerance_ms)), F.col("_m"))
        )
    out_left = [c for c in left.columns]
    return carried.select(
        *out_left,
        F.col("_m._rts").alias(right_ts),
        *[F.col(f"_m.{c}").alias(c) for c in values],
    )


def range_join(
    left: DataFrame,
    intervals: DataFrame,
    left_ts: str,
    start: str,
    end: str,
    on: list[str] | None = None,
    bucket_ms: int = 3_600_000,
    max_fanout: int = 4096,
) -> DataFrame:
    """Inner interval join: every (left row, interval) pair with
    ``start <= left_ts < end`` (end-exclusive), per optional ``on`` key,
    WITHOUT a nested-loop plan. Overlapping intervals yield one output
    row per containing interval (many-to-many).

    Each interval is exploded to the ``bucket_ms``-wide time buckets it
    covers and equi-joined against the left row's single bucket; the
    exact predicate then filters. Pick ``bucket_ms`` near the typical
    interval length: the per-interval bucket fan-out is
    ``len/bucket_ms (+1)`` and is asserted ``<= max_fanout`` at runtime
    (a malformed open-ended interval fails loudly instead of exploding
    the shuffle). Empty/inverted intervals (``end <= start``) match
    nothing and are dropped. Timestamps are integer epoch-ms.
    """
    on = list(on or [])
    clash = set(left.columns) & (set(intervals.columns) - set(on))
    if clash:
        raise ValueError(f"ambiguous columns {sorted(clash)} — rename first")
    s, e = F.col(start).cast("long"), F.col(end).cast("long")
    # integer bucket indices via div (exact — no float floor)
    first_b = F.expr(f"CAST({start} AS LONG) div {int(bucket_ms)}")
    last_b = F.expr(f"(CAST({end} AS LONG) - 1) div {int(bucket_ms)}")
    # the guard must be load-bearing or Catalyst prunes it away: fold the
    # assert into the sequence's upper bound (null on success → +0)
    guard = F.coalesce(
        F.assert_true(
            last_b - first_b < F.lit(int(max_fanout)),
            F.concat(
                F.lit(f"range_join: interval spans >= {int(max_fanout)} "
                      f"buckets of {int(bucket_ms)} ms — raise bucket_ms "
                      "or fix the interval (start="),
                s.cast("string"), F.lit(", end="), e.cast("string"),
                F.lit(")"),
            ),
        ).cast("long"),
        F.lit(0),
    )
    iv = intervals.filter(e > s).withColumn(
        "_b", F.explode(F.sequence(first_b, last_b + guard))
    )
    l = left.withColumn(
        "_b", F.expr(f"CAST({left_ts} AS LONG) div {int(bucket_ms)}")
    )
    lt = F.col(left_ts).cast("long")
    return (
        l.join(iv, on + ["_b"])
        .filter((lt >= s) & (lt < e))
        .drop("_b")
    )


def sessionize(
    events: DataFrame,
    ts_col: str,
    keys: list[str],
    gap_ms: int,
    agg: dict[str, str] | None = None,
) -> DataFrame:
    """Event-time sessionization: split each key's event stream into
    sessions wherever the gap between consecutive events exceeds
    ``gap_ms``, and aggregate per session (the classic web-log
    user-session rollup; Structured Streaming's session_window does
    this for streams — ``streaming/rollup_stream`` owns that path, this
    is the batch/backfill form over the same semantics).

    Returns one row per (keys..., session_id) with session_start,
    session_end (max event ts, inclusive), n_events, plus one column
    per ``agg`` entry ({column: spark_agg_fn_name}, aliased
    ``{fn}_{col}``).

    Scale shape (100 TB): ONE hash partition by the series keys and one
    sort by ts inside it — the lag-gap flag and the running session
    counter ride the same window (no second Exchange), then the session
    aggregation groups by (keys, session_id) which is a prefix-compatible
    reshuffle. Per-key work is inherently sequential (a session boundary
    depends on every prior gap), so the unit of parallelism is the key —
    the right unit for web logs (hosts/users are many and individually
    small)."""
    w = Window.partitionBy(*keys).orderBy(ts_col)
    prev = F.lag(ts_col).over(w)
    new_s = F.when(
        prev.isNull() | (F.col(ts_col) - prev > F.lit(gap_ms)), 1
    ).otherwise(0)
    sess = events.withColumn(
        "session_id",
        F.sum(new_s).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long"),
    )
    aggs = [
        F.min(ts_col).cast("long").alias("session_start"),
        F.max(ts_col).cast("long").alias("session_end"),
        F.count("*").cast("long").alias("n_events"),
    ]
    for col, fn in (agg or {}).items():
        aggs.append(getattr(F, fn)(col).alias(f"{fn}_{col}"))
    return sess.groupBy(*keys, "session_id").agg(*aggs)
