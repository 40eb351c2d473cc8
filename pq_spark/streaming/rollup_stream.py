"""Structured Streaming variant of the rollup engine.

pq is a streaming engine over stdin; on bounded input our batch planner is
observationally equivalent (SURVEY §2.8). For genuinely unbounded input,
this module provides the streaming skins:

- ``streaming_tier``: the 1m continuous aggregate as a watermarked
  windowed aggregation (the 1h/1d tiers cascade from its partials).
  pq's buffer eviction (reference:
  src/query/vector.rs:125-126,178-202 — drop samples older than
  ``next_instant − lookback``) maps exactly onto the watermark: late data
  beyond the lookback is dropped on arrival (vector.rs:100-102).
- ``streaming_dedup`` and ``streaming_sessionize``: the continuous forms
  of the batch text dedup and ``timejoin.sessionize``.

``streaming_tier`` takes the batch tier's input shapes (seq, ts, value
plus a ``labels`` map or a narrow ``skey``) and emits the batch tier's
narrow skey partials; labels come from ``rollup.tiers.series_dim`` run on
the same stream and attached at the edge (``attach_series``), as in batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..rollup.tiers import PARTIAL_COLS, TIER_MS, _partial_aggs, _series_fact


def streaming_tier(sample_stream: DataFrame, watermark: str = "5 minutes") -> DataFrame:
    """Watermarked windowed 1m tier partials: the SAME narrow shape and
    aggregates as ``tier_partials`` (bucket_ts, skey, partial cols), so the
    batch cascade and serving read streamed output unchanged. Grouping
    stays on the watermarked ``window``: append mode needs the event-time
    column among the keys to evict (and emit) a closed bucket."""
    fact = (
        _series_fact(sample_stream)
        .withColumn("event_time", F.timestamp_millis(F.col("ts")))
        .withWatermark("event_time", watermark)
    )
    win = F.window("event_time", f"{TIER_MS['1m']} milliseconds")
    return (
        fact.groupBy(win.alias("w"), "skey")
        .agg(*_partial_aggs())
        .select(
            F.unix_millis(F.col("w.start")).alias("bucket_ts"),
            "skey", *PARTIAL_COLS,
        )
    )


def streaming_dedup(
    docs: DataFrame,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup over an unbounded document stream: keep the
    FIRST ARRIVAL of each normalized-text hash within the watermark
    horizon (``dropDuplicatesWithinWatermark`` on the md5 content hash —
    the same portable hash ``textops.exact_dedup`` keys on).

    Batch/stream divergence, documented like §2.4's out-of-order note:
    the batch operator keeps the MIN-ID representative of each duplicate
    group (a total order exists on bounded input); an unbounded stream
    has no total order, so the streaming representative is the first
    arrival — same groups, same survivor count, possibly different
    representative ids.

    Scale contract: state holds one entry per distinct hash seen within
    the watermark horizon and Spark evicts entries older than the
    event-time watermark, so a perpetual crawl stream runs in BOUNDED
    state (the horizon × ingest rate), unlike a naive dropDuplicates
    whose state grows with the corpus. ``ts`` is epoch ms (the
    crawl timestamp); duplicates arriving farther apart than the horizon
    are NOT collapsed — dedup beyond the horizon belongs to the batch
    compaction pass (the standard lambda split).
    """
    h = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    )
    return (
        docs.withColumn("_ets", F.timestamp_millis(F.col("ts")))
        .withColumn("_text_hash", h)
        .withWatermark("_ets", watermark)
        .dropDuplicatesWithinWatermark(["_text_hash"])
        .drop("_ets")
    )


def streaming_sessionize(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts_ms",
    gap_ms: int = 3_600_000,
    watermark: str = "10 minutes",
    agg: dict[str, str] | None = None,
) -> DataFrame:
    """Streaming event-time sessionization over Spark's NATIVE
    ``session_window`` — the continuous form of ``timejoin.sessionize``
    with IDENTICAL gap semantics: consecutive events merge iff
    ``next − prev <= gap_ms`` (measured: session_window also merges
    ADJACENT windows, so an event exactly ``gap_ms`` after its
    predecessor stays in-session — no off-by-one adjustment needed).

    Emits one row per (keys..., session): session_start, session_end
    (max event ts, NOT window end — window end is last + gap), n_events,
    plus ``{fn}_{col}`` per ``agg`` entry. No per-row Python: the state
    merge is Spark's built-in session aggregation.

    Scale contract: state holds only OPEN sessions (closed ones are
    emitted and evicted once the event-time watermark passes), so a
    perpetual stream runs in bounded state ∝ active series, not corpus
    size. Late data within the watermark merges/extends sessions
    exactly like the batch operator; beyond it, drops. In append mode a
    session emits once the watermark passes its close; bounded replays
    use complete mode so trailing sessions stay observable (the
    pq_sum_by_et_streamed drain pattern). The batch operator's ordinal
    ``session_id`` has no streaming analogue (an unbounded stream has
    no per-key total order to number) — consumers key sessions by
    (keys..., session_start) instead.
    """
    src = events.withColumn(
        "_ets", F.timestamp_millis(F.col(ts_col))
    ).withWatermark("_ets", watermark)
    aggs = [
        F.min(ts_col).cast("long").alias("session_start"),
        F.max(ts_col).cast("long").alias("session_end"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    ]
    for col, fn in (agg or {}).items():
        aggs.append(getattr(F, fn)(col).alias(f"{fn}_{col}"))
    return (
        src.groupBy(
            *keys, F.session_window("_ets", f"{gap_ms} milliseconds")
        )
        .agg(*aggs)
        .drop("session_window")
    )
