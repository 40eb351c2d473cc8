"""Structured Streaming variant of the rollup engine.

pq is a streaming engine over stdin; on bounded input our batch planner is
observationally equivalent (SURVEY §2.8). For genuinely unbounded input,
this module provides the streaming skins:

- ``streaming_tier``: the 1m/1h/1d continuous aggregate as a watermarked
  windowed aggregation. pq's buffer eviction (reference:
  src/query/vector.rs:125-126,178-202 — drop samples older than
  ``next_instant − lookback``) maps exactly onto the watermark: late data
  beyond the lookback is dropped on arrival (vector.rs:100-102).
- ``streaming_last_value``: the staleness-aware lookback gap-fill (pq's
  instant-vector selector) as a custom stateful operator via
  ``applyInPandasWithState`` — per series, keeps the last sample and emits
  one row per closed bucket while the sample is fresh (within lookback),
  dropping the series when it goes stale. This is the operator Spark's
  built-in window aggs can't express (it must emit rows for buckets with
  NO input).

``streaming_tier`` takes the batch tier's input shapes (seq, ts, value
plus a ``labels`` map or a narrow ``skey``) and emits the batch tier's
narrow skey partials; labels come from ``rollup.tiers.series_dim`` run on
the same stream and attached at the edge (``attach_series``), as in batch.
``streaming_last_value`` consumes sample rows keyed by a ``sig`` string
(seq, ts, sig, value) — e.g. from a Kafka/file source of extraction
events.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..rollup.tiers import PARTIAL_COLS, TIER_MS, _partial_aggs, _series_fact


def streaming_tier(
    sample_stream: DataFrame, tier: str = "1m", watermark: str = "5 minutes"
) -> DataFrame:
    """Watermarked windowed tier partials: the SAME narrow shape and
    aggregates as ``tier_partials`` (bucket_ts, skey, partial cols), so the
    batch cascade and serving read streamed output unchanged. Grouping
    stays on the watermarked ``window``: append mode needs the event-time
    column among the keys to evict (and emit) a closed bucket."""
    fact = (
        _series_fact(sample_stream)
        .withColumn("event_time", F.timestamp_millis(F.col("ts")))
        .withWatermark("event_time", watermark)
    )
    win = F.window("event_time", f"{TIER_MS[tier]} milliseconds")
    return (
        fact.groupBy(win.alias("w"), "skey")
        .agg(*_partial_aggs())
        .select(
            F.unix_millis(F.col("w.start")).alias("bucket_ts"),
            "skey", *PARTIAL_COLS,
        )
    )


def streaming_hll_tier(
    sample_stream: DataFrame, item_col: str, tier: str = "1m",
    watermark: str = "5 minutes", key_cols: tuple = ("sig",),
    lg_k: int = 12,
) -> DataFrame:
    """Streaming distinct-count continuous aggregate: a watermarked
    windowed ``hll_sketch_agg`` of ``item_col`` per (bucket, keys) — the
    streaming skin of ``rollup.tiers.hll_tier``, emitting the SAME
    (bucket_ts, keys, hll) schema, so the batch sketch cascade
    (``hll_tier_from_tier``) coarsens streamed output and
    ``hll_estimate`` serves it: the lambda-architecture property the
    numeric tiers already have, for the one classic non-algebraic
    aggregate (COUNT DISTINCT). Late data beyond the watermark drops on
    arrival, matching the batch tier's purge semantics."""
    with_event_time = sample_stream.withColumn(
        "event_time", F.timestamp_millis(F.col("ts"))
    ).withWatermark("event_time", watermark)
    win = F.window("event_time", f"{TIER_MS[tier]} milliseconds")
    return (
        with_event_time.groupBy(win.alias("w"), *[F.col(c) for c in key_cols])
        .agg(
            F.hll_sketch_agg(F.col(item_col).cast("string"), F.lit(lg_k)).alias("hll")
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("bucket_ts"),
            *key_cols, "hll",
        )
    )


_LAST_VALUE_STATE_SCHEMA = (
    "pend_bucket array<long>, pend_ts array<long>, pend_val array<double>, "
    "emitted_until long"
)
_LAST_VALUE_OUT_SCHEMA = "sig string, bucket_ts long, value double, filled boolean"


def _last_value_fn(interval_ms: int, lookback_ms: int):
    def fn(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (sig,) = key
        wm = state.getCurrentWatermarkMs()

        # state: per-bucket latest sample for every bucket not yet emitted
        # (still open w.r.t. the watermark), as parallel arrays sorted by
        # bucket. Size is bounded by (watermark delay / interval) + 1 carry
        # entry — NOT by the stream length.
        pending: dict[int, tuple[int, float]] = {}
        emitted_until = None
        if state.exists:
            pb, pt, pv, emitted_until = state.get
            pending = {int(b): (int(t), float(v)) for b, t, v in zip(pb, pt, pv)}

        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(["ts", "seq"])
            for t, v in zip(pdf["ts"], pdf["value"]):
                t = int(t)
                b = (t // interval_ms) * interval_ms
                cur = pending.get(b)
                if cur is None or t >= cur[0]:
                    pending[b] = (t, float(v))
        if not pending:
            state.remove()
            return

        # emit ONLY buckets already closed by the event-time watermark — a
        # bucket's value may still change until wm passes its end, so eager
        # emission would silently ignore later in-bucket samples (and make
        # output depend on micro-batch boundaries).
        buckets = sorted(pending)
        b = emitted_until if emitted_until is not None else buckets[0]
        last_src_bucket = buckets[-1]
        out_rows = []
        while b + interval_ms - 1 <= wm:
            src_bucket = max((x for x in buckets if x <= b), default=None)
            if src_bucket is None:
                b += interval_ms
                continue
            # fresh while b is within lookback of the source bucket (pq
            # instant-selector staleness, vector.rs:205-223)
            if b <= src_bucket + lookback_ms - interval_ms:
                out_rows.append((sig, b, pending[src_bucket][1], b != src_bucket))
            b += interval_ms
            if b > last_src_bucket + lookback_ms - interval_ms:
                break  # nothing beyond the staleness horizon can emit

        if b > last_src_bucket + lookback_ms - interval_ms and (
            last_src_bucket + interval_ms - 1 <= wm
        ):
            # every bucket the latest sample can serve is emitted (or
            # stale) — DROP the state (pq purge_before); a later sample
            # recreates the series fresh from its own bucket
            state.remove()
        else:
            # keep open buckets plus the single latest emitted bucket (the
            # carry source for upcoming gap buckets)
            keep = [x for x in buckets if x >= b]
            carry = [x for x in buckets if x < b]
            if carry:
                keep = [carry[-1]] + keep
            keep.sort()
            state.update(
                (
                    keep,
                    [pending[x][0] for x in keep],
                    [pending[x][1] for x in keep],
                    b,
                )
            )
            # wake up when the watermark closes the next unemitted bucket
            state.setTimeoutTimestamp(max(b + interval_ms - 1, wm + 1))
        if out_rows:
            yield pd.DataFrame(out_rows, columns=["sig", "bucket_ts", "value", "filled"])

    return fn


def streaming_last_value(
    sample_stream: DataFrame, interval_ms: int = 60_000, lookback_ms: int = 300_000,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Custom stateful gap-fill: per series, carry the last value across
    empty buckets while within the lookback (pq instant-selector semantics,
    reference: src/query/vector.rs:205-223). Emission is EVENT-TIME
    driven: a bucket is emitted only once the watermark passes its end (so
    late in-bucket samples are never silently ignored), gap-fill rows for
    quiet series are produced by event-time timeouts as the watermark
    advances, and fully-stale series are REMOVED from the state store (the
    analogue of pq's purge_before)."""
    with_event_time = sample_stream.withColumn(
        "event_time", F.timestamp_millis(F.col("ts"))
    ).withWatermark("event_time", watermark)
    return with_event_time.groupBy("sig").applyInPandasWithState(
        _last_value_fn(interval_ms, lookback_ms),
        outputStructType=_LAST_VALUE_OUT_SCHEMA,
        stateStructType=_LAST_VALUE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_dedup(
    docs: DataFrame,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    text_col: str = "text",
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
    whose state grows with the corpus. ``ts_col`` is epoch ms (the
    crawl timestamp); duplicates arriving farther apart than the horizon
    are NOT collapsed — dedup beyond the horizon belongs to the batch
    compaction pass (the standard lambda split).
    """
    h = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    )
    return (
        docs.withColumn("_ets", F.timestamp_millis(F.col(ts_col)))
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
