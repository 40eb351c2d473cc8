"""Continuous-aggregate tiers: 1m → 1h → 1d rollup cascade + gap-fill.

The north rule's retention pipeline: per-series extraction events are
bucketed into 1m/1h/1d tiers carrying *algebraic partials*
(count/sum/min/max + first/last with timestamps) so that

- every higher tier re-aggregates the tier below it EXACTLY (sum of counts,
  min of mins, first-by-earliest-ts, …) — never re-reading raw data;
- avg is derived (sum/count), matching pq's two-accumulator avg
  (reference: src/query/aggregate.rs:71-98);
- gap-fill with staleness-aware lookback reproduces pq's instant-vector
  selector semantics (reference: src/query/vector.rs:205-223): a bucket
  with no data carries the last value within ``lookback``, and is absent
  beyond it.

Representation: a tier is NARROW partials ``(bucket_ts, skey, cnt, sum,
min, max, first_ts, first_val, last_ts, last_val)`` keyed by the 64-bit
series key, plus ONE explicit series dim ``(skey, sig, name, labels)``.
Labels attach only at the edge (``attach_series`` or a join on ``skey``).

Scale design (100 TB):
- one shuffle per tier, keyed by (bucket_ts, skey). Map-side partial
  aggregation is automatic for these algebraic functions, so hot series
  (Zipfian domains) collapse before the shuffle.
- tier tables are tiny relative to raw data (1m tier ≈ #series × minutes),
  so the 1h/1d cascade costs ~nothing; AQE coalesces the small shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..engine.frames import dim_from_sig2, fact_skey, okey_expr, sig2_expr
from ..query.ast import NAME_LABEL

TIER_MS = {"1m": 60_000, "1h": 3_600_000, "1d": 86_400_000}

PARTIAL_COLS = [
    "cnt", "sum", "min", "max", "first_ts", "first_val", "last_ts", "last_val",
]


def _bucket(ts: Column, tier_ms: int) -> Column:
    return ts - F.pmod(ts, F.lit(tier_ms))


def series_dim(samples: DataFrame, check_collisions: bool = False) -> DataFrame:
    """The tiny series dimension (skey → sig, name, labels). Fact rows carry
    only the 64-bit skey; label maps and signature strings never enter the
    big shuffles (star schema).

    Discovery runs as a plain string-distinct (HashAggregate) over the
    INVERTIBLE signature; the label map is rebuilt from the string on the
    post-shuffle dim-sized rows. Grouping on the map (or carrying it
    through first()) would force SortAggregate — a per-partition sort of
    every fact row. The rebuild is ``frames.dim_from_sig2``, the one the
    planner's selector dims use; its skey is ``series_key(sig)``."""
    dim = dim_from_sig2(
        samples.select(sig2_expr(F.col("labels")).alias("_sig2")).distinct()
    ).select(
        "skey", "sig", F.col("labels").getItem(NAME_LABEL).alias("name"), "labels"
    )
    if check_collisions:
        agg = dim.agg(
            F.count("*").alias("n"), F.countDistinct("skey").alias("d")
        ).collect()[0]
        if agg["n"] != agg["d"]:
            raise RuntimeError("series-key hash collision detected")
    return dim


def attach_series(partials: DataFrame, dim: DataFrame) -> DataFrame:
    """Narrow partials (skey-keyed) + series dim → the public tier schema."""
    return partials.join(dim, "skey").select(
        "bucket_ts", "sig", "name", "labels", *PARTIAL_COLS
    )


def _series_fact(samples: DataFrame) -> DataFrame:
    """Samples → the fact projection every tier aggregates: (skey, ts,
    value, _okey). Accepts the narrow fact (skey, ts, seq, value) or wide
    samples with a ``labels`` map (the skey is hashed from their
    signature). A plain projection, so it is safe on a streaming frame."""
    # packed (ts, seq) ordering key: min_by/max_by over a LONG keeps the
    # aggregation in HashAggregate (a struct key forces SortAggregate — a
    # per-partition sort). Tie caveat: two samples of one series in the SAME
    # millisecond whose seqs differ by a multiple of 2^21 would tie-break
    # arbitrarily; all drivers keep seq (event_id / line_no) far below 2^21
    # per ms.
    return samples.select(
        fact_skey(samples).alias("skey"), "ts", "value", okey_expr().alias("_okey")
    )


def _partial_aggs() -> list[Column]:
    """The algebraic partials of one bucket, over ``_series_fact`` rows."""
    return [
        F.count("value").alias("cnt"),
        F.sum("value").alias("sum"),
        F.min("value").alias("min"),
        F.max("value").alias("max"),
        F.min("ts").alias("first_ts"),
        F.min_by("value", "_okey").alias("first_val"),
        F.max("ts").alias("last_ts"),
        F.max_by("value", "_okey").alias("last_val"),
    ]


def tier_partials(samples: DataFrame, tier: str | int) -> DataFrame:
    """Raw samples → NARROW tier partials (bucket_ts, skey, partial cols).

    Takes either input shape of ``_series_fact``. The whole cascade runs on
    this narrow shape, and ``streaming.streaming_tier`` emits it too; label
    maps / signature strings join back from the series dim only at the
    edges (``attach_series``)."""
    tier_ms = TIER_MS[tier] if isinstance(tier, str) else int(tier)
    return (
        _series_fact(samples)
        .select(
            _bucket(F.col("ts"), tier_ms).alias("bucket_ts"),
            "skey", "ts", "value", "_okey",
        )
        .groupBy("bucket_ts", "skey")
        .agg(*_partial_aggs())
    )


def rollup_tier(samples: DataFrame, tier: str | int) -> DataFrame:
    """Raw (wide) samples → one tier with series labels attached (public
    schema: bucket_ts, sig, name, labels, cnt, sum, min, max, first/last
    ±ts)."""
    return attach_series(tier_partials(samples, tier), series_dim(samples))


def tier_from_tier(lower: DataFrame, tier: str | int) -> DataFrame:
    """Re-aggregate narrow lower-tier partials into a coarser tier — exact,
    never touching raw data (the continuous-aggregate cascade)."""
    tier_ms = TIER_MS[tier] if isinstance(tier, str) else int(tier)
    return (
        lower.withColumn("bucket_ts", _bucket(F.col("bucket_ts"), tier_ms))
        .groupBy("bucket_ts", "skey")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum").alias("sum"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
            F.min("first_ts").alias("first_ts"),
            F.min_by("first_val", "first_ts").alias("first_val"),
            F.max("last_ts").alias("last_ts"),
            F.max_by("last_val", "last_ts").alias("last_val"),
        )
        .select("bucket_ts", "skey", *PARTIAL_COLS)
    )


def rollup_cascade(
    samples: DataFrame, tiers: list[str] = ("1m", "1h", "1d")
) -> dict[str, DataFrame]:
    """Full cascade: raw → tiers[0] → tiers[1] → … (each from the previous).

    The cascade runs NARROW (skey-keyed partials) with ONE shared series
    dim attached at each exposed level, so no level re-derives the dim or
    re-embeds the lower pipeline in its plan."""
    out: dict[str, DataFrame] = {}
    dim = series_dim(samples)
    prev: DataFrame | None = None
    for t in tiers:
        prev = tier_partials(samples, t) if prev is None else tier_from_tier(prev, t)
        out[t] = attach_series(prev, dim)
    return out


def samples_from_tier(tier: DataFrame, value_col: str = "last_val") -> DataFrame:
    """Serve pq queries FROM a continuous-aggregate tier instead of raw
    samples (the hypertable/rollup-serving pattern): each tier row becomes
    one sample at its bucket start carrying the chosen partial. With
    ``value_col='last_val'`` and a bucket-aligned ``--since``, an
    instant-vector query at ``interval == tier`` is EXACTLY equivalent to
    the same query over raw data (the per-bucket last IS the latest sample
    in each grid window) while scanning #series × #buckets rows instead of
    the raw corpus — this is why the cascade exists."""
    return tier.select(
        F.col("bucket_ts").alias("seq"),  # unique per (series, bucket)
        F.col("bucket_ts").alias("ts"),
        "name",
        "labels",
        F.col(value_col).cast("double").alias("value"),
    )


def over_time_from_tier(
    tier: DataFrame, tier_ms: int, range_ms: int,
    stride_ms: int | None = None, phase_ms: int = 0,
) -> DataFrame:
    """Serve pq's ``*_over_time(v[range])`` functions FROM a tier's
    algebraic partials — exact, never touching raw data, when ``range`` is
    a multiple of the tier width and the grid is bucket-aligned.

    A pq range window at grid instant ``i = wend + B − 1`` covers
    ``(i − range, i]`` = buckets ``wend − (r−1)·B … wend`` exactly
    (``r = range/B``), so each tier bucket ``b`` contributes to the ``r``
    window-ends ``b … b + (r−1)·B`` and every over-time function merges
    partials losslessly:

    - count_over_time = Σ cnt, sum_over_time = Σ sum,
      min/max_over_time = min/max of mins/maxes, avg = Σsum/Σcnt
    - last_over_time (pq's OLDEST-point quirk: the reference's windows
      iterate newest→oldest and last wins, src/query/vector.rs — so it
      returns the oldest point) = ``first_val`` of the EARLIEST
      contributing bucket; ``newest_val`` (the Prometheus semantics) =
      ``last_val`` of the latest bucket.

    Scale shape: one serving-instant explode (fan-out r) + one hash
    aggregation keyed by (window-end, series) — the same skew-proof plan
    as the query planner's serving explode; serve from the deepest tier
    dividing ``range`` so r stays small (e.g. 6 for [6h] over 1h).

    Output (one row per window-end bucket × series with ≥1 point):
    ``bucket_ts`` = window-END bucket (grid instant = bucket_ts + B − 1),
    the input's series key (``skey``, or ``sig`` for a tier in the public
    schema, e.g. a published ``TierStore`` table), and
    cnt/sum/min/max/oldest_val/newest_val/oldest_ts/newest_ts window
    aggregates — the last four reconstruct the window's first/last POINT,
    so rate/increase/delta are exactly servable too:
    ``rate = (newest_val − oldest_val) / ((newest_ts − oldest_ts)/1000)``
    when ``cnt ≥ 2`` and the span is positive.

    ``stride_ms`` (a multiple of ``tier_ms``; default ``tier_ms``) serves a
    COARSER grid: only window-ends with ``wend ≡ phase_ms (mod stride_ms)``
    are generated, so each bucket fans out to ``range/stride`` window-ends
    instead of ``range/tier`` — the explode shrinks with the grid instead
    of producing rows a downstream filter would discard. This is what the
    tier router uses to serve e.g. a 2h-stride 6h-window query from the 1h
    tier with fan-out 3, not 6.
    """
    if range_ms % tier_ms != 0 or range_ms <= 0:
        raise ValueError("range must be a positive multiple of the tier width")
    stride_ms = tier_ms if stride_ms is None else int(stride_ms)
    if stride_ms % tier_ms != 0 or stride_ms <= 0:
        raise ValueError("stride must be a positive multiple of the tier width")
    r = range_ms // tier_ms
    ident = "skey" if "skey" in tier.columns else "sig"

    # first on-stride window-end at-or-after this bucket; a bucket whose
    # stride window starts past its last contribution emits nothing
    last_w = F.col("bucket_ts") + F.lit((r - 1) * tier_ms)
    first_w = F.col("bucket_ts") + F.pmod(
        F.lit(int(phase_ms)) - F.col("bucket_ts"), F.lit(int(stride_ms))
    )
    wends = F.when(
        first_w <= last_w,
        F.sequence(first_w, last_w, F.lit(int(stride_ms)).cast("long")),
    ).otherwise(F.array().cast("array<long>"))
    served = tier.select(
        ident,
        F.col("bucket_ts").alias("_src"),
        "cnt", "sum", "min", "max",
        "first_ts", "first_val", "last_ts", "last_val",
        F.explode(wends).alias("_wend"),
    )
    # numeric-only aggregation keyed by (window-end, series key) stays in
    # HashAggregate; callers attach labels by joining the dim on skey.
    # oldest/newest ts+val reconstruct the window's first/last POINT, so
    # the rate family (rate/increase/delta) is also exactly servable:
    # the earliest contributing bucket's first point IS the window's first.
    return served.groupBy(F.col("_wend").alias("bucket_ts"), ident).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum").alias("sum"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
        F.min_by("first_val", "_src").alias("oldest_val"),
        F.max_by("last_val", "_src").alias("newest_val"),
        F.min("first_ts").alias("oldest_ts"),
        F.max("last_ts").alias("newest_ts"),
    )


def route_tier(
    available, interval_ms: int, range_ms: int | None = None,
    anchor_ms: int = 0,
):
    """Pick the COARSEST tier width that answers a windowed query EXACTLY,
    or None when only raw samples can (the continuous-aggregate
    'real-time aggregation' routing decision, made statically from the
    query shape — no data inspection).

    A tier of width B serves exactly iff every window is a union of whole
    B-buckets and every grid window-end lands on a bucket boundary:
    ``B | range``, ``B | interval`` (stride), and ``B | anchor`` (the
    grid's phase). ``available`` holds tier names ('1m') or widths in ms.

    At 100 TB this is THE scan-size lever: a 1d-tier answer reads
    #series × #days rows; the same query over raw data reads the corpus.
    Always route before falling back to the finest tier or raw.
    """
    cands = []
    for t in available:
        b = TIER_MS[t] if isinstance(t, str) else int(t)
        if interval_ms % b:
            continue
        if range_ms is not None and range_ms % b:
            continue
        if anchor_ms % b:
            continue
        cands.append(b)
    return max(cands) if cands else None


def serve_over_time_routed(tiers: dict, interval_ms: int, range_ms: int):
    """Serve ``*_over_time(v[range])`` on an ``interval``-stride grid from
    the coarsest exact tier in ``tiers`` ({name-or-width: tier DataFrame}).
    Returns ``(tier_ms, served)``; raises when no tier qualifies (the
    caller falls back to raw samples — routing never silently
    approximates)."""
    widths = {
        (TIER_MS[k] if isinstance(k, str) else int(k)): k for k in tiers
    }
    b = route_tier(widths, interval_ms, range_ms)
    if b is None:
        raise ValueError(
            f"no tier in {sorted(widths)} serves interval={interval_ms} "
            f"range={range_ms} exactly — use raw samples"
        )
    served = over_time_from_tier(tiers[widths[b]], b, range_ms, stride_ms=interval_ms)
    return b, served


def hll_tier(
    df: DataFrame, tier_ms: int, item_col: str,
    key_cols: tuple = ("skey",),
) -> DataFrame:
    """Distinct-count continuous aggregate: a Datasketches HLL sketch of
    ``item_col`` per (bucket, keys). COUNT DISTINCT is the classic
    non-algebraic aggregate — raw partials can't merge — but its sketch
    CAN: ``hll_union_agg`` re-aggregates a finer tier into a coarser one
    without touching raw data, exactly like the algebraic partial columns.
    Sketches (lg_k 12) are exact while in sparse mode (up to ~2^12 items)
    and ~1.6%/sqrt(2^12) beyond; one hash aggregation, map-side combined."""
    bucket = _bucket(F.col("ts"), tier_ms)
    return df.groupBy(bucket.alias("bucket_ts"), *key_cols).agg(
        F.hll_sketch_agg(F.col(item_col).cast("string"), F.lit(12)).alias("hll")
    )


def hll_tier_from_tier(lower: DataFrame, tier_ms: int) -> DataFrame:
    """Coarsen a sketch tier by unioning sketches — the distinct-count
    analog of the partial-merge cascade (never re-reads raw data)."""
    keys = [c for c in lower.columns if c not in ("bucket_ts", "hll")]
    return (
        lower.withColumn("bucket_ts", _bucket(F.col("bucket_ts"), tier_ms))
        .groupBy("bucket_ts", *keys)
        .agg(F.expr("hll_union_agg(hll)").alias("hll"))
    )


def hll_estimate(tier: DataFrame) -> DataFrame:
    """Sketch tier → distinct-count estimates (exact while sparse)."""
    return tier.withColumn(
        "distinct_est", F.hll_sketch_estimate("hll")
    ).drop("hll")


def gapfill(
    tier_df: DataFrame,
    tier_ms: int,
    dim: DataFrame,
    lookback_buckets: int = 1,
) -> DataFrame:
    """Explicit gap-fill with staleness-aware lookback (pq instant-vector
    semantics at interval == tier): every bucket in [min, max] of the global
    bucket range gets, per series, the latest value whose bucket is within
    ``lookback_buckets`` behind; series with no value in the window are
    absent (stale), exactly like pq's lookback window (vector.rs:205-223).

    Input: narrow partials plus their series dim. Implemented with the same
    serving-instant explode as the query planner: each tier row serves the
    next ``lookback_buckets`` buckets; latest wins.
    Output: (bucket_ts, sig, name, labels, value, filled boolean).
    """
    lb_ms = lookback_buckets * tier_ms
    bounds = tier_df.agg(
        F.min("bucket_ts").alias("_lo"), F.max("bucket_ts").alias("_hi")
    )
    served = (
        tier_df.crossJoin(F.broadcast(bounds))
        .select(
            "skey", "bucket_ts",
            F.col("last_val").alias("_v"),
            F.explode(
                F.sequence(
                    F.col("bucket_ts"),
                    F.least(F.col("_hi"), F.col("bucket_ts") + F.lit(lb_ms - tier_ms)),
                    F.lit(tier_ms).cast("long"),
                )
            ).alias("_serve"),
        )
    )
    # numeric-only carry aggregation (HashAggregate — carrying the label
    # map through first() would SortAggregate every served row); identity
    # columns rejoin from the broadcast-sized series dim
    filled = (
        served.groupBy(F.col("_serve").alias("bucket_ts"), "skey")
        .agg(
            F.max_by("_v", "bucket_ts").alias("value"),
            F.max("bucket_ts").alias("_src"),
        )
    )
    return filled.join(F.broadcast(dim), "skey").select(
        "bucket_ts", "sig", "name", "labels", "value",
        (F.col("_src") != F.col("bucket_ts")).alias("filled"),
    )
