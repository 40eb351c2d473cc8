"""Evaluation-result frames — star-schema edition — and series identity.

Every query (sub)expression lowers to one of these — the DataFrame-native
analogue of the reference's ``QueryValue`` kinds
(reference: src/query/value.rs:8-13):

- ``ScalarResult``  — a plan-time-folded f64 (pq scalars are pure literals).
- ``VectorFrame``   — instant vector per grid instant.
- ``RangeFrame``    — range vector: one row per window point.

Both vector frames are stored as a STAR SCHEMA so that no label map or
signature string ever rides a fact-sized shuffle:

- ``facts`` — the narrow fact relation (longs + doubles only):
    VectorFrame: DF[instant: long, skey: long, value: double]
    RangeFrame : DF[instant, skey, value, ts: long, seq: long, _okey: long]
- ``dim``  — the small series dimension, one row per series:
    DF[skey: long, sig: string, labels: map<string,string>, ord: string]
  ``ord`` is the output sort key reproducing the reference's BTreeMap
  iteration order at each instant. Label rewrites (drop ``__name__``,
  label_replace, aggregation grouping) are dim-side transforms — constant
  cost regardless of fact cardinality.

Series identity is defined here once; the planner, table ingest, the
rollup tiers, the Gorilla packer and the streamed tiers all use it:
``sig`` (``sig_expr``, or ``static_sig_expr`` for plan-time label keys)
is the sorted ``k\\xffv`` concat (reference: src/model/labels.rs:51-57);
``sig2_expr`` joins the same pairs with ``\\xfe`` so ``dim_from_sig2``
can rebuild the dim from it after a shuffle; ``skey`` (``series_key``,
or ``fact_skey`` of a narrow or wide fact) is the 64-bit xxhash of the
sig, so a fact row and its dim row share one hash of one string;
``_okey`` (``okey_expr``) is the packed ``(ts<<21 | seq mod 2^21)``
ordering key that keeps first/last aggregations in HashAggregate (struct
ordering keys force SortAggregate).

``VectorFrame.cells`` is the wide view (facts ⋈ broadcast dim), used only
at the output edge (formatters, relational API).

``checks`` carries deferred strict-mode validations (duplicate-series /
many-to-one panics in the reference, src/query/value.rs:86-92,114-116);
they are executed right before results are collected.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

WIDE_COLS = ["instant", "sig", "labels", "ord", "value"]

_PAIR_SEP = "\xfe"


def empty_map(value_type: str = "string") -> Column:
    """The empty ``map<string, value_type>``."""
    return F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast(f"array<{value_type}>")
    )


def _sig_pairs(labels: Column, sep: str) -> Column:
    """The label map's sorted ``key\\xffvalue`` pairs, joined with ``sep``."""
    return F.array_join(
        F.transform(
            F.array_sort(F.map_entries(labels)),
            lambda e: F.concat(e.getField("key"), F.lit("\xff"), e.getField("value")),
        ),
        sep,
    )


def sig_expr(labels: Column) -> Column:
    """Series signature: sorted ``key\\xffvalue`` concatenation
    (reference: src/model/labels.rs:51-57)."""
    return _sig_pairs(labels, "")


def sig2_expr(labels: Column) -> Column:
    """Invertible signature variant: same sorted ``k\\xffv`` pairs, joined
    with a ``\\xfe`` pair separator so the label map can be reconstructed
    AFTER a shuffle. This lets the series-dim dedup run as a plain
    string-distinct HashAggregate (grouping/first() on a map type forces
    SortAggregate and would sort every fact row per partition); the map is
    rebuilt only on the post-shuffle dim-sized rows. Caveat: like the
    reference's own separator-free signature (labels.rs:51-57), this assumes
    label text contains no ``\\xff``/``\\xfe`` control bytes."""
    return _sig_pairs(labels, _PAIR_SEP)


def static_sig_expr(entries: dict[str, Column]) -> Column:
    """``sig_expr`` specialized for a label set whose KEYS are known at
    plan time (table ingest: label_cols + __name__): the sorted
    key\\xffvalue concatenation becomes a plain string concat — no map
    build, no array_sort, no lambda transform per row.  Null-value pairs
    contribute nothing, matching ``array_join``'s null-element skip.
    Key order: Python's codepoint sort == Spark's binary string sort
    (UTF-8 byte order preserves codepoint order).  Equivalence is pinned
    in tests/test_rollup.py against ``sig_expr`` on the same rows."""
    pieces = [
        F.when(entries[k].isNull(), F.lit("")).otherwise(
            F.concat(F.lit(k + "\xff"), entries[k])
        )
        for k in sorted(entries)
    ]
    return F.concat(*pieces) if pieces else F.lit("")


def sig_from_sig2(sig2: Column) -> Column:
    """The signature of an invertible signature: its pair separators dropped."""
    return F.replace(sig2, F.lit(_PAIR_SEP), F.lit(""))


def _labels_from_sig2(sig2: Column) -> Column:
    """Rebuild the label map from the invertible signature."""
    def entry(pair: Column):
        key = F.substring_index(pair, "\xff", 1)
        value = pair.substr(F.length(key) + F.lit(2), F.length(pair))
        return F.struct(key.alias("key"), value.alias("value"))

    return F.when(sig2 == "", empty_map()).otherwise(
        F.map_from_entries(F.transform(F.split(sig2, _PAIR_SEP), entry))
    )


def series_key(sig: Column) -> Column:
    """64-bit series key: fact rows carry an 8-byte hash of the signature
    instead of the ~60-byte string — big shuffles shrink ~3×. The string
    signature lives only in the series dim; ``rollup.tiers.series_dim``
    asserts hash-injectivity over the observed series on request (a 64-bit
    collision over even 10^9 series is ~3% birthday risk — the check
    catches it)."""
    return F.xxhash64(sig)


def dim_from_sig2(rel: DataFrame, sig2: str = "_sig2") -> DataFrame:
    """The series dim [skey, sig, labels, ord] of a relation's invertible
    signature column ``sig2``, computed on its (dim-sized) rows: the sig is
    the sig2 without pair separators, the skey its ``series_key``, the
    label map rebuilt from the sig2, and the output order the sig itself."""
    return rel.select(sig_from_sig2(F.col(sig2)).alias("sig"), sig2).select(
        series_key(F.col("sig")).alias("skey"),
        "sig",
        _labels_from_sig2(F.col(sig2)).alias("labels"),
        F.col("sig").alias("ord"),
    )


def narrow_fact(rel: DataFrame) -> bool:
    """Whether ``rel`` is the narrow fact (skey, ts, seq, value) rather than
    wide samples whose series is their ``labels`` map."""
    return "skey" in rel.columns and "labels" not in rel.columns


def fact_skey(rel: DataFrame) -> Column:
    """The series key of each row of a narrow fact or of wide samples."""
    return F.col("skey") if narrow_fact(rel) else series_key(sig_expr(F.col("labels")))


# packed (ts, seq) ordering key: first/last picks over a LONG keep the
# aggregation in HashAggregate (struct keys force SortAggregate). Ties only
# wrap at seq deltas of 2^21 within one millisecond of one series, and the
# ts*2^21 product wraps int64 at ts >= 2^42 ms (~year 2109) — both out of
# contract for log timestamps (same envelope as the reference's i64-ms
# model; see COVERAGE.md)
_OKEY_SEQ_SPAN = 1 << 21


def okey_expr(seq: bool = True) -> Column:
    """The packed ordering key ``ts·2^21 + seq mod 2^21``. ``seq=False``
    packs a stream with one point per (series, ts), whose seq is 0."""
    ts = F.col("ts") * F.lit(_OKEY_SEQ_SPAN)
    return ts + F.pmod(F.col("seq"), F.lit(_OKEY_SEQ_SPAN)) if seq else ts


@dataclass
class Check:
    df: DataFrame  # non-empty ⇒ violation
    message: str


@dataclass
class ScalarResult:
    value: float
    checks: list[Check] | None = None

    def __post_init__(self):
        if self.checks is None:
            self.checks = []


class ScalarSeries:
    """Per-instant scalar (extension): the value of ``scalar(v)`` / ``time()``
    at every grid instant — one fact row [instant: long, value: double] per
    instant, no series dimension. Binary ops against vectors join these
    facts by instant (the Prometheus scalar-expression semantics the
    reference's plan-time-folded scalars can't express)."""

    def __init__(self, grid: DataFrame, facts: DataFrame,
                 checks: list[Check] | None = None):
        self.grid = grid
        self.facts = facts
        self.checks = checks if checks is not None else []


class VectorFrame:
    """Instant vector: ``grid`` lists every emitted instant (including ones
    whose vector is empty — pq emits empty vectors); ``facts``/``dim`` hold
    the non-empty samples in star-schema form."""

    def __init__(self, grid: DataFrame, facts: DataFrame, dim: DataFrame,
                 checks: list[Check] | None = None):
        self.grid = grid
        self.facts = facts
        self.dim = dim
        self.checks = checks if checks is not None else []

    @property
    def cells(self) -> DataFrame:
        """Wide view [instant, sig, labels, ord, value] for the output edge."""
        return self.facts.join(F.broadcast(self.dim), "skey").select(*WIDE_COLS)

    @classmethod
    def wide(cls, grid: DataFrame, cells: DataFrame,
             checks: list[Check] | None = None) -> "VectorFrame":
        """Wrap a wide [instant, sig, labels, ord, value] relation (used by
        extension ops whose output identity isn't a pure series function).
        Keys rows by hash(sig, ord) so distinct (sig, ord) pairs stay
        distinct."""
        skey = F.xxhash64("sig", "ord")
        dim = (
            cells.select(skey.alias("skey"), "sig", "labels", "ord")
            .dropDuplicates(["skey"])
        )
        facts = cells.select("instant", skey.alias("skey"), "value")
        return cls(grid, facts, dim, checks)


class RangeFrame:
    """Range vector: one fact row per window point
    [instant, skey, value, ts, seq, _okey]."""

    def __init__(self, grid: DataFrame, facts: DataFrame, dim: DataFrame,
                 checks: list[Check] | None = None):
        self.grid = grid
        self.facts = facts
        self.dim = dim
        self.checks = checks if checks is not None else []
