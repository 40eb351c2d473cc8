"""Evaluation-result frames — star-schema edition.

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
  ``skey`` is a 64-bit xxhash of the series signature (same scheme as the
  tier pipeline, rollup/tiers.py); ``_okey`` is the packed ``(ts<<21 |
  seq mod 2^21)`` ordering key that keeps first/last aggregations in
  HashAggregate (struct ordering keys force SortAggregate).
- ``dim``  — the small series dimension, one row per series:
    DF[skey: long, sig: string, labels: map<string,string>, ord: string]
  ``sig`` is the series identity (sorted ``k\\xffv`` concat, reference:
  src/model/labels.rs:51-57); ``ord`` is the output sort key reproducing
  the reference's BTreeMap iteration order at each instant. Label rewrites
  (drop ``__name__``, label_replace, aggregation grouping) are dim-side
  transforms — constant cost regardless of fact cardinality.

``VectorFrame.cells`` is the wide view (facts ⋈ broadcast dim), used only
at the output edge (formatters, relational API).

``checks`` carries deferred strict-mode validations (duplicate-series /
many-to-one panics in the reference, src/query/value.rs:86-92,114-116);
they are executed right before results are collected.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

WIDE_COLS = ["instant", "sig", "labels", "ord", "value"]


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
