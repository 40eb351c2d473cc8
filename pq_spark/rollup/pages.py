"""Common-Crawl-style page corpus: deterministic synthesis + text extraction.

The north-rule input is an Iceberg table of pages
``(url: string, warc_ts: timestamp, html: binary, text: string, lang: string)``
at 10^12-document scale. This module provides:

- ``synth_pages``: a deterministic, seeded, *distributed* generator for any
  scale (rows are generated from their index via ``spark.range`` — no driver
  data, no collect; safe to scale to billions of rows on a cluster).
  Domains are Zipfian so hot-key skew is real (map-side partial
  aggregation collapses the hot series before the tier shuffle).
- ``extract_text_udf``: the byte-identical extraction invariant — a pure
  Arrow-batched pandas UDF from ``html`` bytes to ``text``; a pure function
  of the bytes, independent of row order/partitioning.
- ``page_samples``: page table → extraction-event samples with labels
  {lang, domain} and values {text_len, content_len}, timestamp = warc_ts ms
  (SURVEY §1 mapping).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf

from ..engine.ingest import samples_from_table, series_dim_for_table

LANGS = ["en", "de", "fr", "nl", "ru"]
# Zipf-ish domain popularity: domain i gets weight ~ 1/(i+1); domain00 is hot.
N_DOMAINS = 20
# capture times fall in [START_TS_MS, START_TS_MS + SPAN_MS): three days
START_TS_MS = 1_700_000_000_000
SPAN_MS = 3 * 86_400_000

_HTML_PREFIX = b"<html><head><title>"
_HTML_MID = b"</title></head><body><p>"
_HTML_SUFFIX = b"</p></body></html>"


def synth_pages(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic synthetic page table, generated distributedly.

    Every column is a pure function of (row index, seed) via splitmix64-style
    hashing in Spark SQL (xxhash64) — identical output for any partitioning
    or cluster size.
    """
    df = spark.range(0, n_rows, 1, partitions or spark.sparkContext.defaultParallelism)
    h = F.abs(F.xxhash64(F.col("id"), F.lit(seed)))
    h2 = F.abs(F.xxhash64(F.col("id"), F.lit(seed + 1)))
    h3 = F.abs(F.xxhash64(F.col("id"), F.lit(seed + 2)))

    # Zipfian domain pick: map a uniform hash through a quadratic to skew
    # mass toward low indices (domain00 ≈ 30% of rows at N_DOMAINS=20).
    u = (h % 1_000_000) / 1_000_000.0
    dom_idx = F.least(
        F.lit(N_DOMAINS - 1), F.floor(F.lit(N_DOMAINS * 1.0) * u * u).cast("int")
    )
    domain = F.concat(F.lit("domain"), F.lpad(dom_idx.cast("string"), 2, "0"), F.lit(".example"))
    path_id = h2 % 50
    url = F.concat(
        F.lit("https://"), domain, F.lit("/page/"), path_id.cast("string"),
        F.lit("-"), F.col("id").cast("string"),
    )
    lang = F.element_at(F.array(*[F.lit(l) for l in LANGS]), (h3 % len(LANGS) + 1).cast("int"))
    ts_ms = F.lit(START_TS_MS) + (h2 % F.lit(SPAN_MS))

    # body text: deterministic function of id; variable length
    words = (h % 37 + 3).cast("int")
    body = F.concat(
        F.lit("content "), F.repeat(F.concat(F.lit("w"), (h3 % 97).cast("string"), F.lit(" ")), words),
        F.lit("of "), url,
    )
    html = F.concat(
        F.lit(_HTML_PREFIX.decode()), url,
        F.lit(_HTML_MID.decode()), body,
        F.lit(_HTML_SUFFIX.decode()),
    ).cast("binary")

    return df.select(
        url.alias("url"),
        F.timestamp_millis(ts_ms).alias("warc_ts"),
        html.alias("html"),
        body.alias("text"),
        lang.alias("lang"),
    )


def extract_text_udf():
    """Pure, order-independent html→text extraction (Arrow-batched).

    The per-row invariant (BASELINE input_hint): extracted text must be
    byte-identical to the reference ``text`` per url. Our fixture html embeds
    the body between known markers; a real corpus would swap in a proper
    parser here — the Spark-side contract (binary in → string out, pure
    function of bytes) is unchanged.
    """

    @pandas_udf("string")
    def _extract(html: pd.Series) -> pd.Series:
        def one(b):
            if b is None:
                return None
            s = bytes(b)
            i = s.find(_HTML_MID)
            if i < 0:
                return ""
            j = s.rfind(_HTML_SUFFIX)
            if j < 0:
                j = len(s)
            return s[i + len(_HTML_MID) : j].decode("utf-8", errors="strict")

        return html.map(one)

    return _extract


def _page_enriched(pages: DataFrame, verify: bool = False) -> DataFrame:
    """Narrow per-page projection feeding samples and the series dim.

    ``verify=True`` additionally computes ``_bad`` — the byte-identity
    extraction-invariant flag (pipeline.run_pipeline sums it over the
    pages that feed a stale partition, before any commit;
    pipeline.verify_extraction over all pages)."""
    cols = [
        F.unix_millis("warc_ts").alias("_ts"),
        F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("domain"),
        "lang",
        F.length("text").cast("double").alias("text_len"),
        F.length("html").cast("double").alias("content_len"),
    ]
    if verify:
        cols.append(
            (~extract_text_udf()(F.col("html")).eqNullSafe(F.col("text")))
            .cast("long")
            .alias("_bad")
        )
    return pages.select(*cols)


_PAGE_TABLE_ARGS = dict(
    ts_col="_ts",
    value_cols=["text_len", "content_len"],
    label_cols=["lang", "domain"],
    ts_unit="ms",
)


def page_samples(pages: DataFrame) -> DataFrame:
    """Page table → extraction-event samples.

    labels = {lang, domain(url)}; values = {text_len, content_len}; plus the
    synthetic ``__line__`` doc-count metric; ts = warc_ts in ms.
    """
    return samples_from_table(_page_enriched(pages), **_PAGE_TABLE_ARGS)


def page_series_dim_from_enriched(enriched: DataFrame) -> DataFrame:
    """Series dim of ``page_samples`` over the same pages via the
    label-space fast path (one narrow aggregate over page rows; equals
    ``series_dim(page_samples(pages))`` by the ``series_dim_for_table``
    contract — pinned in tests/test_rollup.py). Built from an
    already-enriched (possibly persisted) projection so the pipeline's
    fused-verify cache is reused instead of re-scanning the page table."""
    return series_dim_for_table(enriched, **_PAGE_TABLE_ARGS)


def pages_from_warc(spark, path_glob: str):
    """WARC archives → the full page table: (url, warc_ts, html) from
    ``read_warc`` plus ``text`` via the extraction seam and ``lang`` via
    the trigram language model — the complete ingest path from a
    Common-Crawl-style crawl to the north-rule table.

    Recrawls are first-class: a URL captured multiple times yields one row
    per CAPTURE. The language join is keyed by a capture key
    (url, warc_ts, content hash) deduplicated on the model side, so k
    captures of one URL produce exactly k rows — never k², and each
    capture's language comes from its own text."""
    from ..textops import lang_id
    from .warc import read_warc

    base = read_warc(spark, path_glob)
    ckey = F.xxhash64(
        F.col("url"), F.col("warc_ts").cast("string"), F.md5(F.col("html"))
    )
    with_text = base.withColumn("text", extract_text_udf()(F.col("html")))         .withColumn("_ck", ckey)
    langs = lang_id(
        with_text.select(F.col("_ck").alias("doc_id"), "text")
        .dropDuplicates(["doc_id"])
    ).select(F.col("doc_id").alias("_ck"), F.col("pred_lang").alias("lang"))
    return with_text.join(langs, "_ck").select(
        "url", "warc_ts", "html", "text", "lang"
    )
