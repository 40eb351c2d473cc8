"""Physical-plan regression gates for the star-schema planner claims
(PLANS.md): zero SortAggregates and no label maps / signature strings in
any shuffle Exchange for the headline queries. These are the properties
that make the plans survive a 100× scale-up; pin them so a future change
can't silently regress to wide shuffles or per-partition sorts."""

import re

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

QUERIES = entrymod.queries()

HEADLINE = [
    "pq_instant_vector",
    "pq_sum_by_et",
    "pq_vector_matching",
    "pq_count_over_time",
    "pq_rate_1h",
    "pq_topk2_by_et",
    "pq_count_quirk_by_et",
    "pq_last_over_time",
]


def _formatted_plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


@pytest.mark.parametrize("name", HEADLINE)
def test_no_sort_aggregate_and_narrow_exchanges(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    plan = _formatted_plan(spark, df)
    lines = plan.splitlines()

    sort_aggs = [l for l in lines if re.match(r"^\(\d+\) SortAggregate", l)]
    assert not sort_aggs, f"{name}: SortAggregate in plan\n" + "\n".join(sort_aggs)

    # FACT-shaped shuffle Exchanges (anything carrying sample values or
    # grid instants) must move no map<string,string> and no signature
    # strings. Dim-shaped exchanges (no value/instant columns — series-
    # count rows by construction: the _sig2 discovery distinct and the
    # _ordn per-group rank) are allowed to carry signature strings.
    bad = []
    for i, l in enumerate(lines):
        if re.match(r"^\(\d+\) Exchange", l):
            blk = " ".join(lines[i : i + 3])
            fact_shaped = re.search(r"\b(value|_lvalue|_rvalue|instant)#", blk) or (
                "valueWithExtremumOrdering" in blk
            )
            if not fact_shaped:
                continue
            if "map<" in blk or re.search(r"\blabels#", blk) or re.search(
                r"\b_?[gm]?sig2?#", blk
            ):
                bad.append(blk[:200])
    assert not bad, f"{name}: wide fact exchange\n" + "\n".join(bad)


def test_matcher_pushdown_reaches_scan(spark):
    """Label matchers filter the _lbl_* passthrough columns, so Catalyst
    pushes them into the parquet scan (PLANS.md §1) — partition pruning on
    a real partitioned table."""
    from pq_spark.driver_queries import _cells

    df = _cells(spark, SF_DIR, 'value{et="click"}', 60_000, ("et", "ub"))
    plan = _formatted_plan(spark, df)
    assert re.search(r"PushedFilters: \[.*EqualTo\(event_type,click\)", plan), plan


def test_single_metric_scan_prunes_branches(spark):
    """Metric-branch pruning (PLANS.md §1): a single-metric selector leaves
    no Union and no Generate in the plan, and reads only that metric's
    column."""
    from pyspark.sql import functions as F

    from pq_spark.engine.ingest import samples_from_table
    from pq_spark.engine.runner import PqEngine

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    src = ev.select(
        F.col("event_id"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.col("event_type").alias("et"),
        F.col("value"),
        (F.col("value") * 2).alias("value2"),
    )
    samples = samples_from_table(
        src, "ts_ms", ["value", "value2"], ["et"], seq_col="event_id", ts_unit="ms"
    )
    vf = PqEngine(spark, strict=False).evaluate("value", samples, interval_ms=60_000)
    plan = _formatted_plan(spark, vf.cells)
    assert "Union" not in plan
    assert not re.search(r"^\(\d+\) Generate Explode\(stack", plan, re.M)
    for m in re.finditer(r"ReadSchema: (\S+)", plan):
        assert "value2" not in m.group(1), m.group(1)


def test_high_fanout_plans_avoid_explode(spark):
    """Above the fan-out switch, instant and over-time plans must contain
    no serving-instant Generate over a k0..k1 sequence (the row
    multiplication the adaptive strategies exist to avoid) — they run as
    per-series window plans instead."""
    from pq_spark.driver_queries import event_samples
    from pq_spark.engine.runner import PqEngine

    samples = event_samples(spark, SF_DIR)
    eng = PqEngine(spark, strict=False)
    # ratio 60 > 16 for both: lookback 1h @ 1m grid / range 1h @ 1m grid
    for q, kw in [("value", dict(interval_ms=60_000, lookback_ms=3_600_000)),
                  ("sum_over_time(value[1h])", dict(interval_ms=60_000))]:
        vf = eng.evaluate(q, samples, since_ms=1_704_067_200_000, **kw)
        plan = _formatted_plan(spark, vf.cells)
        assert not re.search(r"^\(\d+\) Generate explode\(sequence\(_k0", plan, re.M), (q, plan)
        assert "Window" in plan, q


TIER_FAMILY = [
    "tier_1m",
    "tier_1d_cascade",
    "gapfill_1m_day1",
    "pq_sum_by_et_over_tier_1m",
    "pq_sum_over_time_over_tier_1m",
    "pq_rate_over_tier_1m",
    "tier_routed_window",
]


@pytest.mark.parametrize("name", TIER_FAMILY)
def test_tier_family_no_sort_aggregate(spark, name):
    """The rollup/serving family must stay in HashAggregate: label maps
    never ride through an aggregation buffer (series identity is the
    invertible signature string, rebuilt dim-side after the shuffle)."""
    df = QUERIES[name](spark, SF_DIR)
    plan = _formatted_plan(spark, df)
    sort_aggs = [
        l for l in plan.splitlines() if re.match(r"^\(\d+\) SortAggregate", l)
    ]
    assert not sort_aggs, f"{name}: SortAggregate in plan\n" + "\n".join(sort_aggs)


@pytest.mark.parametrize(
    "name", ["pq_sum_over_time_over_tier_1m", "pq_rate_over_tier_1m"]
)
def test_tier_serving_derives_dim_once(spark, name):
    """Windows served from tier partials stay keyed by the 64-bit skey and
    take labels from ONE series dim: exactly one Exchange partitions on the
    dim's _sig2 discovery key, and no Exchange shuffles rows on the string
    sig (the retired wide path re-derived the dim per consumer and keyed
    the window aggregation by sig)."""
    plan = _formatted_plan(spark, QUERIES[name](spark, SF_DIR))
    keys = [
        re.findall(r"(\w+)#", k)
        for k in re.findall(r"hashpartitioning\((.*?), \d+\)", plan)
    ]
    assert sum(1 for k in keys if k == ["_sig2"]) == 1, keys
    assert not any("sig" in k for k in keys), keys


# round-4 pipeline operators: the scale contracts are (a) no SortAggregate,
# (b) no cartesian product anywhere (the engine's known 1-row bounds
# broadcasts don't appear in these plans), and (c) contamination's
# benchmark side enters as a BROADCAST hash join, never a shuffle join of
# the corpus on a shingle key.
PIPELINE_OPS = [
    "sample_bernoulli",
    "sample_stratified",
    "text_clean",
    "text_pii_redact",
    "contam_overlap",
    "text_repetition",
    "shard_stats",
    "pq_quantile_over_time",
    "pq_stress_topk_rate",
    "text_chunks",
    "pq_histogram_quantile",
    "sample_weighted",
    "seq_pack",
    "quality_filter",
    "text_dup_spans",
    "host_stats",
]


@pytest.mark.parametrize("name", PIPELINE_OPS)
def test_pipeline_ops_plan_shapes(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    plan = _formatted_plan(spark, df)
    lines = plan.splitlines()
    sort_aggs = [l for l in lines if re.match(r"^\(\d+\) SortAggregate", l)]
    assert not sort_aggs, f"{name}: SortAggregate\n" + "\n".join(sort_aggs)
    cart = [l for l in lines if "CartesianProduct" in l]
    assert not cart, f"{name}: cartesian product\n" + "\n".join(cart)
    if name == "contam_overlap":
        assert "BroadcastHashJoin" in plan, "benchmark side must broadcast"
        assert "SortMergeJoin" not in plan, "corpus must not shuffle-join on shingles"
    if name == "sample_stratified":
        # round-4 verdict item 1: no corpus-sized single-stratum window.
        # The bottom-most Window (phase 1, over the raw scan) must
        # partition by (stratum, salt) — two expressions — so a Zipfian
        # hot stratum shards across n_salt tasks; only the survivor-sized
        # phase-2 window may partition by the stratum alone.
        wins = [l for l in lines if re.match(r"^\(\d+\) Window", l)]
        assert len(wins) >= 2, f"two-phase top-k expected two Windows\n{plan}"
        assert "_salt" in plan, f"phase-1 window must partition by salt\n{plan}"
    if name == "sample_weighted":
        # A-Res rides the same two-phase salted top-k contract as
        # sample_stratified: the data-sized phase-1 window partitions by
        # _salt; only the ≤ k·n_salt survivor window may be global
        wins = [l for l in lines if re.match(r"^\(\d+\) Window", l)]
        assert len(wins) >= 2, f"two-phase top-k expected two Windows\n{plan}"
        assert "_salt" in plan, f"phase-1 window must partition by salt\n{plan}"
    if name == "seq_pack":
        # distributed prefix sum: the running-sum window must partition by
        # the range bucket (_pid) — a GLOBAL running-sum window would
        # serialize the corpus through one task
        assert "_pid" in plan, f"prefix-sum window must partition by _pid\n{plan}"
        bad = [
            l for l in plan.splitlines()
            if "windowspecdefinition(" in l and "sum(" in l and "_pid" not in l
        ]
        assert not bad, "global running-sum window\n" + "\n".join(bad)
    if name == "quality_filter":
        # the Gopher verdict must stay a pure per-row projection: a
        # hash-partitioned exchange would mean a feature (e.g. the
        # top-word count) leaked into an aggregation. The only allowed
        # exchange is _docs' round-robin input split.
        assert "hashpartitioning" not in plan, (
            f"quality_filter must not shuffle on any key\n{plan}"
        )
    if name == "text_repetition":
        # round-4 verdict item 4: the raw gram string must not ride an
        # exchange — aggregates key on the 60-bit portable hash
        exch = [l for l in lines if "hashpartitioning" in l]
        assert not any(" g#" in l or "(g#" in l for l in exch), (
            "gram string used as a shuffle key\n" + "\n".join(exch)
        )
