"""As-of join and bucketed range join (pq_spark/timejoin.py): semantics
against a naive reference computed driver-side, plus the plan-shape
properties that make them scale (single Exchange for asof; no
nested-loop join for range)."""

import re

import pytest
from pyspark.sql import Row, functions as F

from pq_spark.timejoin import asof_join, range_join


def _plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def _mk(spark, rows, schema):
    return spark.createDataFrame([Row(**r) for r in rows], schema)


LEFT = [
    dict(k="a", lts=100, pay="p1"),
    dict(k="a", lts=200, pay="p2"),
    dict(k="a", lts=250, pay="p3"),
    dict(k="b", lts=100, pay="p4"),   # key with no right rows at all
    dict(k="c", lts=50, pay="p5"),    # before c's first right row
    dict(k="c", lts=500, pay="p6"),
]
RIGHT = [
    dict(k="a", rts=100, v=1.0, s="r1"),
    dict(k="a", rts=240, v=2.0, s="r2"),
    dict(k="c", rts=100, v=3.0, s=None),  # null VALUE must still match whole-row
    dict(k="c", rts=90, v=9.0, s="old"),
]


@pytest.fixture()
def frames(spark):
    l = _mk(spark, LEFT, "k string, lts long, pay string")
    r = _mk(spark, RIGHT, "k string, rts long, v double, s string")
    return l, r


def _res(df):
    return {
        (r["k"], r["lts"]): (r["rts"], r["v"], r["s"])
        for r in df.collect()
    }


def test_asof_backward_inclusive(frames):
    l, r = frames
    out = _res(asof_join(l, r, on=["k"], left_ts="lts", right_ts="rts"))
    assert out[("a", 100)] == (100, 1.0, "r1")      # equal ts matches (inclusive)
    assert out[("a", 200)] == (100, 1.0, "r1")
    assert out[("a", 250)] == (240, 2.0, "r2")
    assert out[("b", 100)] == (None, None, None)    # keyless left stays (outer)
    assert out[("c", 50)] == (None, None, None)     # before first right row
    # the carried row is ATOMIC: rts=100's null `s` must not be patched
    # with the older row's "old"
    assert out[("c", 500)] == (100, 3.0, None)
    assert len(out) == len(LEFT)                    # exactly one row per left row


def test_asof_backward_strict(frames):
    l, r = frames
    out = _res(asof_join(l, r, on=["k"], left_ts="lts", right_ts="rts",
                         inclusive=False))
    assert out[("a", 100)] == (None, None, None)    # equal ts excluded
    assert out[("a", 250)] == (240, 2.0, "r2")


def test_asof_forward(frames):
    l, r = frames
    out = _res(asof_join(l, r, on=["k"], left_ts="lts", right_ts="rts",
                         direction="forward"))
    assert out[("a", 100)] == (100, 1.0, "r1")      # inclusive at equal ts
    assert out[("a", 200)] == (240, 2.0, "r2")
    assert out[("a", 250)] == (None, None, None)    # nothing after 250
    assert out[("c", 50)] == (90, 9.0, "old")


def test_asof_tolerance(frames):
    l, r = frames
    out = _res(asof_join(l, r, on=["k"], left_ts="lts", right_ts="rts",
                         tolerance_ms=50))
    assert out[("a", 200)] == (None, None, None)    # 100 ms away > 50
    assert out[("a", 250)] == (240, 2.0, "r2")      # 10 ms away


def test_asof_rejects_column_collision(frames):
    l, r = frames
    with pytest.raises(ValueError, match="collide"):
        asof_join(l, r.withColumnRenamed("v", "pay"),
                  on=["k"], left_ts="lts", right_ts="rts")


def test_asof_single_exchange_plan(spark, frames):
    """The scale property: ONE hash Exchange on the series key feeds the
    sort+window carry — no inequality join, no nested loop, no second
    shuffle. This is what keeps the operator linear at 100 TB."""
    l, r = frames
    plan = _plan(spark, asof_join(l, r, on=["k"], left_ts="lts",
                                  right_ts="rts"))
    exchanges = [ln for ln in plan.splitlines()
                 if re.match(r"^\(\d+\) Exchange", ln)]
    assert len(exchanges) == 1, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def _naive_range(spark, l, iv):
    got = (
        l.crossJoin(iv)
        .filter((F.col("lts") >= F.col("start")) & (F.col("lts") < F.col("end")))
        .select("eid", "iid")
        .collect()
    )
    return sorted((r["eid"], r["iid"]) for r in got)


RJ_LEFT = [dict(eid=i, lts=t) for i, t in
           enumerate([0, 99, 100, 150, 199, 200, 350, 1000, 2500])]
RJ_IV = [
    dict(iid=0, start=100, end=200),    # exactly one bucket (bucket=100)
    dict(iid=1, start=150, end=400),    # spans 3 buckets, overlaps iid=0
    dict(iid=2, start=2500, end=2501),  # 1-ms interval
    dict(iid=3, start=500, end=500),    # empty: matches nothing
    dict(iid=4, start=700, end=600),    # inverted: matches nothing
]


def test_range_join_matches_naive(spark):
    l = _mk(spark, RJ_LEFT, "eid long, lts long")
    iv = _mk(spark, RJ_IV, "iid long, start long, end long")
    got = range_join(l, iv, left_ts="lts", start="start", end="end",
                     bucket_ms=100)
    pairs = sorted((r["eid"], r["iid"]) for r in got.select("eid", "iid").collect())
    assert pairs == _naive_range(spark, l, iv)
    # spot the semantics the naive join encodes: end-exclusive,
    # start-inclusive, many-to-many on the overlap
    assert (3, 0) in pairs and (3, 1) in pairs and (4, 0) in pairs
    assert (5, 0) not in pairs and (5, 1) in pairs          # end exclusive
    assert (8, 2) in pairs                                   # 1-ms interval


def test_range_join_bucket_width_invariance(spark):
    l = _mk(spark, RJ_LEFT, "eid long, lts long")
    iv = _mk(spark, RJ_IV, "iid long, start long, end long")
    expect = _naive_range(spark, l, iv)
    for b in (1, 7, 100, 1000, 10_000):
        got = range_join(l, iv, left_ts="lts", start="start", end="end",
                         bucket_ms=b)
        assert sorted((r["eid"], r["iid"]) for r in got.collect()) == expect, b


def test_range_join_keyed(spark):
    l = _mk(spark, [dict(k="x", eid=0, lts=150), dict(k="y", eid=1, lts=150)],
            "k string, eid long, lts long")
    iv = _mk(spark, [dict(k="x", iid=0, start=100, end=200)],
             "k string, iid long, start long, end long")
    got = range_join(l, iv, left_ts="lts", start="start", end="end",
                     on=["k"], bucket_ms=100).select("eid", "iid").collect()
    assert [(r["eid"], r["iid"]) for r in got] == [(0, 0)]   # key isolates y


def test_range_join_fanout_guard(spark):
    l = _mk(spark, RJ_LEFT, "eid long, lts long")
    iv = _mk(spark, [dict(iid=0, start=0, end=10_000_000)],
             "iid long, start long, end long")
    with pytest.raises(Exception, match="range_join"):
        range_join(l, iv, left_ts="lts", start="start", end="end",
                   bucket_ms=100, max_fanout=10).collect()


def test_range_join_no_nested_loop_plan(spark):
    l = _mk(spark, RJ_LEFT, "eid long, lts long")
    iv = _mk(spark, RJ_IV, "iid long, start long, end long")
    plan = _plan(spark, range_join(l, iv, left_ts="lts", start="start",
                                   end="end", bucket_ms=100))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_sessionize_semantics(spark):
    """Hand-computed sessions: gap > gap_ms splits, gap == gap_ms does
    not, ties at one ts never split, per-key streams are independent,
    and agg columns roll up per session."""
    from pq_spark.timejoin import sessionize

    rows = [
        # key a: [0, 100, 200] | gap 301 > 300 | [501] | [900, 900]
        ("a", 0, 1.0), ("a", 100, 2.0), ("a", 200, 3.0),
        ("a", 501, 4.0), ("a", 900, 5.0), ("a", 900, 6.0),
        # key b: gap exactly 300 does NOT split
        ("b", 0, 1.0), ("b", 300, 1.0), ("b", 600, 1.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts long, v double")
    out = {(r["k"], r["session_id"]): r
           for r in sessionize(df, "ts", ["k"], gap_ms=300,
                               agg={"v": "sum"}).collect()}
    assert len(out) == 4
    a1, a2, a3 = out[("a", 1)], out[("a", 2)], out[("a", 3)]
    assert (a1["session_start"], a1["session_end"], a1["n_events"],
            a1["sum_v"]) == (0, 200, 3, 6.0)
    assert (a2["session_start"], a2["session_end"], a2["n_events"]) == (
        501, 501, 1)
    assert (a3["session_start"], a3["session_end"], a3["n_events"],
            a3["sum_v"]) == (900, 900, 2, 11.0)
    b1 = out[("b", 1)]
    assert (b1["session_start"], b1["session_end"], b1["n_events"]) == (
        0, 600, 3)


def test_sessionize_single_exchange_plan(spark):
    """One hash partition by the series keys carries the lag window, the
    running counter AND feeds the session groupBy prefix-compatibly;
    no SortAggregate."""
    import re as _re

    from pq_spark.timejoin import sessionize

    df = spark.range(0, 1000).select(
        (F.col("id") % 7).cast("string").alias("k"),
        (F.col("id") * 37 % 10000).alias("ts"),
        F.rand(1).alias("v"),
    )
    plan = _plan(spark, sessionize(df, "ts", ["k"], gap_ms=100))
    ex = [l for l in plan.splitlines() if _re.match(r"^\(\d+\) Exchange", l)]
    # one Exchange for the window partitioning; the groupBy on
    # (k, session_id) may add at most one more
    assert len(ex) <= 2, plan
    assert "SortAggregate" not in plan, plan
