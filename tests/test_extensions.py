"""Extension operators (beyond the reference's executable surface):
quantile/stddev/stdvar, clamp family, label_replace, logical ops, rate."""

import pytest

from pq_spark.engine.frames import VectorFrame
from pq_spark.engine.runner import PqEngine
from pq_spark.errors import PqError

SCHEMA = "seq long, ts long, name string, labels map<string,string>, value double"

ROWS = [
    (1, 1000, "m", {"__name__": "m", "a": "x1"}, 1.0),
    (2, 1000, "m", {"__name__": "m", "a": "y2"}, 3.0),
    (3, 1000, "m", {"__name__": "m", "a": "z"}, 5.0),
    (4, 1000, "n", {"__name__": "n", "a": "x1"}, 7.0),
]


@pytest.fixture()
def samples(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def _cells(result: VectorFrame):
    return sorted(
        (r["instant"], tuple(sorted(r["labels"].items())), r["value"])
        for r in result.cells.collect()
    )


def _cells_many(eng, sdf, queries, **kw):
    """Evaluate independent queries concurrently (wall time here is Spark
    job latency, not compute) and return {query: cells}."""
    from concurrent.futures import ThreadPoolExecutor

    def one(q):
        return q, _cells(eng.evaluate(q, sdf, **kw))

    with ThreadPoolExecutor(max_workers=min(8, len(queries))) as ex:
        return dict(ex.map(one, queries))


def test_reference_parity_rejects_extensions(spark, samples):
    eng = PqEngine(spark, extensions=False)
    for q in ["quantile(0.5, m)", "stddev(m)", "clamp(m, 0, 2)",
              'label_replace(m, "b", "$1", "a", "(x)1")', "m and n"]:
        with pytest.raises(PqError):
            eng.evaluate(q, samples)


def test_quantile_stddev(spark, samples):
    eng = PqEngine(spark, extensions=True)
    got = _cells_many(eng, samples, ["quantile(0.5, m)", "stdvar(m)"])
    assert got["quantile(0.5, m)"][0][2] == 3.0
    assert abs(got["stdvar(m)"][0][2] - 8.0 / 3.0) < 1e-12


def test_quantile_phi_nan_and_out_of_range(spark, samples):
    # Prometheus rule: φ=NaN → NaN (Spark's percentile would reject it at
    # runtime — NaN passes both range guards), φ<0 → −Inf, φ>1 → +Inf;
    # same for the over-time variant (round-4 ADVICE item)
    import math

    eng = PqEngine(spark, extensions=True)
    got = _cells_many(eng, samples, [
        "quantile(NaN, m)", "quantile_over_time(NaN, m[1s])",
        "quantile(-0.5, m)", "quantile(1.5, m)"])
    for q in ["quantile(NaN, m)", "quantile_over_time(NaN, m[1s])"]:
        assert got[q] and all(math.isnan(v) for (_, _, v) in got[q]), q
    g = got["quantile(-0.5, m)"]
    assert g and all(v == float("-inf") for (_, _, v) in g)
    g = got["quantile(1.5, m)"]
    assert g and all(v == float("inf") for (_, _, v) in g)


def test_clamp(spark, samples):
    eng = PqEngine(spark, extensions=True)
    got = _cells(eng.evaluate("clamp(m, 2, 4)", samples))
    assert [v for (_, _, v) in got] == [2.0, 3.0, 4.0]


def test_label_replace(spark, samples):
    eng = PqEngine(spark, extensions=True)
    got = _cells(eng.evaluate('label_replace(m, "b", "got-$1", "a", "(x)1")', samples))
    by_a = {dict(l).get("a"): dict(l).get("b") for (_, l, _) in got}
    assert by_a == {"x1": "got-x", "y2": None, "z": None}


def test_logical_ops(spark, samples):
    eng = PqEngine(spark, extensions=True)
    got = _cells_many(eng, samples, ["m and n", "m unless n", "m or n"])
    # 'and' keeps lhs samples whose match-labels exist on the rhs
    assert [dict(l)["a"] for (_, l, _) in got["m and n"]] == ["x1"]
    assert sorted(dict(l)["a"] for (_, l, _) in got["m unless n"]) == ["y2", "z"]
    # n's only series shares match-labels {a: x1} with an lhs series, so
    # 'or' contributes nothing beyond the three m series
    assert len(got["m or n"]) == 3


def test_rate(spark):
    rows = [
        (1, 0, "c", {"__name__": "c"}, 0.0),
        (2, 10_000, "c", {"__name__": "c"}, 50.0),
        (3, 20_000, "c", {"__name__": "c"}, 100.0),
    ]
    sdf = spark.createDataFrame(rows, SCHEMA)
    eng = PqEngine(spark, extensions=True)
    got = _cells(eng.evaluate("rate(c[30s])", sdf, interval_ms=30_000))
    # window ending 29.999s: first=0@0s, last=100@20s → 100/20 = 5/s
    assert got[0][2] == 5.0


def test_group_left(spark):
    rows = [
        # many side: per-path request counts
        (1, 1000, "req", {"__name__": "req", "job": "api", "path": "/a"}, 10.0),
        (2, 1000, "req", {"__name__": "req", "job": "api", "path": "/b"}, 20.0),
        # one side: per-job capacity
        (3, 1000, "cap", {"__name__": "cap", "job": "api", "ver": "v2"}, 2.0),
    ]
    sdf = spark.createDataFrame(rows, SCHEMA)
    eng = PqEngine(spark, extensions=True)
    got = _cells(eng.evaluate('req * on(job) group_left(ver) cap', sdf))
    by_path = {dict(l)["path"]: (v, dict(l).get("ver")) for (_, l, v) in got}
    assert by_path == {"/a": (20.0, "v2"), "/b": (40.0, "v2")}

    # group_right mirrors operand roles
    got = _cells(eng.evaluate('cap * on(job) group_right() req', sdf))
    assert sorted(v for (_, _, v) in got) == [20.0, 40.0]

    # reference parity: plan error when extensions are off
    with pytest.raises(PqError):
        PqEngine(spark, extensions=False).evaluate(
            'req * on(job) group_left cap', sdf)


def test_absent_and_absent_over_time(spark):
    eng = PqEngine(spark, extensions=True)
    rows = [(1, 1000, "m", {"__name__": "m", "a": "x"}, 5.0),
            (2, 9000, "m", {"__name__": "m", "a": "x"}, 6.0)]
    sdf = spark.createDataFrame(rows, SCHEMA)
    # absent: 1 where the instant-vector window is empty, labels from
    # equality matchers minus __name__
    got = _cells(eng.evaluate('absent(m{a="x"})', sdf, since_ms=1000,
                              interval_ms=1000))
    assert [t for (t, _, _) in got] == [2999, 3999, 4999, 5999, 6999, 7999, 8999]
    assert all(l == (("a", "x"),) and v == 1.0 for (_, l, v) in got)
    # absent_over_time: same presence test over the RANGE window
    got = _cells(eng.evaluate('absent_over_time(m{a="x"}[3s])', sdf,
                              since_ms=1000, interval_ms=1000))
    assert [t for (t, _, _) in got] == [4999, 5999, 6999, 7999, 8999]
    # non-extension sessions reject it
    with pytest.raises(PqError):
        PqEngine(spark, extensions=False).evaluate("absent(m)", sdf)


def test_vector_const(spark):
    """Extension vector(s): one label-less series carrying s at every grid
    instant (the reference parses vector() but panics, ast.rs:294-331)."""
    from pq_spark.engine.runner import PqEngine

    eng = PqEngine(spark, strict=False, extensions=True)
    lines = ["2021-01-01T00:00:01 a 1", "2021-01-01T00:00:03 a 2"]
    prog = r"/^(\S+) (\S+) (\d+)$/ | map {.0:ts, .1:str as l, .2:num as v} | select vector(7)"
    r = eng.run_program(prog, lines)
    got = [(x["instant"], x["value"], dict(x["labels"])) for x in
           r.query_result.cells.orderBy("instant").collect()]
    t0 = 1609459201999
    assert got == [(t0, 7.0, {}), (t0 + 1000, 7.0, {}), (t0 + 2000, 7.0, {})]


def test_vector_requires_extensions(spark):
    from pq_spark.engine.runner import PqEngine
    from pq_spark.errors import PqError

    eng = PqEngine(spark, strict=False, extensions=False)
    lines = ["2021-01-01T00:00:01 a 1"]
    prog = r"/^(\S+) (\S+) (\d+)$/ | map {.0:ts, .1:str as l, .2:num as v} | select vector(7)"
    try:
        eng.run_program(prog, lines).output_lines()
        assert False, "expected PqError"
    except PqError as e:
        assert "not implemented" in str(e)


def test_high_fanout_window_strategy_equivalence(spark):
    """lookback >> interval triggers the skeleton/window plan; its output
    must equal the serving-instant explode's exactly (incl. same-ms seq
    tie-breaks and staleness cut-offs)."""
    from pq_spark.engine.planner import Planner
    from pq_spark.engine.runner import PqEngine

    rows = []
    # series a: two samples same ms (seq tie-break), then a long gap
    rows += [(1, 1_000, {"__name__": "v", "k": "a"}, "v", 1.0),
             (2, 1_000, {"__name__": "v", "k": "a"}, "v", 2.0),
             (3, 250_000, {"__name__": "v", "k": "a"}, "v", 3.0)]
    # series b: sparse
    rows += [(4, 30_000, {"__name__": "v", "k": "b"}, "v", 7.0)]
    samples = spark.createDataFrame(
        rows, "seq long, ts long, labels map<string,string>, name string, value double"
    )
    eng = PqEngine(spark, strict=False)

    def run():
        vf = eng.evaluate("v", samples, interval_ms=1_000, lookback_ms=60_000)
        return sorted(
            (r["instant"], r["sig"], r["value"])
            for r in vf.cells.collect()
        )

    assert 60_000 // 1_000 > Planner.FANOUT_SWITCH
    window_out = run()
    old = Planner.FANOUT_SWITCH
    try:
        Planner.FANOUT_SWITCH = 10_000  # force the explode path
        explode_out = run()
    finally:
        Planner.FANOUT_SWITCH = old
    assert window_out == explode_out
    assert len(window_out) > 0
    # spot semantics: at instant 1999 series a carries value 2.0 (seq 2
    # wins the same-ms tie); staleness drops a after 1000+60000
    d = {(i, s): v for i, s, v in window_out}
    a_sig = [s for i, s, v in window_out if v == 2.0][0]
    assert d[(1_999, a_sig)] == 2.0
    assert (61_999, a_sig) not in d


def test_high_fanout_over_time_fused_equivalence(spark):
    """range >> interval triggers the fused sliding-window over-time plan;
    output must equal the explode path's for every function (the core six
    and the statistical extensions), incl. the last_over_time oldest-point
    quirk with same-ms seq ties."""
    from pq_spark.engine.planner import Planner
    from pq_spark.engine.runner import PqEngine

    rows = [
        (1, 1_000, {"__name__": "v", "k": "a"}, "v", 1.0),
        (2, 1_000, {"__name__": "v", "k": "a"}, "v", 2.0),
        (3, 45_000, {"__name__": "v", "k": "a"}, "v", 4.0),
        (4, 250_000, {"__name__": "v", "k": "a"}, "v", 8.0),
        (5, 30_000, {"__name__": "v", "k": "b"}, "v", 16.0),
    ]
    samples = spark.createDataFrame(
        rows, "seq long, ts long, labels map<string,string>, name string, value double"
    )
    eng = PqEngine(spark, strict=False, extensions=True)
    fns = ["count_over_time", "sum_over_time", "min_over_time",
           "max_over_time", "avg_over_time", "last_over_time",
           "quantile_over_time", "stddev_over_time", "stdvar_over_time",
           "present_over_time", "mad_over_time"]
    # the population moments may differ in the last bits: the sliding
    # window and the merged aggregate buffers sum in different orders
    moments = {"stddev_over_time", "stdvar_over_time"}

    def run(fn):
        arg = "0.5, v[60s]" if fn == "quantile_over_time" else "v[60s]"
        vf = eng.evaluate(f"{fn}({arg})", samples, interval_ms=1_000)
        return fn, sorted(
            (r["instant"], r["sig"], r["value"]) for r in vf.cells.collect()
        )

    from concurrent.futures import ThreadPoolExecutor

    # one concurrent batch per PLAN PATH (FANOUT_SWITCH is planner-global
    # state, so the two paths can't interleave — but within a path the
    # functions are independent jobs)
    assert 60 > Planner.FANOUT_SWITCH
    with ThreadPoolExecutor(max_workers=6) as ex:
        fused = dict(ex.map(run, fns))
    old = Planner.FANOUT_SWITCH
    try:
        Planner.FANOUT_SWITCH = 10_000  # force the explode path
        with ThreadPoolExecutor(max_workers=6) as ex:
            exploded = dict(ex.map(run, fns))
    finally:
        Planner.FANOUT_SWITCH = old
    for fn in fns:
        assert len(fused[fn]) > 0, fn
        if fn not in moments:
            assert fused[fn] == exploded[fn], fn
            continue
        assert [r[:2] for r in fused[fn]] == [r[:2] for r in exploded[fn]], fn
        # pytest.approx's default abs=1e-12 also admits a window whose
        # exact moment is 0 and whose other sum order leaves ~1e-15
        for f_row, e_row in zip(fused[fn], exploded[fn]):
            assert f_row[2] == pytest.approx(e_row[2], rel=1e-12), (fn, f_row)


def test_hot_series_window_plans_shard_and_match(spark):
    """One pathologically hot series spanning many lookback-width blocks:
    the (skey, time-block) sharded window plans must (a) agree with the
    explode path exactly — boundary carry-in loses nothing — and (b)
    actually partition by (skey, _blk), so the hot series spreads over
    ceil(span/lookback) tasks instead of serializing on one."""
    import re

    from pyspark.sql import functions as F

    from pq_spark.engine.planner import Planner
    from pq_spark.engine.runner import PqEngine

    hot = spark.range(3_000).select(
        F.col("id").alias("seq"),
        (F.col("id") * 997).alias("ts"),  # ~3.0M ms span, 50 blocks @60s
        F.lit("m").alias("name"),
        F.create_map(F.lit("__name__"), F.lit("m")).alias("labels"),
        (F.col("id") % 97).cast("double").alias("value"),
    )
    eng = PqEngine(spark, strict=False)

    for q, kw in [
        ("m", dict(interval_ms=1_000, lookback_ms=60_000)),
        ("sum_over_time(m[60s])", dict(interval_ms=1_000)),
        ("last_over_time(m[60s])", dict(interval_ms=1_000)),
    ]:
        def run():
            vf = eng.evaluate(q, hot, since_ms=0, **kw)
            return vf, sorted(
                (r["instant"], r["value"]) for r in vf.cells.collect()
            )

        vf, window_out = run()
        plan = vf.cells._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))
        assert re.search(r"hashpartitioning\(skey#\d+L, _blk#\d+L", plan), q

        old = Planner.FANOUT_SWITCH
        try:
            Planner.FANOUT_SWITCH = 10_000_000  # force the explode path
            _, explode_out = run()
        finally:
            Planner.FANOUT_SWITCH = old
        assert window_out == explode_out and len(window_out) > 1_000, q


def test_resets_changes(spark):
    eng = PqEngine(spark, extensions=True)
    nan = float("nan")
    rows = [
        (1, 1000, "c", {"__name__": "c"}, 5.0),
        (2, 2000, "c", {"__name__": "c"}, 3.0),   # reset + change
        (3, 3000, "c", {"__name__": "c"}, 3.0),   # neither
        (4, 4000, "c", {"__name__": "c"}, nan),   # change (3 -> NaN)
        (5, 5000, "c", {"__name__": "c"}, nan),   # NaN -> NaN: NOT a change
        (6, 6000, "c", {"__name__": "c"}, 7.0),   # change (NaN -> 7); not a
                                                  # reset (NaN < x is false)
    ]
    sdf = spark.createDataFrame(rows, SCHEMA)
    got = _cells(eng.evaluate("resets(c[6s])", sdf, since_ms=1000,
                              interval_ms=6000))
    assert got[0][2] == 1.0
    got = _cells(eng.evaluate("changes(c[6s])", sdf, since_ms=1000,
                              interval_ms=6000))
    assert got[0][2] == 3.0
    # single-point window emits 0
    got = _cells(eng.evaluate("changes(c[1s])", sdf, since_ms=1000,
                              interval_ms=1000))
    assert got[0][2] == 0.0


def test_deriv_predict_linear(spark):
    eng = PqEngine(spark, extensions=True)
    # exact line v = 2t + 1 (t in s) → slope 2 everywhere
    rows = [(i, i * 1000, "g", {"__name__": "g"}, 2.0 * i + 1.0)
            for i in range(1, 5)]
    sdf = spark.createDataFrame(rows, SCHEMA)
    got = _cells(eng.evaluate("deriv(g[4s])", sdf, since_ms=1000,
                              interval_ms=4000))
    assert abs(got[0][2] - 2.0) < 1e-9
    # prediction 3 s past the instant continues the line: value at the
    # window-end instant t=4.999 s is 2t+1 = 10.998, +3 s slope 2 → 16.998
    got = _cells(eng.evaluate("predict_linear(g[4s], 3)", sdf,
                              since_ms=1000, interval_ms=4000))
    assert abs(got[0][2] - (2.0 * 7.999 + 1.0)) < 1e-9
    # all points in one millisecond: zero time-variance windows emit nothing
    rows = [(1, 1000, "g", {"__name__": "g"}, 1.0),
            (2, 1000, "g", {"__name__": "g"}, 2.0)]
    got = _cells(eng.evaluate("deriv(g[2s])",
                              spark.createDataFrame(rows, SCHEMA),
                              since_ms=1000, interval_ms=2000))
    assert got == []


def test_label_join(spark, samples):
    eng = PqEngine(spark, extensions=True)
    got = _cells(eng.evaluate('label_join(m, "j", "-", "a", "missing")', samples))
    by_a = {dict(l)["a"]: dict(l)["j"] for (_, l, _) in got}
    # missing source labels join as empty strings
    assert by_a == {"x1": "x1-", "y2": "y2-", "z": "z-"}
    # joining only missing sources → empty value → dst removed
    got = _cells(eng.evaluate('label_join(m, "a", "-", "missing")', samples))
    assert all("a" not in dict(l) for (_, l, _) in got)


def test_trig_and_pi(spark, samples):
    import math

    eng = PqEngine(spark, extensions=True)
    got = _cells(eng.evaluate("cos(m * 0)", samples))
    assert all(v == 1.0 for (_, _, v) in got)
    # domain edges: acos(|v|>1) is NaN (libm pass-through)
    got = _cells(eng.evaluate("acos(m)", samples))  # values 1, 3, 5
    assert got[0][2] == 0.0 and all(math.isnan(v) for (_, _, v) in got[1:])
    got = _cells(eng.evaluate("m * pi()", samples))
    assert got[0][2] == math.pi
    got = _cells(eng.evaluate("deg(rad(m))", samples))
    assert abs(got[0][2] - 1.0) < 1e-12


def test_scalar_and_time(spark, samples):
    import math

    eng = PqEngine(spark, extensions=True)
    # m has 3 series → scalar(m) is NaN; n has 1 → its value
    got = _cells(eng.evaluate("n * scalar(m)", samples))
    assert got and all(math.isnan(v) for (_, _, v) in got)
    got = _cells(eng.evaluate("m * scalar(n)", samples))
    assert sorted(v for (_, _, v) in got) == [7.0, 21.0, 35.0]
    # time() is the instant in seconds; top-level scalar series render as
    # a label-less vector
    got = _cells(eng.evaluate("time()", samples))
    assert got and all(l == () and v == (t / 1000.0) for (t, l, v) in got)


def test_round5_extensions_rejected_without_flag(spark, samples):
    eng = PqEngine(spark, extensions=False)
    for q in ["resets(m[2s])", "changes(m[2s])", "deriv(m[2s])",
              "predict_linear(m[2s], 1)", 'label_join(m, "d", "-", "a")',
              "sin(m)", "pi()", "scalar(m)", "time()",
              "histogram_quantile(0.5, m)"]:
        with pytest.raises(PqError):
            eng.evaluate(q, samples)


def test_histogram_quantile(spark):
    import math

    eng = PqEngine(spark, extensions=True)

    def hist(rows):
        data = [
            (i + 1, 1000, "h",
             {"__name__": "h", "g": grp, "le": le}, float(cnt))
            for i, (grp, le, cnt) in enumerate(rows)
        ]
        return spark.createDataFrame(data, SCHEMA)

    # every case is an independent (φ, histogram) evaluate — gather them
    # all concurrently, assert after (wall time is job latency)
    full = hist([("a", "1", 10), ("a", "2", 30), ("a", "+Inf", 30)])
    heavy_inf = hist([("a", "1", 10), ("a", "2", 30), ("a", "+Inf", 40)])
    neg_le = hist([("a", "-1", 5), ("a", "3", 9), ("a", "+Inf", 10)])
    no_inf = hist([("a", "1", 10), ("a", "2", 30)])
    bad_le = hist([("a", "1", 10), ("a", "oops", 20), ("a", "+Inf", 20)])
    two_grp = hist([("a", "1", 10), ("a", "+Inf", 12),
                    ("b", "1", 4), ("b", "+Inf", 4)])
    jitter = hist([("a", "1", 10), ("a", "2", 9.999), ("a", "+Inf", 12)])
    cases = {
        "mid": (0.5, full), "top": (1.0, full), "inf_tail": (0.9, heavy_inf),
        "neg_le": (0.2, neg_le), "no_inf": (0.5, no_inf),
        "bad_le": (0.5, bad_le), "phi_hi": (1.5, two_grp),
        "phi_lo": (-0.5, two_grp), "phi_nan": ("NaN", two_grp),
        "jitter": (0.5, jitter),
    }

    def q(item):
        name, (phi, sdf) = item
        got = _cells(eng.evaluate(f"histogram_quantile({phi}, h)", sdf,
                                  since_ms=1000, interval_ms=1000))
        return name, {dict(l).get("g"): v for (_, l, v) in got}

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=8) as ex:
        got = dict(ex.map(q, cases.items()))

    # rank = 0.5*30 = 15 → bucket le=2: 1 + (2-1)*(15-10)/(30-10) = 1.25
    assert got["mid"] == {"a": 1.25}
    # rank = 30 is reached by the finite le=2 bucket → interpolates to 2.0
    assert got["top"] == {"a": 2.0}
    # +Inf bucket holds mass beyond the last finite edge → answer maxfin
    assert got["inf_tail"] == {"a": 2.0}  # rank 36 > 30 → +Inf → le=2
    # first bucket with le <= 0 answers its own le (no interpolation to 0)
    assert got["neg_le"] == {"a": -1.0}  # rank 2 ≤ 5 → first bucket, le<0
    # malformed: no +Inf bucket → NaN; le must parse → series dropped
    assert all(math.isnan(v) for v in got["no_inf"].values())
    assert got["bad_le"] == {"a": 1.0}
    # φ out of range / NaN, per group
    assert got["phi_hi"] == {"a": float("inf"), "b": float("inf")}
    assert got["phi_lo"] == {"a": float("-inf"), "b": float("-inf")}
    assert all(math.isnan(v) for v in got["phi_nan"].values())
    # monotonicity clamp: a float-jittered decreasing cumulative count
    # must not break the search (ensureMonotonic)
    assert abs(got["jitter"]["a"] - 0.6) < 1e-12  # rank 6 → interp 6/10


def test_double_exponential_smoothing(spark):
    eng = PqEngine(spark, extensions=True)
    vals = [5.0, 3.0, 8.0, 6.0]
    rows = [(i + 1, (i + 1) * 1000, "m", {"__name__": "m"}, v)
            for i, v in enumerate(vals)]
    sdf = spark.createDataFrame(rows, SCHEMA)
    got = _cells(eng.evaluate(
        "double_exponential_smoothing(m[4s], 0.4, 0.3)", sdf,
        since_ms=1000, interval_ms=4000))
    # reference fold (functions.go): s0=v0, b0=v1-v0, then Holt updates
    s, b = vals[0], vals[1] - vals[0]
    for v in vals[1:]:
        s_new = 0.4 * v + 0.6 * (s + b)
        b = 0.3 * (s_new - s) + 0.7 * b
        s = s_new
    assert got[0][2] == s  # bit-exact, not approximate
    # alias parses to the same plan
    got2 = _cells(eng.evaluate("holt_winters(m[4s], 0.4, 0.3)", sdf,
                               since_ms=1000, interval_ms=4000))
    assert got2 == got
    # single-point windows emit nothing
    one = spark.createDataFrame(rows[:1], SCHEMA)
    assert _cells(eng.evaluate(
        "double_exponential_smoothing(m[1s], 0.4, 0.3)", one,
        since_ms=1000, interval_ms=1000)) == []
    # smoothing factors outside (0,1) are plan-time errors
    for q in ["holt_winters(m[2s], 0, 0.3)", "holt_winters(m[2s], 0.4, 1)"]:
        with pytest.raises(PqError):
            eng.evaluate(q, sdf)


def test_present_over_time(spark, samples):
    eng = PqEngine(spark, extensions=True)
    got = _cells(eng.evaluate("present_over_time(m[1s])", samples))
    assert got and all(v == 1.0 for (_, _, v) in got)
    # high-fanout fused path (range/interval > FANOUT_SWITCH) agrees
    rows = [(i, i * 1000, "c", {"__name__": "c"}, float(i)) for i in (1, 9)]
    sdf = spark.createDataFrame(rows, SCHEMA)
    got = _cells(eng.evaluate("present_over_time(c[20s])", sdf,
                              since_ms=1000, interval_ms=1000))
    # present at every grid instant whose 20s window holds a point
    assert got and all(v == 1.0 for (_, _, v) in got)
    with pytest.raises(PqError):
        PqEngine(spark, extensions=False).evaluate(
            "present_over_time(m[1s])", samples)


# -- PromQL subqueries (extension) -------------------------------------------

_SQ_ROWS = [
    (1, 1000, "m", {"__name__": "m", "a": "x"}, 1.0),
    (2, 3000, "m", {"__name__": "m", "a": "x"}, 5.0),
    (3, 6000, "m", {"__name__": "m", "a": "x"}, 2.0),
]


def test_subquery_max_over_time(spark):
    """max_over_time(m[4s:2s]) at interval 4s, since 1s.

    Inner instant vector (step 2s, lookback 4s): grid t0 = 1000 +
    min(4000, 2000) − 1 = 2999 → instants 2999/4999/6999/8999 with latest
    values 1/5/2/2. Outer grid t0 = 1000 + min(4000, 4000) − 1 = 4999,
    drain to 8999; windows (t−4s, t] over the inner points."""
    eng = PqEngine(spark, extensions=True)
    sdf = spark.createDataFrame(_SQ_ROWS, SCHEMA)
    got = _cells(eng.evaluate("max_over_time(m[4s:2s])", sdf,
                              since_ms=1000, interval_ms=4000))
    assert [(i, v) for (i, _, v) in got] == [(4999, 5.0), (8999, 2.0)]


def test_subquery_default_step_and_offset(spark):
    eng = PqEngine(spark, extensions=True)
    sdf = spark.createDataFrame(_SQ_ROWS, SCHEMA)
    # empty step defaults to the outer interval: inner instants 4999/8999
    # with latest 5/2 → sum windows pick exactly one point each
    got = _cells(eng.evaluate("sum_over_time(m[4s:])", sdf,
                              since_ms=1000, interval_ms=4000))
    assert [(i, v) for (i, _, v) in got] == [(4999, 5.0), (8999, 2.0)]
    # offset shifts the inner sample stream 2 s forward (selector
    # convention): windows read the subquery 2 s in the past
    got = _cells(eng.evaluate("max_over_time(m[4s:2s] offset 2s)", sdf,
                              since_ms=1000, interval_ms=4000))
    assert [(i, v) for (i, _, v) in got] == [
        (4999, 1.0), (8999, 5.0), (12999, 2.0)]


def test_subquery_over_expression(spark):
    # subquery over an aggregate: (sum by () over two series) — the inner
    # expression is re-planned per step instant, then windowed
    eng = PqEngine(spark, extensions=True)
    rows = _SQ_ROWS + [
        (4, 1000, "m", {"__name__": "m", "a": "y"}, 10.0),
        (5, 6000, "m", {"__name__": "m", "a": "y"}, 20.0),
    ]
    sdf = spark.createDataFrame(rows, SCHEMA)
    got = _cells(eng.evaluate("max_over_time((sum(m))[4s:2s])", sdf,
                              since_ms=1000, interval_ms=4000))
    # inner sums at 2999/4999/6999/8999 = 11/15/22/22
    assert [(i, v) for (i, _, v) in got] == [(4999, 15.0), (8999, 22.0)]


def test_subquery_validations(spark):
    sdf = spark.createDataFrame(_SQ_ROWS, SCHEMA)
    with pytest.raises(PqError):
        PqEngine(spark, extensions=False).evaluate(
            "max_over_time(m[4s:2s])", sdf)
    with pytest.raises(PqError):
        # scalar inner is not an instant vector
        PqEngine(spark, extensions=True).evaluate(
            "max_over_time((1)[4s:2s])", sdf)


def test_at_modifier_fixed_instant(spark):
    """`@ T` pins the window to T; every grid instant sees the same
    sample. Grid stays the selector's data-anchored grid."""
    eng = PqEngine(spark, extensions=True)
    sdf = spark.createDataFrame(_SQ_ROWS, SCHEMA)
    got = _cells(eng.evaluate("m @ 3", sdf, since_ms=1000, interval_ms=2000))
    assert [(i, v) for (i, _, v) in got] == [
        (2999, 5.0), (4999, 5.0), (6999, 5.0)]
    # range selector under an over-time fn: same fixed window everywhere
    got = _cells(eng.evaluate("sum_over_time(m[2s] @ 6.999)", sdf,
                              since_ms=1000, interval_ms=2000))
    assert [(i, v) for (i, _, v) in got] == [
        (2999, 2.0), (4999, 2.0), (6999, 2.0)]
    # offset composes: window reads 1 s in the past of T
    got = _cells(eng.evaluate("m @ 3 offset 1s", sdf,
                              since_ms=1000, interval_ms=2000))
    assert got and all(v == 1.0 for (_, _, v) in got)
    # subquery @: the outer window pinned to T over inner step instants
    got = _cells(eng.evaluate("max_over_time(m[4s:2s] @ 8.999)", sdf,
                              since_ms=1000, interval_ms=4000))
    assert [(i, v) for (i, _, v) in got] == [(4999, 2.0), (8999, 2.0)]
    # empty fixed window → no samples anywhere (grid still emits empties)
    got = _cells(eng.evaluate("m @ 0.5", sdf, since_ms=1000, interval_ms=2000))
    assert got == []
    # high-fanout ratio (range/interval > FANOUT_SWITCH) must NOT take the
    # fused sliding path — @-pinned windows are constant, not sliding
    got = _cells(eng.evaluate("sum_over_time(m[6s] @ 6.999)", sdf,
                              since_ms=1000, interval_ms=200))
    assert got and all(v == 8.0 for (_, _, v) in got)  # 1+5+2 in (999,6999]
    with pytest.raises(PqError):
        PqEngine(spark, extensions=False).evaluate("m @ 3", sdf)


def test_mad_over_time(spark):
    """median(|x − median(x)|), both medians linear-interpolated; explode
    and fused sliding-window paths agree exactly."""
    from pq_spark.engine.planner import Planner

    eng = PqEngine(spark, extensions=True)
    rows = [
        # series a at instant 4999 (window 4s): [1, 2, 4, 10]
        #   median = 3.0, |dev| sorted = [1, 1, 2, 7] → mad = 1.5
        (1, 1500, "m", {"__name__": "m", "k": "a"}, 1.0),
        (2, 2500, "m", {"__name__": "m", "k": "a"}, 2.0),
        (3, 3500, "m", {"__name__": "m", "k": "a"}, 4.0),
        (4, 4500, "m", {"__name__": "m", "k": "a"}, 10.0),
        # series b: odd count [5, 6, 9] → median 6, devs [0, 1, 3] → 1.0
        (5, 2000, "m", {"__name__": "m", "k": "b"}, 5.0),
        (6, 3000, "m", {"__name__": "m", "k": "b"}, 6.0),
        (7, 4000, "m", {"__name__": "m", "k": "b"}, 9.0),
    ]
    sdf = spark.createDataFrame(rows, SCHEMA)
    got = _cells(eng.evaluate("mad_over_time(m[4s])", sdf,
                              since_ms=1000, interval_ms=4000))
    d = {(i, dict(l)["k"]): v for (i, l, v) in got}
    assert d[(4999, "a")] == 1.5
    assert d[(4999, "b")] == 1.0
    # single-point window → mad 0
    got1 = _cells(eng.evaluate("mad_over_time(m[1s])", sdf,
                               since_ms=1000, interval_ms=1000))
    assert got1 and all(v == 0.0 for (_, _, v) in got1)

    # fused ≡ explode (range/interval = 40 > FANOUT_SWITCH triggers fused)
    def run():
        return _cells(eng.evaluate("mad_over_time(m[4s])", sdf,
                                   since_ms=1000, interval_ms=100))

    assert 40 > Planner.FANOUT_SWITCH
    fused = run()
    old = Planner.FANOUT_SWITCH
    try:
        Planner.FANOUT_SWITCH = 10_000
        exploded = run()
    finally:
        Planner.FANOUT_SWITCH = old
    assert fused == exploded and len(fused) > 0


def test_limitk(spark):
    """First k series PRESENT at each instant in sig (output-order) sig
    order — deterministic, original labels kept."""
    eng = PqEngine(spark, extensions=True)
    rows = [
        (1, 1000, "m", {"__name__": "m", "g": "1", "s": "a"}, 1.0),
        (2, 1000, "m", {"__name__": "m", "g": "1", "s": "b"}, 2.0),
        (3, 1000, "m", {"__name__": "m", "g": "1", "s": "c"}, 3.0),
        (4, 1000, "m", {"__name__": "m", "g": "2", "s": "d"}, 4.0),
        # instant 2: series a absent (stale) → b, c take the two slots
        (5, 2000, "m", {"__name__": "m", "g": "1", "s": "b"}, 20.0),
        (6, 2000, "m", {"__name__": "m", "g": "1", "s": "c"}, 30.0),
        (7, 2000, "m", {"__name__": "m", "g": "2", "s": "d"}, 40.0),
    ]
    sdf = spark.createDataFrame(rows, SCHEMA)

    q = "limitk(2, m) by (g)"
    got = _cells_many(eng, sdf, [q, "limitk(0, m)", "limitk(9, m)"],
                      since_ms=1000, interval_ms=1000, lookback_ms=1000)

    def series(query, instant):
        return sorted(dict(l)["s"] for (i, l, v) in got[query] if i == instant)

    assert series(q, 1999) == ["a", "b", "d"]  # g=1 → a,b; g=2 → d
    assert series(q, 2999) == ["b", "c", "d"]  # a stale → b,c step in
    assert series("limitk(0, m)", 1999) == []
    assert series("limitk(9, m)", 1999) == ["a", "b", "c", "d"]
    with pytest.raises(PqError):
        PqEngine(spark, extensions=False).evaluate("limitk(2, m)", sdf)


def test_limit_ratio(spark):
    """Deterministic portable-hash series sampling: r and r−1 partition
    the input exactly; selection is per-series (stable across instants)."""
    from pyspark.sql import functions as F

    eng = PqEngine(spark, extensions=True)
    sdf = spark.range(40).select(
        (F.col("id") + 1).alias("seq"),
        (F.lit(1000) + (F.col("id") % 2) * 1000).alias("ts"),
        F.lit("m").alias("name"),
        F.create_map(
            F.lit("__name__"), F.lit("m"),
            F.lit("s"), F.col("id").cast("string"),
        ).alias("labels"),
        F.col("id").cast("double").alias("value"),
    )

    def keyset(q):
        got = _cells(eng.evaluate(q, sdf, since_ms=1000, interval_ms=1000,
                                  lookback_ms=1000))
        return {(i, dict(l)["s"]) for (i, l, v) in got}

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=6) as ex:
        whole_f = ex.submit(keyset, "m")
        kept_f = ex.submit(keyset, "limit_ratio(0.4, m)")
        comp_f = ex.submit(keyset, "limit_ratio(-0.6, m)")
        kept2_f = ex.submit(keyset, "limit_ratio(0.4, m)")  # determinism
        hi_f = ex.submit(keyset, "limit_ratio(1.5, m)")
        zero_f = ex.submit(keyset, "limit_ratio(0, m)")
    whole, kept, comp = whole_f.result(), kept_f.result(), comp_f.result()
    assert kept | comp == whole and not (kept & comp)
    assert kept and comp  # 40 series: both sides populated w.h.p.
    # per-series stability: a series kept at one instant is kept at all
    kept_series = {s for (_, s) in kept}
    assert kept == {(i, s) for (i, s) in whole if s in kept_series}
    # determinism + clamping
    assert kept2_f.result() == kept
    assert hi_f.result() == whole
    assert zero_f.result() == set()
    with pytest.raises(PqError):
        PqEngine(spark, extensions=False).evaluate("limit_ratio(0.4, m)", sdf)
