"""JVM half of the timestamp guess cascade (ingest._guess_ts_jvm plus the
RFC2822 claim staged above it) must agree with the Python cascade
(timeparse.try_parse_time) wherever it claims a value — NULL rows fall
back to Python, so only a non-NULL disagreement can corrupt results."""

import random
import re

import pyspark.sql.functions as F
import pytest

from pq_spark.engine import ingest
from pq_spark.engine.ingest import _stage_guess_ts
from pq_spark.timeparse import try_parse_time

# the reference time-guessing table (src/utils/time.rs) + edge shapes:
# deeper fractions, case-variant months, exotic zones, weekday mismatch,
# bare RFC2822, unix digit widths, invalid dates, non-times
CASES = [
    "2021-01-01 00:00:00",
    "2021-01-01 00:00:00.00",
    "2021-01-01 00:00:00.00000",
    "2021-01-01T00:00:00.00000",
    "2021-01-01 01:00:00.00000 +0100",
    "2020-12-31 14:30:00.00000 -0930",
    "2021-01-01T00:00:00+00:00",
    "Fri, 1 Jan 2021 00:00:00 +0000",
    "01/Jan/2021:00:00:00 -0000",
    "1609459200",
    "1609459200100",
    "2023-01-02T03:04:05Z",
    "2023-01-02T03:04:05z",
    "2023-01-02T03:04:05.5Z",
    "2023-01-02T03:04:05.123+02:00",
    "2023-01-02T03:04:05.1234Z",
    "Tue, 1 Jul 2003 10:52:37 +0200",
    "Tue, 01 Jul 2003 10:52:37 GMT",
    "1 Jul 2003 10:52:37 +0000",
    "Tue, 1 Jul 2003 10:52:37 EST",
    "Wed, 1 Jul 2003 10:52:37 +0200",  # wrong weekday: parsedate ignores it
    "01/Jul/2003:10:52:37 +0200",
    "01/jul/2003:10:52:37 +0200",  # case-variant month: None on both paths
    "2024-03-05 06:07:08",
    "2024-03-05T06:07:08",
    "2024-03-05 06:07:08.25",
    "2024-03-05 06:07:08 +0130",
    "2024-03-05 06:07:08.5 -0200",
    "2024-02-29 10:00:00",
    "170000000",
    "17000000001234",
    "not a time",
    "",
    "9999-12-31 23:59:59",
    "2024-12-31T23:59:59.999Z",
    # RFC2822 edges around the JVM claim
    "Tue, 01 Jul 2003 10:52:37 +0200",  # two-digit day
    "Tue, 1 Jul 2003 10:52:37 -0000",  # UTC, "unknown zone" to parsedate
    "Tue, 1 Jul 2003 10:52:37 +0160",  # minutes 60: parsedate adds them
    "Tue, 1 Jul 2003 10:52:37 +9999",  # beyond ±24h: parsedate fails
    "Tue, 1 Jul 2003 10:52:37 +1801",  # beyond java.time's ±18:00
    "Tue, 1 Jul 2003 24:00:00 +0000",
    "Tue, 1 Jul 2003 10:52:60 +0000",
    "Tue, 1 Jul 0999 10:52:37 +0000",
    "Sat, 1 Jan 0000 00:00:00 +0000",
    "Tue, 1 Jul 03 10:52:37 +0000",  # two-digit year: parsedate maps it
    "Tue, 1 jul 2003 10:52:37 +0000",
    "tue, 1 Jul 2003 10:52:37 +0000",
    "Tue, 1 Jul 2003 10:52 +0000",  # no seconds
    "Tue,  1 Jul 2003 10:52:37 +0000",  # double space
    "Tue, 31 Feb 2003 10:52:37 +0000",
]


def _python_cascade(s):
    try:
        return try_parse_time(s)
    except Exception:
        return "RAISE"


def _jvm_claims(spark, strings):
    """string → what the JVM stages (cascade column + RFC2822 claim
    column, no Python fallback) give it."""
    df = spark.createDataFrame([(c,) for c in strings], "s string")
    df, parsed = _stage_guess_ts(df, F.col("s"), "_t", fallback=False)
    return {r["s"]: r["j"] for r in df.select("s", parsed.alias("j")).collect()}


def _assert_claims_agree(got):
    for s, j in got.items():
        if j is not None:
            py = _python_cascade(s)
            assert py == j, f"JVM claimed {s!r} with {j}, python says {py}"


def test_jvm_cascade_agrees_with_python(spark):
    _assert_claims_agree(_jvm_claims(spark, CASES))


def test_jvm_cascade_claims_common_shapes(spark):
    # the bulk log formats must be answered WITHOUT the Python fallback
    claimed = [
        "2023-01-02T03:04:05Z",
        "2023-01-02T03:04:05.123+02:00",
        "01/Jul/2021:00:00:00 -0000",
        "2021-01-01 00:00:00",
        "2021-01-01T00:00:00",
        "1609459200",
        "1609459200100",
        "Tue, 01 Jul 2003 10:52:37 +0200",
        "Wed, 1 Jul 2003 10:52:37 -0930",
    ]
    for s, j in _jvm_claims(spark, claimed).items():
        assert j == try_parse_time(s), s


def _rfc2822_fuzz(n, seed):
    """Strings around the RFC2822 claim's shape: each field is a valid
    value, or (one time in six) an out-of-range, mis-spelled or
    mis-shaped one the claim must leave to Python or parse identically."""
    rng = random.Random(seed)
    days = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
    months = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
              "Oct", "Nov", "Dec"]

    def num(lo, hi, width=2):
        return str(rng.randint(lo, hi)).zfill(width)

    def pick(valid, *edges):
        return valid() if rng.random() < 5 / 6 else rng.choice(edges)()

    def zone():
        return rng.choice("+-") + num(0, 14) + rng.choice(("00", "30", "45"))

    out = []
    for _ in range(n):
        head = pick(lambda: rng.choice(days) + ",",
                    lambda: rng.choice(days).lower() + ",",
                    lambda: rng.choice(days).upper() + ",",
                    lambda: "Tues,", lambda: rng.choice(days), lambda: "")
        dd = pick(lambda: num(1, 28, rng.choice((1, 2))),
                  lambda: num(29, 32), lambda: "0", lambda: num(1, 9, 3))
        mon = pick(lambda: rng.choice(months),
                   lambda: rng.choice(months).lower(),
                   lambda: rng.choice(months).upper(), lambda: "Sept")
        year = pick(lambda: num(1000, 9999, 4),
                    lambda: num(0, 999, 4), lambda: num(0, 99),
                    lambda: num(0, 999, 3), lambda: num(10000, 99999, 5))
        clock = pick(lambda: f"{num(0, 23)}:{num(0, 59)}:{num(0, 59)}",
                     lambda: f"{num(0, 25)}:{num(0, 61)}:{num(0, 61)}",
                     lambda: f"{num(0, 23)}:{num(0, 59)}",
                     lambda: f"{num(0, 23)}.{num(0, 59)}.{num(0, 59)}",
                     lambda: f"{num(0, 9, 1)}:{num(0, 59)}:{num(0, 59)}")
        tz = pick(zone,
                  lambda: rng.choice("+-") + num(0, 99) + num(0, 99),
                  lambda: rng.choice(("GMT", "UT", "EST", "PDT", "Z", "+00:00", "")))
        sep = "  " if rng.random() < 0.02 else " "
        out.append(sep.join(p for p in (head, dd, mon, year, clock, tz) if p))
    return out


def test_jvm_claim_fuzz_agrees_with_python(spark):
    strings = sorted(set(_rfc2822_fuzz(20_000, seed=2822)) | set(CASES))
    got = _jvm_claims(spark, strings)
    claimed = [s for s, j in got.items() if j is not None]
    # the fuzz must exercise the claim, not just its rejections
    assert len(claimed) > len(strings) // 5
    _assert_claims_agree(got)


def test_full_ts_expr_matches_python_cascade(spark):
    # the staged layout (JVM cascade, RFC2822 claim, masked pandas
    # fallback) must equal the pure-Python cascade row for row,
    # including fallback rows
    ok = [c for c in CASES if _python_cascade(c) != "RAISE"]
    df = spark.createDataFrame([(c,) for c in ok], "s string")
    df, parsed = _stage_guess_ts(df, F.col("s"), "_t")
    got = {r["s"]: r["t"] for r in df.select("s", parsed.alias("t")).collect()}
    for c in ok:
        assert got[c] == _python_cascade(c), c


# -- the CLI plans the Python fallback only when a line needs it --------------

TS_LOG = [
    "2024-01-01T00:00:01Z|web|10",
    "01/Jan/2024:00:00:03 +0000|db|20",
    "Mon, 01 Jan 2024 00:00:05 +0000|web|30",
    "1704067207|db|40",
    "Mon, 1 Jan 2024 02:00:09 +0200|web|50",
]
TS_PROGRAM = r"/^([^|]+)\|(\w+)\|(\d+)$/ | map {.0:ts, .1 as app, .2:num as bytes}"
# one line only the Python cascade parses: a named zone
UNUSUAL = "Tue, 1 Jul 2003 10:52:37 EST|web|60"


@pytest.fixture
def fallback_rows(spark, monkeypatch):
    """Spark accumulator of the non-null rows the pandas timestamp
    fallback receives in the Python workers."""
    from pyspark.sql.functions import pandas_udf

    rows = spark.sparkContext.accumulator(0)
    make_udf = ingest._guess_ts_udf

    def counting_udf():
        inner = make_udf().func

        def counted(s):
            rows.add(int(s.notna().sum()))
            return inner(s)

        return pandas_udf(counted, "long")

    monkeypatch.setattr(ingest, "_guess_ts_udf", counting_udf)
    return rows


def _executed_plans(spark, run):
    """``run()``'s result and the physical plans of the SQL executions it
    ran, read from Spark's own SQL status store (sorted by execution id;
    the oldest entries may be evicted meanwhile, so select by id)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def newest_first():
        bus.waitUntilEmpty()
        execs = store.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            yield execs.apply(i)

    last = next((e.executionId() for e in newest_first()), -1)
    out = run()
    plans = []
    for e in newest_first():
        if e.executionId() <= last:
            break
        plans.append(e.physicalPlanDescription())
    return out, plans


def _cli(spark, program, log, *flags):
    import contextlib
    import io

    from pq_spark import run_cli

    err = io.StringIO()
    with contextlib.redirect_stderr(err):
        out = run_cli(spark, ["pq", program, *flags], log)
    return out, err.getvalue()


def test_cli_fully_claimed_log_starts_no_python(spark, fallback_rows):
    query = TS_PROGRAM + " | select sum(bytes) by (app) | to_promapi"
    (out, _), plans = _executed_plans(
        spark, lambda: _cli(spark, query, TS_LOG, "--interval", "2s")
    )
    assert fallback_rows.value == 0
    assert plans and not [p for p in plans if "EvalPython" in p]
    assert out == b"".join(
        b'{"resultType":"vector","result":[{"metric":{"app":"%s"},'
        b'"value":[17040672%02d.999,"%d"]}]}\n' % (app, t, v)
        for app, t, v in [(b"web", 2, 10), (b"db", 4, 20), (b"web", 6, 30),
                          (b"db", 8, 40), (b"web", 10, 50)]
    )


def _records_json(rows):
    return b"".join(
        b'{"line":%d,"timestamp":%d,"labels":{"app":"%s"},"values":{"bytes":%d.0}}\n'
        % row for row in rows
    )


CLAIMED_RECORDS = [
    (1, 1704067201000, b"web", 10), (2, 1704067203000, b"db", 20),
    (3, 1704067205000, b"web", 30), (4, 1704067207000, b"db", 40),
    (5, 1704067209000, b"web", 50),
]


def test_cli_unusual_line_keeps_the_fallback(spark, fallback_rows):
    program = TS_PROGRAM + " | to_json"
    out, err = _cli(spark, program, TS_LOG, "-v")
    assert (out, err, fallback_rows.value) == (_records_json(CLAIMED_RECORDS), "", 0)
    out, err = _cli(spark, program, TS_LOG + [UNUSUAL, "x|web|1"], "-v")
    assert fallback_rows.value > 0
    assert out == _records_json(CLAIMED_RECORDS + [(6, 1057074757000, b"web", 60)])
    assert err.splitlines() == ["couldn't guess time format"]


def test_cli_verbose_errors_run_in_the_jvm(spark, fallback_rows):
    # -v over a fully claimed log: the error channel plans no Python either
    program = r"/^([^|]+)\|(\w+)\|(\w+)$/ | map {.0:ts, .1 as app, .2:num as bytes}"
    log = TS_LOG + ["2024-01-01T00:00:11Z|web|many", "nope"]
    (out, err), plans = _executed_plans(spark, lambda: _cli(spark, program, log, "-v"))
    assert fallback_rows.value == 0
    assert plans and not [p for p in plans if "EvalPython" in p]
    assert err.splitlines() == [
        "could not parse numeric field",
        "line decoding failed. Source error: no match found",
    ]
    assert out.decode().splitlines() == [
        f"{n}: 2024-01-01T00:00:{t:02d}.000\tapp={a}\tbytes={v}"
        for n, (t, a, v) in enumerate(
            [(1, "web", 10), (3, "db", 20), (5, "web", 30), (7, "db", 40), (9, "web", 50)],
            start=1,
        )
    ]


def _final_tree(plan):
    # an adaptive plan prints its final tree, then its initial one
    return plan.split("== Initial Plan ==")[0]


def test_cli_runs_the_cascade_once_per_row(spark):
    # the records view plans no Filter over the staged timestamp columns,
    # so the cascade (and with it the RFC2822 claim) is in each plan once,
    # and the fallback crosses to Python in one node
    program = TS_PROGRAM + " | to_json"
    for log, python_nodes in ((TS_LOG, 0), (TS_LOG + [UNUSUAL], 1)):
        _, plans = _executed_plans(spark, lambda: _cli(spark, program, log))
        assert plans
        assert max(p.count(ingest._RFC2822_RE) for p in plans) == 1
        assert max(
            len(re.findall(r"ArrowEvalPython \(\d+\)", _final_tree(p))) for p in plans
        ) == python_nodes


def test_cli_gate_ignores_lines_an_earlier_field_drops(spark, fallback_rows):
    # the bad time sits on a line whose numeric field fails first: the
    # line is dropped with that message, so no row needs the fallback
    program = r"/^(\w+)\|(.*)$/ | map {.0:num as bytes, .1:ts}"
    log = ["10|2024-01-01T00:00:01Z", "20|2024-01-01T00:00:03Z", "many|not a time"]
    (out, err), plans = _executed_plans(spark, lambda: _cli(spark, program, log, "-v"))
    assert fallback_rows.value == 0
    assert plans and not [p for p in plans if "EvalPython" in p]
    assert (out, err) == (
        b"1: 2024-01-01T00:00:01.000\tbytes=10\n2: 2024-01-01T00:00:03.000\tbytes=20\n",
        "could not parse numeric field\n",
    )
