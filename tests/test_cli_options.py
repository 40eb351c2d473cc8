"""CLI option semantics not covered by the reference's golden corpus:
--since / --until / --lookback / --interval interplay (reference:
src/cliopt.rs, src/parse/mapping/mapper.rs:45-54, src/query/vector.rs:29-45).
Expected outputs hand-derived from the reference semantics."""

import json

import pytest

from pq_spark import run_cli

PROGRAM = (
    r"/([^\s]+)\s(\w+)\s(\d+)/ "
    r'| map {.0:ts "%Y-%m-%dT%H:%M:%S", .1 as name, .2 as age} '
    r"| select sum(age) | to_promapi"
)

LOG = [
    "2021-01-01T00:00:00 bob 10",
    "2021-01-01T00:00:02 bob 20",
    "2021-01-01T00:00:04 bob 30",
    "2021-01-01T00:00:06 bob 40",
]
T0 = 1609459200000  # 2021-01-01T00:00:00Z


def _lines(out: bytes):
    return [json.loads(l) for l in out.decode().splitlines()]


def test_since_anchors_grid(spark):
    # --since 00:00:01 → t0 = since + 1s − 1ms = 00:00:01.999; the :00
    # record is dropped by the range filter, the :02 sample is outside the
    # first instant's (00.999, 01.999] window → leading empty vector
    out = _lines(run_cli(spark, ["pq", PROGRAM, "--since", "2021-01-01 00:00:01"], LOG))
    assert out[0]["result"] == []
    assert out[1]["result"][0]["value"] == [1609459202.999, "20"]


def test_until_stops_stream(spark):
    out = _lines(run_cli(spark, ["pq", PROGRAM, "--until", "2021-01-01 00:00:03"], LOG))
    values = [r["result"][0]["value"][1] for r in out if r["result"]]
    assert values == ["10", "20"]  # :04 and :06 never enter the stream


def test_lookback_extends_staleness(spark):
    # an instant vector holds the LATEST sample per series within lookback
    # (staleness window), so a longer lookback only makes values persist:
    # with 3s lookback the :06 sample is still fresh at :07.999 and :08.999,
    # and no instant is empty (at 1s lookback every odd second is empty)
    out = _lines(run_cli(spark, ["pq", PROGRAM, "--lookback", "3s"], LOG))
    got = {round(r["result"][0]["value"][0], 3): r["result"][0]["value"][1]
           for r in out if r["result"]}
    assert len(got) == len(out) == 9  # :00.999 .. :08.999, none empty
    assert got[1609459201.999] == "10"   # :00 sample persists
    assert got[1609459204.999] == "30"   # latest within (:01.999, :04.999]
    assert got[1609459208.999] == "40"   # trailing drain, still fresh


def test_interval_widens_grid(spark):
    out = _lines(run_cli(spark, ["pq", PROGRAM, "--interval", "4s"], LOG))
    # lookback defaults to the interval → t0 = min(4s,4s) − 1ms = :03.999;
    # each instant carries the LATEST sample in its 4s staleness window
    assert [round(r["result"][0]["value"][0], 3) for r in out] == [
        1609459203.999, 1609459207.999]
    assert [r["result"][0]["value"][1] for r in out] == ["20", "40"]


# -- -v / -i parity (reference: src/runner.rs:138-146, humanreadable.rs) -----

VLOG = [
    "2021-01-01T00:00:01 nginx 10",
    "garbage!!!",
    "2021-01-01T00:00:03 httpd 5",
]
VPROG = r"/^(\S+) (\S+) (\d+)$/ | map {.0:ts, .1:str as app, .2:num as v}"


def test_verbose_error_channel(spark):
    import contextlib
    import io

    err = io.StringIO()
    with contextlib.redirect_stderr(err):
        out = run_cli(spark, ["pq", VPROG, "-v"], VLOG)
    # records prefixed with the line number; non-matching line reported
    assert out.decode().splitlines() == [
        "1: 2021-01-01T00:00:01.000\tapp=nginx\tv=10",
        "3: 2021-01-01T00:00:03.000\tapp=httpd\tv=5",
    ]
    assert err.getvalue().splitlines() == [
        "line decoding failed. Source error: no match found",
    ]


# first-failing-field message per bad entry (strategy.rs:43,64,73,77-81,90;
# utils/time.rs:41): program, input, stdout, stderr
MAP_ERRORS = {
    "json-named": (
        "json | map {.x:num as v}",
        ['{"x": "nope"}', '{"y": 1}', "[1,2]", '{"x": 3}'],
        "4: v=3\n",
        "could not parse numeric field\ndict entry field not found\n"
        "tuple entry cannot be mapped with named fields\n",
    ),
    "json-positional": (
        "json | map {.1:num as v}",
        ['{"x": 1}', "[5]", "[5, 6]"],
        "3: v=6\n",
        "dict entry cannot be mapped with positional fields\n"
        "tuple entry index out of range\n",
    ),
    "guess-ts": (
        r"/^(\S+) (\d+)$/ | map {.0:ts, .1:num as v}",
        ["2021-01-01T00:00:01 10", "yesterday 20"],
        "1: 2021-01-01T00:00:01.000\tv=10\n",
        "couldn't guess time format\n",
    ),
    "format-ts": (
        r'/^(\S+) (\d+)$/ | map {.0:ts "%Y-%m-%d", .1:num as v}',
        ["2021-01-01 10", "01/01/2021 20"],
        "1: 2021-01-01T00:00:00.000\tv=10\n",
        "couldn't parse timestamp\n",
    ),
    "order-num-then-ts": (
        r"/^(\S+) (\S+)$/ | map {.1:num as v, .0:ts}",
        ["yesterday many", "2021-01-01T00:00:01 7"],
        "2: 2021-01-01T00:00:01.000\tv=7\n",
        "could not parse numeric field\n",
    ),
    "order-ts-then-num": (
        r"/^(\S+) (\S+)$/ | map {.0:ts, .1:num as v}",
        ["yesterday many", "2021-01-01T00:00:01 7"],
        "2: 2021-01-01T00:00:01.000\tv=7\n",
        "couldn't guess time format\n",
    ),
    "order-key-then-num": (
        "json | map {.b:str as s, .a:num as v}",
        ['{"a": "x"}', '{"a": 1, "b": "k"}'],
        "2: s=k\tv=1\n",
        "dict entry field not found\n",
    ),
}


@pytest.mark.parametrize("case", MAP_ERRORS)
def test_verbose_map_errors(spark, case):
    import contextlib
    import io

    program, log, want_out, want_err = MAP_ERRORS[case]
    err = io.StringIO()
    with contextlib.redirect_stderr(err):
        out = run_cli(spark, ["pq", program, "-v"], log)
    assert (out.decode(), err.getvalue()) == (want_out, want_err)


def test_verbose_json_entry_repr(spark):
    out = run_cli(spark, ["pq", r"/^(\S+) (\S+) (\d+)$/ | to_json", "-v"], VLOG[:1])
    assert out.decode().splitlines() == [
        '{"line":1,"data":["2021-01-01T00:00:01","nginx","10"]}'
    ]


def test_verbose_no_data_lines(spark):
    log = ["2021-01-01T00:00:01 nginx 10", "2021-01-01T00:00:05 nginx 20"]
    out = run_cli(spark, ["pq", VPROG + " | select v", "-v"], log)
    lines = out.decode().splitlines()
    assert lines[1] == "2021-01-01T00:00:02.000 <no data>"
    assert lines[3] == "2021-01-01T00:00:04.000 <no data>"
    assert len(lines) == 5


def test_interactive_screen_refresh(spark):
    out = run_cli(spark, ["pq", VPROG + " | select v", "-i"], VLOG[:1])
    text = out.decode()
    assert text.startswith("\x1b[2J\x1b[1;1H\n2021-01-01 00:00:01\n-\n")
    # metric name line, blank spacer, then "\t"-prefixed items joined "\t\t"
    assert "\nv\n\n\n\t__name__: 'v'\t\t\tapp: 'nginx'\t\t\t\t\t10\n" in text


def test_out_of_order_input_is_permutation_invariant(spark):
    """DOCUMENTED DIVERGENCE (COVERAGE.md §2.4): the reference anchors the
    grid on the ARRIVAL-first sample and drops samples older than
    next_instant − lookback on arrival (vector.rs:86-102) — out-of-order
    input yields order-dependent output there. A batch engine has no
    arrival order: we anchor at min(ts), so any permutation of the input
    lines produces identical output, and late samples still serve the
    instants they are fresh for."""
    inorder = ["2021-01-01T00:00:02 a 9", "2021-01-01T00:00:03 a 1"]
    shuffled = list(reversed(inorder))
    prog = r"/^(\S+) (\S+) (\d+)$/ | map {.0:ts, .1:str as l, .2:num as v} | select v | to_promapi"
    out_a = run_cli(spark, ["pq", prog], inorder)
    out_b = run_cli(spark, ["pq", prog], shuffled)
    assert out_a == out_b
    lines = [json.loads(l) for l in out_a.decode().splitlines()]
    # grid anchored at min(ts) + 999ms; the 2s sample is served at 2.999
    assert lines[0]["result"][0]["value"] == [1609459202.999, "9"]
    assert lines[1]["result"][0]["value"] == [1609459203.999, "1"]


def test_stream_early_termination(spark):
    """run_cli_stream ENDS the stream at the first mapped record past
    --until (reference: src/parse/mapping/mapper.rs:50-53) — on an
    INFINITE iterator it returns, and later records are never read even
    if their ts falls back inside the range (the reference assumes an
    ordered live stream). Output is byte-identical to run_cli over the
    consumed prefix."""
    from pq_spark.engine.runner import run_cli_stream

    pulled = []

    def infinite():
        feed = [
            "2021-01-01T00:00:00 bob 10",
            "2021-01-01T00:00:02 bob 20",
            "2021-01-01T00:00:04 bob 30",   # > until → stream ends here
            "2021-01-01T00:00:01 bob 99",   # back in range: NOT in output
        ]
        for ln in feed:
            pulled.append(ln)
            yield ln
        i = 0
        while True:                          # unbounded tail
            i += 1
            pulled.append(i)
            yield f"2021-01-01T00:00:05 bob {i}"

    argv = ["pq", PROGRAM, "--until", "2021-01-01 00:00:03"]
    out = run_cli_stream(spark, argv, infinite(), chunk_lines=2)
    assert out == run_cli(spark, argv, LOG[:2])
    # bounded pull: at most the two probe chunks came off the iterator
    assert len(pulled) <= 4
    # without --until the iterator is drained to EOF, plain run_cli parity
    assert run_cli_stream(spark, ["pq", PROGRAM], iter(LOG)) == run_cli(
        spark, ["pq", PROGRAM], LOG
    )


def test_cli_parses_program_once(spark, monkeypatch):
    """The --until probe and the engine run share one parsed program."""
    from pq_spark.engine import runner

    calls = []
    parse = runner.parse_program

    def counting(text):
        calls.append(text)
        return parse(text)

    monkeypatch.setattr(runner, "parse_program", counting)
    argv = ["pq", PROGRAM, "--until", "2021-01-01 00:00:03"]
    out = _lines(runner.run_cli_stream(spark, argv, iter(LOG)))
    assert [r["result"][0]["value"][1] for r in out if r["result"]] == ["10", "20"]
    assert calls == [PROGRAM]


def test_live_interactive_frames(spark):
    """run_cli_live writes each -i frame + flush as the instant's cells
    stream back; the concatenated stream is byte-identical to the batch
    -i output, one ESC[2J redraw per grid instant."""
    import io

    from pq_spark.engine.runner import run_cli_live

    argv = ["pq", VPROG + " | select v", "-i"]
    buf = io.StringIO()
    n = run_cli_live(spark, argv, iter(VLOG), out=buf)
    batch = run_cli(spark, argv, VLOG).decode()
    assert buf.getvalue() == batch
    assert n == batch.count("\x1b[2J") and n >= 2


def test_module_main_stdin(spark):
    """``python -m pq_spark`` parity: main() pipes stdin through the
    early-terminating stream path and writes run_cli's exact bytes;
    ``-i`` routes to the live frame writer; bad args fail fast (exit 2)
    before a session is touched."""
    import io

    from pq_spark.__main__ import main

    argv = [PROGRAM, "--until", "2021-01-01 00:00:03"]
    out = io.BytesIO()
    assert main(argv, stdin=io.StringIO("\n".join(LOG) + "\n"), out=out) == 0
    assert out.getvalue() == run_cli(spark, ["pq"] + argv, LOG[:2])

    buf = io.StringIO()
    assert main([VPROG + " | select v", "-i"],
                stdin=io.StringIO("\n".join(VLOG) + "\n"), out=buf) == 0
    assert buf.getvalue() == run_cli(
        spark, ["pq", VPROG + " | select v", "-i"], VLOG
    ).decode()

    assert main(["p", "--since", "2021-01-01 00:00:05",
                 "--until", "2021-01-01 00:00:01"]) == 2
