"""Checks of the benchmark's own arithmetic: event-log attribution, span
self times and the value-hash comparison; and of its process clean-up.
No Spark session needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import json
import os
import subprocess
import sys

import pytest

from perfbench import oracles, trace, workloads


def _ev(**kw) -> str:
    return json.dumps(kw)


def _task(stage, run_ms, cpu_ns, shuffle_w=0, py_sent=0, spill=0):
    return _ev(**{
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [
            {"Name": "data sent to Python workers", "Update": py_sent},
            {"Name": "number of output rows", "Update": 999},
        ]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
        },
    })


PLAN = {"nodeName": "AdaptiveSparkPlan", "children": [
    {"nodeName": "Exchange", "children": [
        {"nodeName": "BroadcastExchange", "children": [{"nodeName": "Scan parquet ", "children": []}]},
        {"nodeName": "InMemoryTableScan", "children": [
            {"nodeName": "Scan parquet ", "children": []},
        ]},
    ]},
]}


def _log() -> list[str]:
    return [
        _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000,
            "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "pb3",
                                               "spark.sql.execution.id": "7"}}),
        _ev(**{"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
               "executionId": 7, "sparkPlanInfo": {"nodeName": "stale", "children": []}}),
        _ev(**{"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
               "executionId": 7, "sparkPlanInfo": PLAN}),
        _task(0, 100, 50_000_000, shuffle_w=10, py_sent=40),
        _task(1, 200, 150_000_000, spill=3),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1}}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 3000}),
        # a later job re-listing stage 1 does not steal its tasks
        _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 3500,
            "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "pb4"}}),
        _task(2, 50, 0),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 4000}),
        # no job group: counted as free, never attributed
        _ev(Event="SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 5000,
            "Stage IDs": [3], "Properties": {}}),
        _task(3, 70, 0),
        "",
    ]


def test_event_log_attribution():
    a = trace.parse_event_log(_log())
    s3, s4 = a["spans"][3], a["spans"][4]
    assert (s3["jobs"], s3["stages"], s3["tasks"]) == (1, 2, 2)
    assert s3["task_s"] == pytest.approx(0.3)
    assert s3["task_cpu_s"] == pytest.approx(0.2)
    assert s3["gc_s"] == pytest.approx(0.01)
    assert (s3["shuffle_write_bytes"], s3["shuffle_read_bytes"]) == (10, 6)
    assert (s3["python_bytes"], s3["spill_bytes"]) == (40, 3)
    # the final (adaptive) plan counts, not the initial one
    assert (s3["exchanges"], s3["scans"], s3["cache_scans"]) == (2, 2, 1)
    assert (s4["jobs"], s4["tasks"], s4["task_s"]) == (1, 1, pytest.approx(0.05))
    assert a["jobs"] == {3: [(1.0, 3.0)], 4: [(3.5, 4.0)]}
    assert a["free_jobs"] == [5.0]
    assert trace.sum_field(a, [3, 4, 99], "tasks") == 3


def test_union_length():
    assert trace.union_length([]) == 0.0
    assert trace.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert trace.union_length([(0, 2), (0.5, 1)]) == 2.0
    assert trace.union_length([(0, 10)], 2, 5) == 3.0
    assert trace.union_length([(0, 1)], 2, 5) == 0.0


def _span(i, parent, t0, t1, layer="x"):
    return {"id": i, "parent": parent, "layer": layer, "name": str(i), "t0": t0, "t1": t1}


def test_self_times():
    spans = [
        _span(0, None, 0.0, 10.0, "bench"),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),       # overlaps child 1: covered once
        _span(3, 1, 1.5, 2.0),
    ]
    # span 0 ran a job 7..9 (its own self time) and one 3.5..4.5 inside children
    jobs = {0: [(7.0, 9.0), (3.5, 4.5)], 1: [(2.0, 3.5)], 3: [(1.0, 2.5)]}
    st = trace.self_times(spans, jobs)
    assert st[0]["self_s"] == pytest.approx(5.0)     # 10 - |[1, 6]|
    assert st[0]["spark_s"] == pytest.approx(2.0)    # only 7..9 is outside children
    assert st[0]["layer_s"] == pytest.approx(3.0)
    assert st[1]["self_s"] == pytest.approx(2.5)     # 3 - 0.5
    assert st[1]["spark_s"] == pytest.approx(1.5)
    assert st[3]["spark_s"] == pytest.approx(0.5)    # clipped to the span


def test_self_times_tile_a_nested_call():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 5.0), _span(2, 1, 3.0, 4.0),
             _span(3, 0, 6.0, 7.0)]
    st = trace.self_times(spans, {2: [(3.0, 4.0)]})
    assert sum(v["self_s"] for v in st.values()) == pytest.approx(10.0)
    assert (st[2]["spark_s"], st[2]["layer_s"]) == (pytest.approx(1.0), pytest.approx(0.0))


def test_tracer_spans_and_wrapping():
    t = trace.Tracer()

    def inner(x):
        return x + 1

    def outer(x):
        return w_inner(x) * 2

    w_inner = t.wrap(inner, "a", lambda x: f"inner:{x}")
    w_outer = t.wrap(outer, "b", "outer")
    assert w_outer(1) == 4 and t.spans == []         # disabled: no spans
    t.enabled = True
    assert w_outer(1) == 4
    assert [(s["layer"], s["name"], s["parent"]) for s in t.spans] == [
        ("b", "outer", None), ("a", "inner:1", 0)]
    assert trace.subtree(t.spans, 0) == [0, 1]


def test_stage_sum_requires_every_commit_stage():
    stage = {"partitions_written": 2, "partitions_skipped": 1}
    m = {"stages": {st: dict(stage) for st in workloads.COMMIT_STAGES}}
    m["stages"]["verify_extraction"] = {"elapsed_s": 0.1}
    assert workloads._stage_sum(m, "partitions_written") == 8
    del m["stages"]["tier_1h"]["partitions_skipped"]
    with pytest.raises(KeyError):
        workloads._stage_sum(m, "partitions_skipped")


def test_value_hash_comparison():
    rows = [(1, "a", 0.1 + 0.2), (2, "b", None), (3, "c", float("nan"))]
    exp = {"rows": 3, "cols": ["k", "s", "v"],
           "hash": oracles._value_hash([(1, "a", 0.3), (2, "b", None), (3, "c", float("nan"))],
                                       ["k", "s", "v"])}
    # row order and column order do not matter; float noise below 1e-9 does not
    shuffled = [(r[2], r[0], r[1]) for r in reversed(rows)]
    assert oracles.matches(exp, shuffled, ["v", "k", "s"])
    assert not oracles.matches(exp, rows[:2], ["k", "s", "v"])
    assert not oracles.matches(exp, [(1, "a", 0.31)] + rows[1:], ["k", "s", "v"])
    assert not oracles.matches(exp, rows, ["k", "s", "w"])


def test_cli_oracle_grid():
    # two apps; samples at 0 s, 5 s (same window) and 25 s; interval 10 s
    recs = [(100, "web", 7, 0), (105, "api", 3, 1), (105, "web", 9, 2), (125, "web", 4, 3)]
    out = oracles.cli_expected(recs, 10_000).decode().splitlines()
    assert out == [
        '{"resultType":"vector","result":[{"metric":{"app":"api"},"value":[109.999,"3"]},'
        '{"metric":{"app":"web"},"value":[109.999,"9"]}]}',
        '{"resultType":"vector","result":[]}',
        '{"resultType":"vector","result":[{"metric":{"app":"web"},"value":[129.999,"4"]}]}',
    ]


def test_reap_children_waits_for_orphans_and_ends_stragglers():
    """A grandchild orphaned by its parent is waited for; one still running
    after the grace period is terminated. Runs in a child process, which
    becomes the reaper of its orphans."""
    code = (
        "import subprocess, time\n"
        "from perfbench import session\n"
        "session.adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 1 &'], check=True)\n"
        "t = time.monotonic(); session.reap_children(grace=10.0)\n"
        "waited = time.monotonic() - t\n"
        "subprocess.run(['sh', '-c', 'sleep 60 &'], check=True)\n"
        "t = time.monotonic(); session.reap_children(grace=0.2)\n"
        "print(waited, time.monotonic() - t)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root, capture_output=True,
                         text=True, timeout=60, check=True)
    waited, ended = map(float, out.stdout.split())
    assert 0.5 < waited < 5
    assert ended < 5
