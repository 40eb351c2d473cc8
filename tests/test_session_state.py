"""State the engine keeps between queries: cached relations (each has one
owner and dies with its query), the per-session configure memo and
PySpark's DataFrame-debugging switch."""

import ast
import gc
import shutil
import weakref
from pathlib import Path

import duckdb
import pyarrow.parquet as pq
import pytest

import pq_spark
from pq_spark import driver_queries as dq
from pq_spark.engine import runner
from pq_spark.materialize import persist

SF = "/root/testdata/sf0.001"
# big enough that repartitionByRange samples a partition instead of reading
# all of it, so a recomputed partitioning can move bucket boundaries
SF_SAMPLED = "/root/testdata/sf0.1"


def test_persist_needs_an_owner(spark):
    with pytest.raises(RuntimeError, match="no owner"):
        persist(spark.range(3))


def test_rebuilt_query_reads_rewritten_source(spark, tmp_path):
    """A registry build's cache dies with its result, so a rebuilt plan
    cannot match a stale cached relation after its source is rewritten
    (a leaked cache kept serving the old 500 document rows)."""
    sf = tmp_path / "sf"
    shutil.copytree(SF, sf)
    build = dq.QUERIES["text_repetition"]
    assert len(build(spark, str(sf)).collect()) == 500
    docs = sf / "documents.parquet"
    pq.write_table(pq.read_table(docs).slice(0, 10), docs)
    assert len(build(spark, str(sf)).collect()) == 10


def test_seq_pack_outlives_its_result_handle(spark):
    """seq_pack's bin offsets and its rows come from ONE materialization
    of one sampled range partitioning, so they agree whatever happens to
    the returned frame: a frame derived from a dropped result, and a
    build alive beside an identical one that is dropped, both match the
    oracle (a re-sampled partitioning would shift rows between buckets
    and break the offsets)."""
    build = dq.QUERIES["seq_pack"]
    derived = build(spark, SF_SAMPLED).filter("seg_tokens > 0")
    first, second = build(spark, SF_SAMPLED), build(spark, SF_SAMPLED)
    del first
    gc.collect()

    def rows(cols, tuples):
        order = sorted(range(len(cols)), key=cols.__getitem__)
        return sorted(tuple(t[i] for i in order) for t in tuples)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SAMPLED}/documents.parquet'"
    )
    res = con.execute(dq.ORACLES["seq_pack"])
    want = rows([d[0] for d in res.description], res.fetchall())
    assert rows(derived.columns, derived.collect()) == want
    assert rows(second.columns, second.collect()) == want


def test_only_the_helper_module_touches_the_cache():
    """``pq_spark.materialize`` is the one owner of cache lifetimes: no
    other module calls ``.persist()``, ``.cache()`` or ``.unpersist()``."""
    root = Path(pq_spark.__file__).parent
    calls = [
        f"{path.relative_to(root)}:{node.lineno} .{node.func.attr}()"
        for path in sorted(root.rglob("*.py"))
        if path.name != "materialize.py" or path.parent != root
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("persist", "cache", "unpersist")
    ]
    assert not calls, calls


def test_configure_memo_forgets_collected_sessions(spark):
    from pyspark.rdd import RDD

    runner.configure_session(spark)
    n = len(runner._CONFIGURED_SESSIONS)
    to_df = RDD.toDF
    s2 = spark.newSession()
    RDD.toDF = to_df  # a new session re-points RDD.toDF at a closure over it
    runner.configure_session(s2)
    assert s2 in runner._CONFIGURED_SESSIONS
    ref = weakref.ref(s2)
    del s2
    gc.collect()
    assert ref() is None
    assert len(runner._CONFIGURED_SESSIONS) == n


def test_configure_turns_dataframe_debugging_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    runner.configure_session(spark)
    assert not is_debugging_enabled()
