"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark AND its oracle_sql() on DuckDB over the same parquet, compare
row count + sorted-row values exactly."""

import math
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def _duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            if isinstance(v, bool):
                v = bool(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return out


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert df.columns


def _check_query(spark, name):
    sdf = QUERIES[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    if name not in ORACLES:
        assert len(srows) >= 0  # rows-only check (approximate ops)
        return

    con = _duck(SF_DIR)
    res = con.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column mismatch {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    a = _normalize(srows, scols)
    b = _normalize(drows, dcols)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


# thread-pooled: the 110-query battery is Spark/DuckDB job latency, not
# compute — all queries run through one wide pool (every thread gets its
# own DuckDB connection; Spark's scheduler is thread-safe), so the wall
# time is bounded by max(slowest single query, sum/workers) instead of a
# per-chunk serial sum. A failure reports EVERY failing query by name.
_NAMES = sorted(QUERIES)


def test_query_against_oracle(spark):
    import gc
    import traceback
    from concurrent.futures import ThreadPoolExecutor

    spark.catalog.clearCache()

    def run(name):
        try:
            _check_query(spark, name)
            return None
        except Exception:
            return f"--- {name} ---\n{traceback.format_exc(limit=4)}"

    with ThreadPoolExecutor(max_workers=12) as ex:
        failures = [f for f in ex.map(run, _NAMES) if f]
    assert not failures, "\n".join(failures)
    # every build owned its caches and released them with its result
    gc.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
