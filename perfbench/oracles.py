"""Independent answers the benchmark checks the program's outputs against.

- registry queries: the registry's own DuckDB oracle SQL, compared by value
  hash exactly as ``scripts/correctness_canary.py`` compares them;
- the CLI program: the expected output bytes computed directly from the
  generated log records (no pq parsing, no Spark);
- the rollup pipeline: the 1m/1h/1d tiers recomputed with pandas from the
  page rows, compared with the parquet files the TierStore published.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

import numpy as np
import pandas as pd

from scripts.correctness_canary import _value_hash

TABLES = ("events", "documents")


def duckdb_views(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')"
        )
    return con


def oracle_answer(con, sql: str) -> dict:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    return {"rows": len(rows), "cols": sorted(cols), "hash": _value_hash(rows, cols)}


def matches(expected: dict, rows: list[tuple], cols: list[str]) -> bool:
    """Row count, column set and value hash must all agree."""
    return (
        len(rows) == expected["rows"]
        and sorted(cols) == expected["cols"]
        and _value_hash(rows, cols) == expected["hash"]
    )


# -- CLI ------------------------------------------------------------------------


def _grid(ts_ms: list[int], interval_ms: int, lookback_ms: int) -> list[int]:
    t0 = min(ts_ms) + min(lookback_ms, interval_ms) - 1
    kend = (max(ts_ms) + lookback_ms - 1 - t0) // interval_ms
    return [t0 + k * interval_ms for k in range(kend + 1)]


def _window_of(ts: int, grid0: int, interval_ms: int) -> int:
    """Index of the grid instant t with t - interval < ts <= t."""
    return -(-(ts - grid0) // interval_ms)


def _promapi(grid: list[int], cells: dict[int, dict[str, float]]) -> bytes:
    out = []
    for k, t in enumerate(grid):
        res = [
            {"metric": {"app": app}, "value": [f"@{t // 1000}.{t % 1000:03d}@", _num(v)]}
            for app, v in sorted(cells.get(k, {}).items())
        ]
        line = json.dumps({"resultType": "vector", "result": res}, separators=(",", ":"))
        out.append(line.replace('"@', "").replace('@"', ""))
    return ("".join(s + "\n" for s in out)).encode()


def _num(v: float) -> str:
    return str(int(v)) if float(v).is_integer() else repr(float(v))


def cli_expected(records, interval_ms: int) -> bytes:
    """Expected bytes of ``sum(bytes) by (app)`` with interval = lookback:
    at each grid instant t, the latest sample of each app in (t - interval, t]."""
    ts_ms = [t * 1000 for t, _, _, _ in records]
    grid = _grid(ts_ms, interval_ms, interval_ms)
    latest: dict[int, dict[str, float]] = defaultdict(dict)
    for (_, app, b, _), ms in zip(records, ts_ms):  # arrival order = (ts, seq) order
        latest[_window_of(ms, grid[0], interval_ms)][app] = float(b)
    return _promapi(grid, latest)


# -- rollup tiers -----------------------------------------------------------------

TIER_MS = {"tier_1m": 60_000, "tier_1h": 3_600_000, "tier_1d": 86_400_000}
_HTML_FIXED = len("<html><head><title>") + len("</title></head><body><p>") + len("</p></body></html>")


def expected_tiers(pages: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """pages (url, ts_ms, text, lang) → per tier, one row per (series,
    bucket) with cnt/sum/min/max/first_ts/last_ts. ``__line__`` carries the
    row id as its value, which depends on partitioning, so only its count
    and timestamps are compared."""
    domain = pages["url"].str.extract(r"^https?://([^/]+)/", expand=False)
    text_len = pages["text"].str.len().astype(float)
    base = pd.DataFrame({"ts": pages["ts_ms"].astype(np.int64), "lang": pages["lang"], "domain": domain})
    samples = pd.concat([
        base.assign(name="text_len", value=text_len),
        base.assign(name="content_len", value=text_len + pages["url"].str.len() + _HTML_FIXED),
        base.assign(name="__line__", value=np.nan),
    ])
    out = {}
    for table, ms in TIER_MS.items():
        g = samples.assign(bucket_ts=samples["ts"] - samples["ts"] % ms).groupby(
            ["name", "lang", "domain", "bucket_ts"], sort=True
        )
        agg = g.agg(cnt=("ts", "size"), sum=("value", "sum"), min=("value", "min"),
                    max=("value", "max"), first_ts=("ts", "min"), last_ts=("ts", "max"))
        out[table] = _canon(agg.reset_index())
    return out


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    line = df["name"] == "__line__"
    for c in ("sum", "min", "max"):
        df[c] = df[c].astype(float).round(6).where(~line, 0.0)
    df["cnt"] = df["cnt"].astype(np.int64)
    for c in ("bucket_ts", "first_ts", "last_ts"):
        df[c] = df[c].astype(np.int64)
    cols = ["name", "lang", "domain", "bucket_ts", "cnt", "sum", "min", "max", "first_ts", "last_ts"]
    return df[cols].sort_values(cols[:4]).reset_index(drop=True)


def published_tier(store_root: str, table: str) -> pd.DataFrame:
    """Read the data files of ``table``'s CURRENT snapshot straight from
    parquet (no Spark), in the canonical shape of ``expected_tiers``."""
    import pyarrow.parquet as pq

    snaps = os.path.join(store_root, table, "_snapshots")
    with open(os.path.join(snaps, "CURRENT")) as f:
        sid = int(f.read().strip())
    with open(os.path.join(snaps, f"v{sid}.json")) as f:
        parts = json.load(f)["parts"]
    frames = []
    for rel in parts.values():
        t = pq.read_table(os.path.join(store_root, table, rel),
                          columns=["bucket_ts", "labels", "cnt", "sum", "min", "max", "first_ts", "last_ts"])
        frames.append(t.to_pandas())
    df = pd.concat(frames, ignore_index=True)
    labels = df.pop("labels").map(dict)
    df["name"] = labels.map(lambda m: m["__name__"])
    df["lang"] = labels.map(lambda m: m["lang"])
    df["domain"] = labels.map(lambda m: m["domain"])
    return _canon(df)


def tiers_match(expected: dict[str, pd.DataFrame], store_root: str) -> dict[str, bool]:
    return {
        table: published_tier(store_root, table).equals(exp)
        for table, exp in expected.items()
    }
