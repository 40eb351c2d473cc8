"""Seeded inputs: the driver-schema tables (events, documents) and raw log
lines with mixed timestamp formats.

Everything is a pure function of the seed. The tables follow the shapes of
the driver's sf0.1 corpus, measured from its parquet files: events have
1,500 users, 5 equally likely event types, a 30-day span from 2024-01-01,
unique time-ordered ``event_id``, values drawn from an exponential
distribution with mean 50 rounded to 2 decimals, and 100 distinct
``props``; documents have 10–100 words drawn from a 31-word vocabulary,
5 languages (41 % ``en``), 20 sources and 0.16 % exact duplicates.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

SF01_ROWS = {"events": 100_000, "documents": 5_000}
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
N_USERS = 1_500
SPAN_DAYS = 30
VALUE_MEAN = 50.0
N_PROPS = 100
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
WORDS = (10, 100)
LANGS = {"en": 0.41, "zh": 0.15, "fr": 0.15, "es": 0.15, "de": 0.14}
N_SOURCES = 20
DUP_RATE = 0.0016
START = dt.datetime(2024, 1, 1)
LOG_APPS = ["api", "auth", "db", "web", "cache"]
LOG_START_S = 1_704_067_200  # 2024-01-01T00:00:00Z


def write_tables(out_dir: str, seed: int, n_events: int, n_docs: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    # events: unique microsecond timestamps, ids in ts order
    span_us = SPAN_DAYS * 86_400 * 1_000_000
    offs = np.sort(rng.choice(span_us, size=n_events, replace=False))
    ts = np.datetime64(START, "us") + offs.astype("timedelta64[us]")
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, n_events, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(VALUE_MEAN, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, N_PROPS, n_events)]),
    })
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    # documents: a few exact copies of earlier documents
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < DUP_RATE:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(WORDS[0], WORDS[1] + 1))
            texts.append(" ".join(rng.choice(VOCAB, n)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(list(LANGS), n_docs, p=list(LANGS.values()))),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))


def _fmt_ts(epoch_s: int, kind: int) -> str:
    d = dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc)
    if kind == 0:
        return d.strftime("%Y-%m-%dT%H:%M:%SZ")
    if kind == 1:
        return d.strftime("%d/%b/%Y:%H:%M:%S +0000")
    if kind == 2:
        return d.strftime("%a, %d %b %Y %H:%M:%S +0000")
    return str(epoch_s)


def log_records(seed: int, n_lines: int, span_s: int) -> list[tuple[int, str, int, int]]:
    """(epoch_s, app, bytes, ts_format) per line, in arrival order. The
    timestamp format (ISO-8601, CLF, RFC2822, epoch) is drawn per line."""
    rng = np.random.default_rng(seed + 1_000_003)
    ts = LOG_START_S + np.sort(rng.integers(0, span_s, n_lines))
    apps = rng.choice(LOG_APPS, n_lines)
    nbytes = rng.integers(1, 5000, n_lines)
    kinds = rng.integers(0, 4, n_lines)
    return [(int(t), str(a), int(b), int(k)) for t, a, b, k in zip(ts, apps, nbytes, kinds)]


def log_lines(records) -> list[str]:
    return [f"{_fmt_ts(t, k)}|{a}|{b}" for t, a, b, k in records]
