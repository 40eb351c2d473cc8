"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts only when the previous one has returned.

``rollup_pipeline``: synthetic pages → ``run_pipeline`` into a fresh
TierStore, then the same call again on the same store (lineage skip mode).
The end-to-end metrics are those of the first pass, the first pipeline
call of the JVM, as in a batch job.

``query_serve``: one pass runs a pq CLI program over seeded log lines
and registry queries (a composed PromQL query, an as-of join, a
persisting text query) over seeded driver-schema tables, each built and
its rows collected by the client.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

from . import inputs, oracles
from .trace import subtree, sum_field, total_s

GORILLA_BLOCK_MS = 6 * 3_600_000


class Run:
    """State shared by one benchmark run: session, tracer, counters."""

    def __init__(self, work: str, seed: int, spark, tracer):
        self.work, self.seed = work, seed
        self.spark, self.tracer = spark, tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.roots: dict[str, int] = {}  # op name -> its latest root span

    def op(self, name: str, fn, check=None):
        """One operation: returns (seconds, result), or (None, None) when it
        raised or ``check(result)`` is false; both count as failed."""
        self.attempted += 1
        try:
            with self.tracer.span("bench", name) as sid:
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
            if sid is not None:
                self.roots[name] = sid
            ok = check is None or check(out)
        except Exception as e:  # noqa: BLE001 — a failed operation is a result
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:400])
            return None, None
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: wrong output")
            return None, None
        return dt, out


def medians(passes: list[dict[str, float]]) -> dict[str, float]:
    names = {n for p in passes for n in p}
    return {n: statistics.median([p[n] for p in passes if n in p]) for n in sorted(names)}


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            if fn.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dp, fn))
    return files, size


class RollupPipeline:
    name = "rollup_pipeline"
    n_pages = 20_000

    def __init__(self, run: Run):
        self.run = run
        self.passes: list[dict] = []
        self.store = None

    def setup_round(self) -> None:
        from pyspark.sql import functions as F

        from pq_spark.rollup.pages import synth_pages

        spark = self.run.spark
        self.pages = synth_pages(spark, self.n_pages, seed=self.run.seed)
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        try:
            self.page_rows = self.pages.select(
                "url", F.unix_millis("warc_ts").alias("ts_ms"), "text", "lang"
            ).toPandas()
        finally:
            spark.conf.unset("spark.sql.execution.arrow.pyspark.enabled")

    def prepare_answers(self) -> None:
        self.expected = oracles.expected_tiers(self.page_rows)

    def _call(self) -> dict:
        from pq_spark.rollup.pipeline import run_pipeline

        return run_pipeline(
            self.run.spark, self.pages, self.store,
            gorilla_block_ms=GORILLA_BLOCK_MS, cache_pages=True,
        )

    def one_pass(self) -> dict | None:
        if self.store:
            shutil.rmtree(self.store, ignore_errors=True)
        self.store = os.path.join(self.run.work, f"store{len(self.passes)}")
        fresh_s, fresh = self.run.op("fresh", self._call)
        if fresh is None:
            return None
        written = _stage_sum(fresh, "partitions_written")
        # the skip call writes nothing and skips exactly what the fresh call wrote
        resume_s, resume = self.run.op(
            "resume", self._call,
            check=lambda m: written > 0
            and _stage_sum(m, "partitions_written") == 0
            and _stage_sum(m, "partitions_skipped") == written,
        )
        if resume is None:
            return None
        files, size = _dir_stats(self.store)
        p = {"ops": {"fresh": fresh_s, "resume": resume_s}, "fresh": fresh,
             "resume": resume, "files": files, "bytes": size}
        self.passes.append(p)
        return p

    def verify(self) -> None:
        """Published tiers of the last fresh store equal the independent
        rollup; Gorilla packed every sample."""
        if not self.passes:
            return
        self.run.attempted += 1
        ok = all(oracles.tiers_match(self.expected, self.store).values())
        ok = ok and self.passes[-1]["fresh"].get("gorilla_points") == 3 * self.n_pages
        if not ok:
            self.run.failed += 1
            self.run.errors.append("rollup tiers differ from the independent rollup")
        shutil.rmtree(self.store, ignore_errors=True)

    def e2e(self) -> dict:
        """The first (cold) pass, however long a pass takes: later passes
        run on a warm JVM, which a batch job never sees."""
        p = self.passes[0]
        fresh, resume = p["ops"]["fresh"], p["ops"]["resume"]
        return {
            "pass_s": fresh + resume,
            "rest_s": resume,
            "items_per_s": p["fresh"]["rolled_up_points"] / fresh,
        }

    def layers(self, spans, attr, traced: list[dict]) -> dict:
        """Per-layer numbers of the traced passes, averaged per pass."""
        out: dict[str, float] = {}
        n = len(traced)

        def add(key, v):
            out[key] = out.get(key, 0.0) + v / n

        for p in traced:
            fresh_ids = subtree(spans, p["roots"]["fresh"])
            resume_ids = subtree(spans, p["roots"]["resume"])
            fp = [i for i in fresh_ids if spans[i]["name"] == "fingerprints"]
            pub = [i for i in fresh_ids if spans[i]["name"] in _PUBLISH]
            commits = [i for i in fresh_ids if spans[i]["name"].startswith("commit:")]
            in_commit = {j for c in commits for j in subtree(spans, c)}
            add("rollup.lineage.fingerprint_s", total_s(spans, fp))
            add("rollup.lineage.publish_s", total_s(spans, pub))
            inner = [i for i in fp + pub if i in in_commit]
            add("rollup.lineage.write_s", total_s(spans, commits) - total_s(spans, inner))
            add("rollup.lineage.resume_fingerprint_s",
                total_s(spans, [i for i in resume_ids if spans[i]["name"] == "fingerprints"]))
            add("rollup.lineage.spark_jobs", sum_field(attr, in_commit, "jobs"))
            m = p["fresh"]
            for st in ("verify_extraction", "tier_1m", "tier_1h", "tier_1d", "gorilla"):
                add(f"rollup.pipeline.stage_s.{st}", m["stages"].get(st, {}).get("elapsed_s", 0.0))
            add("rollup.lineage.partitions_written", _stage_sum(m, "partitions_written"))
            add("rollup.lineage.partitions_skipped", _stage_sum(p["resume"], "partitions_skipped"))
            add("rollup.lineage.files_written", p["files"])
            add("rollup.lineage.stored_bytes", p["bytes"])
            add("rollup.gorilla.compression", m.get("gorilla_compression") or 0.0)
            under = lambda prefix: [  # noqa: E731 — spans inside the commits of these tables
                j for c in commits if spans[c]["name"].startswith(prefix) for j in subtree(spans, c)
            ]
            gor = under("commit:gorilla_blocks")
            gor_py = sum_field(attr, gor, "python_bytes")
            add("rollup.gorilla.python_bytes", gor_py)
            add("rollup.pages.python_bytes", sum_field(attr, fresh_ids, "python_bytes") - gor_py)
            add("rollup.tiers.shuffle_bytes", sum_field(attr, under("commit:tier_"), "shuffle_write_bytes"))
        return out

    def trace_extras(self) -> dict:
        return {"rollup.gorilla.kernel_pts_per_s": gorilla_kernel_rate(self.run.seed)}


_PUBLISH = ("_write_manifest", "_append_snapshot", "_publish_snapshot")


COMMIT_STAGES = ("tier_1m", "tier_1h", "tier_1d", "gorilla")


def _stage_sum(metrics: dict, key: str) -> int:
    """Sum of ``key`` over the commit stages ``run_pipeline`` reports. A
    missing stage or key raises, so a check built on it fails."""
    return sum(metrics["stages"][st][key] for st in COMMIT_STAGES)


def gorilla_kernel_rate(seed: int, n: int = 4096, min_s: float = 1.0) -> float:
    """Points/s of the Gorilla pack kernel alone: ``pack_block`` on numpy
    blocks in this process — no Spark, no Arrow transport."""
    from pq_spark.rollup.gorilla import pack_block

    rng = np.random.default_rng(seed)
    ts = 1_700_000_000_000 + np.cumsum(rng.integers(1, 60_000, n)).astype(np.int64)
    vals = np.round(rng.gamma(2.0, 100.0, n), 1)
    pack_block(ts, vals)
    done, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < min_s:
        pack_block(ts, vals)
        done += n
    return done / (time.perf_counter() - t0)


# -- query_serve ----------------------------------------------------------------

REGISTRY_OPS = [
    "pq_stress_topk_rate",
    "ts_asof_join",
    "text_repetition",
]
TEXT_OPS = ("text_repetition",)  # persists inside textops
CLI_INTERVAL = "10s"
CLI_PROGRAM = (
    r"/^([^|]+)\|(\w+)\|(\d+)$/ | map {.0:ts, .1 as app, .2:num as bytes} "
    r"| select sum(bytes) by (app) | to_promapi"
)


class QueryServe:
    """Sizes (README.md gives the measurements behind them): documents at
    the sf0.1 row count; events at a tenth of it, because the DuckDB oracle
    of ``pq_stress_topk_rate`` takes 24 s at sf0.1, a third of a run's time
    budget; log lines where per-line work is a visible share of the CLI
    call (about 5 s of fixed cost per program)."""

    name = "query_serve"
    n_events, n_docs = inputs.SF01_ROWS["events"] // 10, inputs.SF01_ROWS["documents"]
    n_lines, log_span_s = 20_000, 3_600

    def __init__(self, run: Run):
        self.run = run
        self.passes: list[dict] = []
        self.data = os.path.join(run.work, "data")

    def setup_round(self) -> None:
        shutil.rmtree(self.data, ignore_errors=True)
        inputs.write_tables(self.data, self.run.seed, self.n_events, self.n_docs)
        self.records = inputs.log_records(self.run.seed, self.n_lines, self.log_span_s)
        self.lines = inputs.log_lines(self.records)

    def prepare_answers(self) -> None:
        from pq_spark.driver_queries import ORACLES

        con = oracles.duckdb_views(self.data)
        self.expected = {n: oracles.oracle_answer(con, ORACLES[n]) for n in REGISTRY_OPS}
        con.close()
        self.cli_expected = oracles.cli_expected(self.records, 10_000)

    def _cli(self) -> bytes:
        from pq_spark.engine.runner import run_cli_stream

        argv = ["pq", CLI_PROGRAM, "--interval", CLI_INTERVAL, "--lookback", CLI_INTERVAL]
        return run_cli_stream(self.run.spark, argv, iter(self.lines))

    def _cli_ok(self, out: bytes) -> bool:
        return out == self.cli_expected

    def _query(self, name: str) -> tuple[list[tuple], list[str]]:
        """Build the registry query and return its rows to this client."""
        from pq_spark.driver_queries import QUERIES

        with self.run.tracer.span("driver_queries", name):
            df = QUERIES[name](self.run.spark, self.data)
        with self.run.tracer.span("spark", "execute"):
            return [tuple(r) for r in df.collect()], df.columns

    def one_pass(self) -> dict | None:
        ops: dict[str, float] = {}
        cache_after: list[tuple[int, float]] = []
        dt, out = self.run.op("cli", self._cli, check=self._cli_ok)
        if dt is None:
            return None
        ops["cli"] = dt
        for name in REGISTRY_OPS:
            dt, _ = self.run.op(
                name, lambda n=name: self._query(n),
                check=lambda res, n=name: oracles.matches(self.expected[n], *res),
            )
            if dt is None:
                return None
            ops[name] = dt
            if self.run.tracer.enabled:
                cache_after.append(_cached_state(self.run.spark))
        p = {"ops": ops, "lines_out": out.count(b"\n"), "cache_after": cache_after}
        self.passes.append(p)
        return p

    def verify(self) -> None:
        """Every execution was checked when it returned."""

    def e2e(self) -> dict:
        """The first (cold) pass, as for ``rollup_pipeline``: a pq CLI call
        is one process, and the budget of a run holds no warm-up."""
        ops = self.passes[0]["ops"]
        return {
            "pass_s": sum(ops.values()),
            "rest_s": sum(ops.values()) - ops["cli"],
            "items_per_s": self.n_lines / ops["cli"],
        }

    def layers(self, spans, attr, traced: list[dict]) -> dict:
        out: dict[str, float] = {}
        n = len(traced)

        def add(key, v):
            out[key] = out.get(key, 0.0) + v / n

        for p in traced:
            roots = p["roots"]
            ids_of = {k: subtree(spans, r) for k, r in roots.items()}
            reg = [i for k in REGISTRY_OPS for i in ids_of[k]]
            builds = [i for i in reg if spans[i]["layer"] == "driver_queries"]
            in_build = {j for b in builds for j in subtree(spans, b)}
            of_layer = lambda ids, layer: [i for i in ids if spans[i]["layer"] == layer]  # noqa: E731
            every = [i for ids in ids_of.values() for i in ids]
            add("driver_queries.build_s", total_s(spans, builds))
            add("driver_queries.build_share",
                total_s(spans, builds) / total_s(spans, [roots[k] for k in REGISTRY_OPS]))
            add("engine.planner.build_s", total_s(spans, of_layer(in_build, "engine.planner")))
            add("query.parser.parse_s", total_s(spans, of_layer(every, "query.parser")))
            add("engine.planner.exchanges", sum_field(attr, reg, "exchanges"))
            add("engine.planner.scans", sum_field(attr, reg, "scans"))
            text_ids = [i for k in TEXT_OPS for i in ids_of[k]]
            add("textops.python_bytes", sum_field(attr, text_ids, "python_bytes"))
            add("textops.cache_scans", sum_field(attr, text_ids, "cache_scans"))
            add("textops.cached_mb_after", max(c[1] for c in p["cache_after"]))
            add("spark.persisted_rdds_after", max(c[0] for c in p["cache_after"]))
            add("program.parse_s", total_s(spans, of_layer(every, "program")))
            add("engine.runner.consume_s",
                total_s(spans, [i for i in every if spans[i]["name"] == "consume_stream_lines"]))
            add("engine.formatter.format_s", total_s(spans, of_layer(every, "engine.formatter")))
            add("engine.formatter.lines_out", p["lines_out"])
        return out

    def trace_extras(self) -> dict:
        return {}


def _cached_state(spark) -> tuple[int, float]:
    """(persistent RDDs, MB of storage memory they hold) right now."""
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    mem = sum(info.memSize() for info in jsc.sc().getRDDStorageInfo())
    return n, mem / 1e6


WORKLOADS = {w.name: w for w in (RollupPipeline, QueryServe)}
