#!/usr/bin/env python
"""Benchmark harness.

Default mode: runs the headline workload at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32) and prints
ONE JSON line::

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": 0.1, ...}

Workload = the north-rule pipeline (synthetic page corpus → extraction
samples → 1m/1h/1d tier cascade with lineage → Gorilla packing) plus the
headline engine queries over the driver-generated events table.

``--scaling`` mode: runs the SAME pipeline job at two parallelism levels
(local[8] and local[32] by default — the sandbox proxy for N vs 4N
executors) in fresh subprocesses and reports throughput at both plus the
scaling efficiency (BASELINE.md criterion ≥ 0.8).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time


def _mk_spark(cpus: int, shuffle_partitions: int | None = None,
              executors: int | None = None):
    """Session factory. ``executors`` switches to local-cluster mode:
    separate single-core executor JVM processes — the sandbox proxy for a
    real N-executor cluster (see BENCH/BASELINE.md: this sandbox throttles
    threads WITHIN one process, so multi-process executors are the honest
    way to evidence executor-count scaling)."""
    from pyspark.sql import SparkSession

    if executors is not None:
        master = f"local-cluster[{executors},1,4096]"
        parallelism = executors
        jvm_opts = (
            "-XX:ParallelGCThreads=2 -XX:CICompilerCount=2 "
            "-XX:ActiveProcessorCount=1"
        )
        # executors are separate JVMs with their own python workers: ship
        # the package exactly as a real cluster run would (--py-files)
        root = os.path.dirname(os.path.abspath(__file__))
        zip_path = os.path.join(root, "dist", "pq_spark.zip")
        # rebuild when ANY source is newer — a stale zip silently ships old
        # Python modules to the executor workers
        src_mtime = max(
            os.path.getmtime(os.path.join(dp, f))
            for dp, _, fs in os.walk(os.path.join(root, "pq_spark"))
            for f in fs if f.endswith(".py")
        )
        if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < src_mtime:
            subprocess.run(
                [os.path.join(root, "scripts", "build_pyfiles.sh")],
                check=True, capture_output=True,
            )
        builder = (
            SparkSession.builder.master(master)
            .config("spark.executor.memory", "4g")
            .config("spark.executor.extraJavaOptions", jvm_opts)
            .config("spark.submit.pyFiles", zip_path)
            .config("spark.pyspark.python", sys.executable)
        )
    else:
        master = f"local[{cpus}]"
        parallelism = cpus
        builder = SparkSession.builder.master(master).config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "24g")
        )

    if os.path.isdir("/dev/shm"):
        # shuffle/spill scratch on tmpfs: the shared host's disk contention
        # was the round-2 noise source; shuffle files are ephemeral
        shm = "/dev/shm/pq_spark_local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)

    return (
        builder.appName("pq_spark-bench")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or max(parallelism * 2, 8)))
        .config("spark.default.parallelism", str(parallelism))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .getOrCreate()
    )


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.0


def _median(xs: list[float]) -> float:
    import statistics

    return float(statistics.median(xs))


def _control_probe(spark) -> float:
    """Fixed pure-JVM compute job (no I/O, no Python) — a host-drift
    canary. Identical work every call; any spread across repetitions is
    host noise, not code. Reported in the JSON so a reviewer can judge the
    snapshot's trustworthiness without a separate addendum."""
    t0 = time.time()
    spark.range(0, 200_000_000, 1, 32).selectExpr(
        "sum(id * 3 + 1) AS s"
    ).collect()
    return time.time() - t0


DRIFT_MAX = 1.3   # a measurement window is "quiet" if its bracketing control
                  # probes are within this factor of the best probe seen
MAX_EXTRA_REPS = 4  # bounded retry budget for noisy windows


def _accepted_windows(probes: list[float], n_atts: int) -> list[int]:
    """Indices of attempts whose bracketing probes (before = probes[i],
    after = probes[i+1]) are both ≤ DRIFT_MAX × the best probe seen.
    The probe is fixed pure-JVM compute, so any probe above that band
    means the host was busy while the neighbouring attempt ran."""
    minp = min(probes)
    return [
        i for i in range(n_atts)
        if max(probes[i], probes[i + 1]) <= DRIFT_MAX * minp
    ]


def _select_reps(probes: list[float], n_atts: int, reps: int) -> list[int]:
    """Final selection: the drift-accepted windows, or (if the retry budget
    ran out before ``reps`` quiet windows appeared) the ``reps`` quietest
    attempts by bracketing-probe max — honest fallback, flagged in the
    artifact via the recorded drift."""
    acc = _accepted_windows(probes, n_atts)
    if len(acc) >= min(reps, n_atts):
        return acc
    return sorted(range(n_atts), key=lambda i: max(probes[i], probes[i + 1]))[:reps]


def run_pipeline_bench(spark, sf: float, n_pages: int | None, out_dir: str,
                       reps: int = 3) -> dict:
    """North-rule pipeline at a page count proportional to sf.

    SELF-CERTIFYING protocol (round-3 verdict item 1): every repetition is
    bracketed by a fixed pure-JVM control probe; a rep counts only if both
    bracketing probes are within DRIFT_MAX of the best probe (i.e. the host
    was quiet while it ran). Noisy reps are re-run (bounded by
    MAX_EXTRA_REPS) and recorded in the JSON as rejected — the artifact
    carries its own evidence instead of needing a quiet-window addendum.
    Round-2/3 measured 2-20× host drift on identical code; the official
    r03 snapshot had reps spreading 9.9k-24.5k pps inside one run."""
    from pq_spark.rollup.pages import synth_pages
    from pq_spark.rollup.pipeline import run_pipeline

    n = n_pages if n_pages is not None else max(int(sf * 4_000_000), 20_000)
    pages = synth_pages(spark, n)

    def one_rep(tag):
        rep_dir = os.path.join(out_dir, f"rep{tag}")
        m = run_pipeline(
            spark, pages, rep_dir,
            gorilla_block_ms=6 * 3_600_000, cache_pages=True,
        )
        shutil.rmtree(rep_dir, ignore_errors=True)
        return m

    # unrecorded warm-up (codegen, JIT tiers, page cache — costs a
    # long-running cluster job pays once); measured reps start warm
    one_rep("warm")
    attempts: list[dict] = []
    probes = [round(_control_probe(spark), 3)]
    while len(attempts) < reps + MAX_EXTRA_REPS:
        attempts.append(one_rep(len(attempts)))
        probes.append(round(_control_probe(spark), 3))
        if len(_accepted_windows(probes, len(attempts))) >= reps:
            break
    chosen = _select_reps(probes, len(attempts), reps)
    per_rep = [attempts[i] for i in chosen]
    bracket = [p for i in chosen for p in (probes[i], probes[i + 1])]

    med = _median([m["points_per_sec"] for m in per_rep])
    # stage timeline from the accepted rep closest to the median — the r03
    # artifact took the LAST rep, which happened to be its noisiest
    stage_rep = min(per_rep, key=lambda m: abs(m["points_per_sec"] - med))
    out = dict(stage_rep)
    out["points_per_sec"] = med
    out["elapsed_s"] = _median([m["elapsed_s"] for m in per_rep])
    out["pipeline_pps_reps"] = [round(m["points_per_sec"], 1) for m in per_rep]
    out["pipeline_pps_rejected"] = [
        round(attempts[i]["points_per_sec"], 1)
        for i in range(len(attempts)) if i not in chosen
    ]
    out["pipeline_probe_s"] = probes
    out["pipeline_drift"] = round(max(bracket) / max(min(probes), 1e-9), 2)
    out["n_pages"] = n
    out["stage_s"] = {
        k: round(v["elapsed_s"], 3)
        for k, v in stage_rep["stages"].items()
        if isinstance(v, dict) and "elapsed_s" in v
    }
    return out


def run_query_bench(spark, sf_dir: str, reps: int = 3) -> tuple[dict, dict]:
    """Headline engine queries over the driver's events/documents tables.

    INTERLEAVED repetitions — (q1..qN)(q1..qN)... rather than
    (q1,q1)(q2,q2)... — so a transient host-noise window inflates one
    repetition of every query instead of destroying one query's number.
    Per-query statistic: median over the drift-ACCEPTED passes (each pass
    bracketed by pure-JVM control probes; passes in a noisy window are
    rejected and re-run, bounded — see run_pipeline_bench)."""
    from pq_spark.driver_queries import QUERIES

    names = [
        "pq_instant_vector",
        "pq_sum_by_et",
        "pq_count_over_time",
        "pq_rate_1h",
        "tier_1m",
        "tier_1d_cascade",
        "gapfill_1m_day1",
        "dedup_minhash_sig",
        "dedup_simhash",
        "ann_cosine_topk",
        "text_quality",
        # round-4 additions (no round-1 bar — tracked from r4 onward)
        "contam_overlap",
        "sample_stratified",
        "text_repetition",
        # round-5: composed multi-operator stress (topk ∘ sum-by ∘ rate) —
        # single-family headlines hide composed-plan regressions
        "pq_stress_topk_rate",
        # round-7: time-series joins + tier routing (new operator families
        # get headline perf ownership the round they land)
        "ts_asof_join",
        "tier_routed_window",
        # round-7: exact duplicate-span removal (gram fan-out + dup agg +
        # per-row rewrite — the heaviest corpus transform in the registry)
        "text_dup_spans",
        # round-7: event-time sessionization (single-Exchange window chain)
        # and canonical-URL dedup (scan-projection regex folding + one
        # map-side-combining groupBy)
        "ts_sessionize",
        "url_canonical_dedup",
        # round-7: winnowing fingerprints (per-row array fold + fp-keyed
        # pair join — the position-local dedup family)
        "winnow_pairs",
    ]
    # warm-up pass (codegen/JIT/broadcast amortization) — not recorded
    for name in names:
        QUERIES[name](spark, sf_dir).count()
    # drift-gated passes, same self-certifying protocol as the pipeline:
    # each full interleaved pass is bracketed by control probes; noisy
    # passes are rejected and re-run within the bounded retry budget
    passes: list[dict[str, float]] = []
    probes = [round(_control_probe(spark), 3)]
    while len(passes) < reps + MAX_EXTRA_REPS:
        one: dict[str, float] = {}
        for name in names:
            t0 = time.time()
            QUERIES[name](spark, sf_dir).count()
            one[name] = time.time() - t0
        passes.append(one)
        probes.append(round(_control_probe(spark), 3))
        if len(_accepted_windows(probes, len(passes))) >= reps:
            break
    chosen = _select_reps(probes, len(passes), reps)
    bracket = [p for i in chosen for p in (probes[i], probes[i + 1])]
    out = {
        n: round(_median([passes[i][n] for i in chosen]), 3) for n in names
    }
    meta = {
        "control_s": probes,
        "control_drift": round(max(bracket) / max(min(probes), 1e-9), 2),
        "query_reps": len(chosen),
        "query_passes_rejected": len(passes) - len(chosen),
    }
    return out, meta


def kernel_bench(executors: int, n_pages: int) -> dict:
    """Rollup-kernel throughput: tier cascade (+pack) over a pre-materialized
    narrow fact table — sources/sinks excluded, i.e. the 'rolled-up
    points/sec' compute itself. Used by --scaling for the N vs 4N evidence."""
    import tempfile

    from pyspark.sql import functions as F

    spark = _mk_spark(0, executors=executors)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        from pq_spark.engine.frames import series_key, sig_expr
        from pq_spark.rollup import gorilla
        from pq_spark.rollup.pages import page_samples, synth_pages
        from pq_spark.rollup.tiers import (
            series_dim, tier_from_tier, tier_partials,
        )

        # at sandbox scale the whole fact table is a few dozen MB — the
        # 128 MB default packs the scan into ~3 splits, starving the map
        # side of a 4-executor run. 16 MB reproduces the file-to-core ratio
        # a real cluster has at 100 TB (where 128 MB is the right value).
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16m")
        spark.conf.set("spark.sql.files.openCostInBytes", "1m")
        tmp = tempfile.mkdtemp(prefix="pq_kernel_", dir=_scratch_base())
        pages = synth_pages(spark, n_pages, partitions=16)
        sw = page_samples(pages)
        sw.select(
            series_key(sig_expr(F.col("labels"))).alias("skey"), "ts", "seq", "value"
        ).write.parquet(tmp + "/fact")
        series_dim(sw).write.parquet(tmp + "/dim")
        fact = spark.read.parquet(tmp + "/fact")
        dim = spark.read.parquet(tmp + "/dim")

        def cascade():
            p1m = tier_partials(fact, "1m").persist()
            n1m = p1m.count()
            p1h = tier_from_tier(p1m, "1h").persist()
            n1h = p1h.count()
            n1d = tier_from_tier(p1h, "1d").count()
            blocks = gorilla.pack_blocks(
                fact, block_ms=6 * 3_600_000, dim=dim
            ).count()
            p1m.unpersist()
            p1h.unpersist()
            return n1m + n1h + n1d, blocks

        # warm the FULL path (1m + 1h + 1d + Gorilla codegen all compile
        # here, not inside the timed region — a long-running cluster job
        # pays codegen once per stage shape, not once per batch)
        sample = fact.limit(2000).persist()
        sample.count()
        p1m_w = tier_partials(sample, "1m").persist()
        p1m_w.count()
        p1h_w = tier_from_tier(p1m_w, "1h").persist()
        p1h_w.count()
        tier_from_tier(p1h_w, "1d").count()
        gorilla.pack_blocks(sample, block_ms=6 * 3_600_000, dim=dim).count()
        for df in (sample, p1m_w, p1h_w):
            df.unpersist()

        # median-of-3 timed reps: one scheduling hiccup must not set the
        # scaling-efficiency number
        reps = []
        pts = blocks = 0
        for _ in range(3):
            t0 = time.time()
            pts, blocks = cascade()
            reps.append(time.time() - t0)
        dt = _median(reps)
        shutil.rmtree(tmp, ignore_errors=True)
        return {
            "executors": executors,
            "n_pages": n_pages,
            "rolled_up_points": pts,
            "gorilla_blocks": blocks,
            "kernel_elapsed_s": round(dt, 3),
            "kernel_reps_s": [round(r, 3) for r in reps],
            "points_per_sec": round(pts / dt, 1),
        }
    finally:
        spark.stop()


def _scratch_base() -> str | None:
    """Bench scratch on tmpfs when available: the shared host's disk is the
    dominant noise source (round-2 addendum) and tier/Gorilla writes are an
    intermediate of the measured compute, not a durability requirement."""
    return "/dev/shm" if os.path.isdir("/dev/shm") else None


def bench_once(cpus: int, sf_dir: str, n_pages: int | None, queries: bool,
               executors: int | None = None, reps: int = 3) -> dict:
    spark = _mk_spark(cpus, executors=executors)
    spark.sparkContext.setLogLevel("ERROR")
    sf = _sf_from_dir(sf_dir)
    out_dir = tempfile.mkdtemp(prefix="pq_spark_bench_", dir=_scratch_base())
    try:
        t0 = time.time()
        pipe = run_pipeline_bench(spark, sf, n_pages, out_dir, reps=reps)
        q, qmeta = run_query_bench(spark, sf_dir, reps=reps) if queries else ({}, {})
        total = time.time() - t0
        return {
            "metric": "rolled-up points/sec across 1m/1h/1d tiers (north-rule pipeline) + headline query latencies",
            "value": round(total, 3),
            "unit": "sec",
            "queries": q,
            "sf": sf,
            "cpus": cpus,
            "executors": executors,
            "n_pages": pipe["n_pages"],
            "rolled_up_points": pipe["rolled_up_points"],
            "points_per_sec": round(pipe["points_per_sec"], 1),
            "pipeline_elapsed_s": round(pipe["elapsed_s"], 3),
            "pipeline_pps_reps": pipe["pipeline_pps_reps"],
            "pipeline_pps_rejected": pipe["pipeline_pps_rejected"],
            "pipeline_probe_s": pipe["pipeline_probe_s"],
            "pipeline_drift": pipe["pipeline_drift"],
            "stage_s": pipe.get("stage_s", {}),
            "gorilla_compression": pipe.get("gorilla_compression"),
            **qmeta,
        }
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--n-pages", type=int, default=None)
    ap.add_argument("--no-queries", action="store_true")
    ap.add_argument("--scaling", action="store_true",
                    help="run the pipeline at N and 4N executors "
                         "(local-cluster, separate executor JVMs), report efficiency")
    ap.add_argument("--n-exec", type=int, default=1,
                    help="N for the scaling run (compares N vs 4N executors)")
    ap.add_argument("--executors", type=int, default=None,
                    help="run a single bench on local-cluster[N,1,4096]")
    ap.add_argument("--kernel", action="store_true",
                    help="run the rollup kernel bench once (needs --executors)")
    ap.add_argument("--json-only", action="store_true")
    ap.add_argument("--reps", type=int, default=3,
                    help="interleaved repetitions per query / pipeline reps "
                         "(median reported)")
    args = ap.parse_args()

    if args.kernel:
        print(json.dumps(kernel_bench(args.executors or 4, args.n_pages or 2_000_000)))
        return

    if args.scaling:
        n, n4 = args.n_exec, args.n_exec * 4
        results = {}
        kernels = {}
        for e in (n, n4):
            cmd = [
                sys.executable, os.path.abspath(__file__),
                "--sf-dir", args.sf_dir, "--executors", str(e),
                "--no-queries", "--json-only",
            ]
            if args.n_pages:
                cmd += ["--n-pages", str(args.n_pages)]
            out = subprocess.run(cmd, capture_output=True, text=True, check=True)
            results[e] = json.loads(out.stdout.strip().splitlines()[-1])
            kcmd = [
                sys.executable, os.path.abspath(__file__),
                "--kernel", "--executors", str(e),
                "--n-pages", str(args.n_pages or 2_000_000),
            ]
            kout = subprocess.run(kcmd, capture_output=True, text=True, check=True)
            kernels[e] = json.loads(kout.stdout.strip().splitlines()[-1])
        t_n, t_4n = results[n]["pipeline_elapsed_s"], results[n4]["pipeline_elapsed_s"]
        k_n, k_4n = kernels[n]["kernel_elapsed_s"], kernels[n4]["kernel_elapsed_s"]
        print(json.dumps({
            "metric": f"scaling {n} → {n4} executors (local-cluster, 1 core each)",
            "value": round((k_n / k_4n) / 4, 3),
            "unit": "efficiency",
            "sf": _sf_from_dir(args.sf_dir),
            "kernel_efficiency": round((k_n / k_4n) / 4, 3),
            "pipeline_efficiency": round((t_n / t_4n) / 4, 3),
            f"kernel_pps_{n}exec": kernels[n]["points_per_sec"],
            f"kernel_pps_{n4}exec": kernels[n4]["points_per_sec"],
            f"pipeline_pps_{n}exec": results[n]["points_per_sec"],
            f"pipeline_pps_{n4}exec": results[n4]["points_per_sec"],
            # per-stage timings at both sizes: shows which pipeline stages
            # scale (tiers/gorilla) vs which are source/sink-bound
            f"stage_s_{n}exec": results[n].get("stage_s", {}),
            f"stage_s_{n4}exec": results[n4].get("stage_s", {}),
            "rolled_up_points": kernels[n4]["rolled_up_points"],
        }))
        return

    result = bench_once(args.cpus, args.sf_dir, args.n_pages, not args.no_queries,
                        executors=args.executors, reps=args.reps)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
