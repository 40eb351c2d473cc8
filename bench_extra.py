#!/usr/bin/env python
"""Extra benchmarks for the optimization rounds (guide §1.4): per-query
noop-sink isolation, build-vs-execute split, Spark job counts, and plan
capture. ``bench.py`` is frozen for driver measurement; everything
exploratory lives here.

Usage::

    python bench_extra.py --queries pq_instant_vector tier_1m   # subset
    python bench_extra.py --plans plans/r08 --suffix before     # capture explains
    python bench_extra.py                                        # all headline queries
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import time

HEADLINE = [
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
    "contam_overlap",
    "sample_stratified",
    "text_repetition",
    "pq_stress_topk_rate",
    "ts_asof_join",
    "tier_routed_window",
    "text_dup_spans",
    "ts_sessionize",
    "url_canonical_dedup",
    "winnow_pairs",
]


def _mk_spark(cpus: int):
    import bench

    return bench._mk_spark(cpus)


def _job_count(spark) -> int:
    t = spark.sparkContext.statusTracker()
    return len(t.getJobIdsForGroup(None) or [])


def _mask_ids(plan: str) -> str:
    """Mask the session counters in a formatted plan: expression ids
    (``#123``), lambda variable suffixes (``lambda x_739``), exchange
    plan ids (``plan_id=96166``) and checkpointed RDD ids
    (``MapPartitionsRDD[3248]``). They count what the session built
    before, so they differ between runs of one plan; masked, two
    captures compare with ``diff -r``."""
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"(lambda \w+?)_\d+", r"\1_N", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
    return re.sub(r"plan_id=\d+", "plan_id=N", plan)


def profile_queries(spark, sf_dir: str, names: list[str], reps: int,
                    plans_dir: str | None, suffix: str) -> dict:
    from pq_spark.driver_queries import QUERIES

    sc = spark.sparkContext
    out: dict[str, dict] = {}
    # warm-up (codegen/JIT) — same protocol as bench.py
    for name in names:
        QUERIES[name](spark, sf_dir).count()
    for name in names:
        sc.setJobDescription(f"bench_extra: {name}")
        samples = []
        build_s = []
        jobs_build = jobs_exec = 0
        plan_txt = ""
        for r in range(reps):
            j0 = len(sc.statusTracker().getActiveJobsIds() or [])
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.time()
            if r == 0:
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                plan_txt = _mask_ids(buf.getvalue())
            t1b = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            build_s.append(round(t1 - t0, 3))
            samples.append(round(t2 - t1b, 3))
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(plan_txt)
        out[name] = {
            "noop_s": samples,
            "noop_min": min(samples),
            "build_s": build_s,
        }
        sc.setJobDescription(None)
    return out


def ts_bench(spark, n: int = 1_000_000) -> dict:
    """Decoder microbench: format-guess timestamp parsing over n synthetic
    log timestamps, one fifth each ISO 'T', nginx, unix seconds, ISO
    space + fraction and RFC2822. Every figure is the best of 3 noop
    writes (or gate jobs) over a persisted input, in seconds.

    Mix (all five shapes) and RFC2822 rows alone, in three layouts:
    - ``*_udf_s``: the pure pandas cascade;
    - ``*_masked_s``: JVM cascade column, then the masked pandas fallback
      (RFC2822 rows cross to Python) — the layout without the claim;
    - ``*_claim_s``: cascade column, RFC2822 claim column, and the
      fallback as the gate plans it (no Python node here), plus
      ``*_gate_s``, the gate's own JVM job (``ts_fallback_needed``).
    ``mix_records_s``: the records of ``/(.*)/ | map {.0:ts}`` over the
    mix, as the CLI plans them (``records_of(map_entries(...))``).
    Control, the four shapes that are NOT RFC2822, JVM only:
    ``ctl_cascade_s`` (cascade alone), ``ctl_staged_s`` (claim in its own
    projection, as shipped) and ``ctl_inline_s`` (claim folded into the
    cascade expression, one generated method — the JIT cliff).
    ``diff_rows`` counts mix rows where the shipped layout and the pure
    pandas cascade differ (must be 0)."""
    import pyspark.sql.functions as F

    from pq_spark.engine.ingest import (
        _guess_ts_jvm,
        _guess_ts_udf,
        _rfc2822_jvm,
        _stage_guess_ts,
        map_entries,
        records_of,
        ts_fallback_needed,
    )
    from pq_spark.program import parse_program

    i = F.col("id")
    two = lambda c: F.lpad((c % 60).cast("string"), 2, "0")  # noqa: E731
    shape = i % 5
    mix = spark.range(n).select(
        shape.alias("k"),
        F.when(shape == 0,
               F.concat(F.lit("2024-03-0"), (i % 9 + 1).cast("string"),
                        F.lit("T10:11:12Z")))
        .when(shape == 1,
              F.concat(F.lit("01/Jul/2021:00:00:"), two(i), F.lit(" +0200")))
        .when(shape == 2, (F.lit(1600000000) + i % 10000).cast("string"))
        .when(shape == 3,
              F.concat(F.lit("2021-01-01 00:00:"), two(i), F.lit(".25")))
        .otherwise(F.concat(F.lit("Tue, "), (i % 28 + 1).cast("string"),
                            F.lit(" Jul 2003 10:52:"), two(i), F.lit(" +0200")))
        .alias("s"),
    ).persist()
    rfc = mix.filter("k = 4").select("s").persist()
    ctl = mix.filter("k != 4").select("s").persist()
    s = F.col("s")
    mapper = parse_program("/(.*)/ | map {.0:ts}").mapper

    def best(run, reps=3):
        run()
        out = []
        for _ in range(reps):
            t0 = time.time()
            run()
            out.append(time.time() - t0)
        return round(min(out), 3)

    def t(build):
        return best(lambda: build().write.format("noop").mode("overwrite").save())

    def masked(df):
        st = df.withColumn("_j", _guess_ts_jvm(s))
        j = F.col("_j")
        return st.select(F.coalesce(j, _guess_ts_udf()(F.when(j.isNull(), s))).alias("t"))

    def entries(df):
        return df.select(
            F.lit(0).alias("line_no"), F.array(s).alias("arr"),
            F.lit(None).cast("map<string,string>").alias("map"),
        )

    def gate(df):
        return ts_fallback_needed(entries(df), mapper)

    def claimed(df, fallback):
        st, parsed = _stage_guess_ts(df, s, "_t", fallback)
        return st.select(s, parsed.alias("t"))

    out = {"n": n, "rfc_rows": rfc.count(), "ctl_rows": ctl.count()}
    for name, df in (("mix", mix), ("rfc", rfc)):
        fallback = gate(df)
        out[f"{name}_fallback"] = fallback
        out[f"{name}_udf_s"] = t(lambda: df.select(_guess_ts_udf()(s).alias("t")))
        out[f"{name}_masked_s"] = t(lambda: masked(df))
        out[f"{name}_gate_s"] = best(lambda: gate(df))
        out[f"{name}_claim_s"] = t(lambda: claimed(df, fallback))
    out["mix_records_s"] = t(
        lambda: records_of(map_entries(entries(mix), mapper, out["mix_fallback"]))
    )
    out["ctl_cascade_s"] = t(lambda: ctl.select(_guess_ts_jvm(s).alias("t")))
    out["ctl_staged_s"] = t(lambda: claimed(ctl, False).select("t"))
    out["ctl_inline_s"] = t(
        lambda: ctl.select(F.coalesce(_guess_ts_jvm(s), _rfc2822_jvm(s)).alias("t"))
    )
    out["diff_rows"] = (
        claimed(mix, out["mix_fallback"])
        .filter(~F.col("t").eqNullSafe(_guess_ts_udf()(s)))
        .count()
    )
    for df in (ctl, rfc, mix):
        df.unpersist()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--queries", nargs="*", default=None)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None, help="directory to write explain('formatted') to")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--ts-bench", action="store_true",
                    help="run the decoder guess-cascade microbench instead")
    args = ap.parse_args()

    spark = _mk_spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.ts_bench:
            print(json.dumps(ts_bench(spark)))
            return
        names = args.queries or HEADLINE
        res = profile_queries(spark, args.sf_dir, names, args.reps, args.plans, args.suffix)
        print(json.dumps(res, indent=1))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
