#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload rollup_pipeline --seed 1 --seconds 20 --trace 0

Runs one workload on ``local[nproc]`` in this process, checks every output
against an independent answer, and prints as its last stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` alternates untraced and
traced passes and reports the per-layer metrics (see perfbench/README.md).
The line before it holds the host facts (cores, memory, versions, source
digest). All scratch files live under ``.perfbench_work/`` and are removed.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LAYERS = [
    "program", "query.parser", "engine.ingest", "engine.planner", "engine.runner",
    "engine.formatter", "rollup.pages", "rollup.tiers", "rollup.gorilla",
    "rollup.lineage", "rollup.pipeline", "driver_queries", "textops", "timejoin",
    "spark", "bench",
]
SPARK_METRICS = {
    "spark.jobs": "jobs", "spark.stages": "stages", "spark.tasks": "tasks",
    "spark.task_s": "task_s", "spark.task_cpu_s": "task_cpu_s", "spark.gc_s": "gc_s",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.shuffle_read_bytes": "shuffle_read_bytes", "spark.spill_bytes": "spill_bytes",
    "spark.python_bytes": "python_bytes",
}
SETUP_ROUNDS = 3


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _commit_label(store, df, table, *args, **kwargs) -> str:
    """Span label of ``TierStore.commit(df, table, ...)``."""
    return f"commit:{table}"


def _udf_counters() -> list[tuple]:
    """(owner, factory, key): the pandas UDFs whose input rows are counted."""
    from pq_spark.engine import ingest
    from pq_spark.rollup import pages

    return [
        (pages, "extract_text_udf", "rollup.pages.extract_rows"),
        (ingest, "_guess_ts_udf", "engine.ingest.ts_fallback_rows"),
    ]


def _trace_targets(tracer_mod) -> list[tuple]:
    from pq_spark import program, textops, timejoin
    from pq_spark.engine import formatter, ingest, planner, runner
    from pq_spark.query import parser
    from pq_spark.rollup import gorilla, lineage, pages, pipeline, tiers

    t = [
        (program, "parse_program", "program", "parse_program", False),
        (parser, "parse_expr", "query.parser", "parse_expr", True),
        (planner.Planner, "plan", "engine.planner", "plan", True),
        (runner, "run_cli_stream", "engine.runner", "run_cli_stream", False),
        (runner, "consume_stream_lines", "engine.runner", "consume_stream_lines", False),
        (runner.PqEngine, "run_program", "engine.runner", "run_program", False),
        (runner.PqEngine, "evaluate", "engine.runner", "evaluate", False),
        (pipeline, "run_pipeline", "rollup.pipeline", "run_pipeline", False),
        (pages, "synth_pages", "rollup.pages", "synth_pages", False),
        (pages, "_page_enriched", "rollup.pages", "page_enriched", False),
        (pages, "page_series_dim_from_enriched", "rollup.pages", "page_series_dim", False),
        (gorilla, "pack_blocks", "rollup.gorilla", "pack_blocks", False),
        (gorilla, "unpack_blocks", "rollup.gorilla", "unpack_blocks", False),
    ]
    t.append((lineage.TierStore, "commit", "rollup.lineage", _commit_label, False))
    for attr in ("fingerprints", "finalize_commit", "read",
                 "_write_manifest", "_append_snapshot", "_publish_snapshot"):
        t.append((lineage.TierStore, attr, "rollup.lineage", attr, False))
    for attr in ("promapi_lines", "promhuman_lines", "entries_json_lines", "records_json_lines"):
        t.append((formatter, attr, "engine.formatter", attr, False))
    for mod, layer in ((ingest, "engine.ingest"), (tiers, "rollup.tiers"),
                       (textops, "textops"), (timejoin, "timejoin")):
        t += [(mod, a, layer, a, False) for a in tracer_mod.dataframe_functions(mod)]
    return t


def _read_event_log(work: str) -> list[str]:
    files = glob.glob(os.path.join(work, "events", "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log, found {files}")
    with open(files[0]) as f:
        return f.readlines()


def _generic_layers(spans, attr, traced, untraced, trace_mod) -> dict:
    n = len(traced)
    st = trace_mod.self_times(spans, attr["jobs"])
    ids = [i for p in traced for r in p["roots"].values() for i in trace_mod.subtree(spans, r)]
    out = {f"self_s.{layer}": 0.0 for layer in LAYERS}
    for i in ids:
        layer = spans[i]["layer"]
        out[f"self_s.{layer}"] += st[i]["layer_s"] / n
        out["self_s.spark"] += st[i]["spark_s"] / n
    for key, field in SPARK_METRICS.items():
        out[key] = trace_mod.sum_field(attr, ids, field) / n
    out["spark.exec_s"] = out["self_s.spark"]
    untraced_wall = statistics.median(p["wall"] for p in untraced)
    attributed = sum(v for k, v in out.items() if k.startswith("self_s.") and k != "self_s.bench")
    out["trace.overhead_s"] = statistics.median(p["wall"] for p in traced) - untraced_wall
    out["trace.attributed_s"] = attributed
    out["trace.unattributed_s"] = untraced_wall - attributed
    roots = [spans[r] for p in traced for r in p["roots"].values()]
    out["trace.unattributed_jobs"] = sum(
        1 for t in attr["free_jobs"] if any(s["t0"] <= t <= s["t1"] for s in roots)
    ) / n
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "pq_spark")):
        print(f"perfbench: no pq_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import bench  # the fixed pure-JVM control probe
    from perfbench import session, trace, workloads

    session.adopt_orphans()
    # a TERM ends the run through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = _benchmark_spec()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    traced_run = bool(args.trace)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = session.make_spark(work, event_log=traced_run)
        session_s = time.perf_counter() - t0
        tracer = trace.Tracer(spark.sparkContext)
        run = workloads.Run(work, args.seed, spark, tracer)
        wl = workloads.WORKLOADS[args.workload](run)
        with session.RssSampler(session.jvm_pid(spark)) as rss:
            rounds = []
            for _ in range(SETUP_ROUNDS):
                t = time.perf_counter()
                wl.setup_round()
                rounds.append(time.perf_counter() - t)
            # the answers depend on the seed only, so they are prepared once
            t = time.perf_counter()
            wl.prepare_answers()
            answers_s = time.perf_counter() - t
            setup_s = session_s + statistics.median(rounds) + answers_s
            if traced_run:
                loaded = [m for k, m in sys.modules.items() if k.startswith("pq_spark")]
                tracer.install(loaded, _trace_targets(trace))
                for owner, attr, key in _udf_counters():
                    tracer.count_udf_rows(loaded, owner, attr, key)
                # one unrecorded (cold) pass, so that the untraced and
                # traced passes compared for the overhead are equally warm
                wl.one_pass()
                wl.passes.clear()
            untraced, traced = [], []
            deadline = time.perf_counter() + args.seconds
            while run.failed == 0:
                tracer.enabled = traced_run and len(traced) <= len(untraced)
                t = time.perf_counter()
                p = wl.one_pass()
                if p is None:
                    break
                p["wall"] = time.perf_counter() - t
                p["roots"] = dict(run.roots)
                (traced if tracer.enabled else untraced).append(p)
                tracer.enabled = False
                # a traced run alternates traced and untraced passes and
                # ends on an untraced one, so the two kinds are equally many
                if time.perf_counter() >= deadline and (
                    not traced_run or len(untraced) == len(traced)
                ):
                    break
            probe_s = bench._control_probe(spark)  # host weather, on the warm JVM
            wl.verify()
            extras = wl.trace_extras() if traced_run and run.failed == 0 else {}
        facts = session.host_facts(ROOT, spark)
        session.stop_spark(spark)
        spark = None
        ok = run.failed == 0 and bool(wl.passes)
        metrics: dict[str, float] = {}
        if ok and not traced_run:
            metrics = {"setup_s": setup_s, "peak_rss_mb": rss.peak_kb / 1024, **wl.e2e()}
            names = [m["name"] for m in spec["end_to_end"]]
        elif ok:
            tracer.uninstall()
            attr = trace.parse_event_log(_read_event_log(work))
            spans = tracer.spans
            metrics = {
                **_generic_layers(spans, attr, traced, untraced, trace),
                **wl.layers(spans, attr, traced),
                **{k: acc.value / len(traced) for k, acc in tracer.udf_rows.items()},
                **extras,
                "host.control_probe_s": probe_s,
            }
            names = [m["name"] for m in spec["per_layer"]]
        if ok:
            units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
            metrics = {n: {"value": float(metrics.get(n, 0.0)), "unit": units[n]} for n in names}
        for e in run.errors:
            print(f"perfbench: {e}", file=sys.stderr)
        op_medians = workloads.medians([p["ops"] for p in wl.passes]) if wl.passes else {}
        print(json.dumps({"host": facts, "workload": args.workload, "seed": args.seed,
                          "setup_rounds_s": rounds, "session_s": session_s,
                          "answers_s": answers_s,
                          "control_probe_s": probe_s,
                          "passes": len(wl.passes),
                          "op_median_s": op_medians, "errors": run.errors[:5]}))
        print(json.dumps({"correct": ok, "attempted": max(run.attempted, 1),
                          "failed": run.failed, "metrics": metrics}))
        return 0
    finally:
        try:
            if spark is not None:
                session.stop_spark(spark)
        finally:
            session.reap_children()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
