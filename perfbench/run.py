"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl|api|curation --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Builds its inputs from ``--seed``, sets
up (session start, fixture load through the program's own `Lake` writes,
warm-up), measures for ``--seconds``, checks every output, and prints one
JSON result object as the last stdout line: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import importlib
import sys
import time

from harness import Outcome, emit, peak_rss_mb, prepare_checkout, start_spark, stop_spark
from tracing import (
    Tracer,
    find_event_log,
    fold_event_log,
    per_layer_metrics,
    span_stats,
    top_level_seconds,
)

# spans per workload, named after the module and function they wrap
SPANS = {
    "crawl": [
        "service.select_crawl_batch",
        "plans.select_batch.claim_batch",
        "plans.fetch.check_batch",
        "plans.change_detection.with_change_detection",
        "sinks.lake.append_app_table",
        "sinks.lake.rewrite_app_table",
        "cli.analyse_csv",
        "sources.inference.inspect_tabular",
        "sinks.lake.write_table",
        "sinks.lake.register",
        "sinks.lake.registry",
        "sinks.lake.read_app_table",
    ],
    "api": [
        *(
            f"service.{route}"
            for route in (
                "latest_check",
                "all_checks",
                "resource_status",
                "checks_aggregate",
                "crawler_status",
                "worker_status",
                "stats",
                "upsert_resource",
                "delete_resource",
            )
        ),
        "sinks.lake.read_app_table",
        "sinks.lake.rewrite_app_table",
    ],
    "curation": [
        "sources.warc.read_warc",
        "llm.gopher.gopher_quality",
        "llm.dedup.exact_dedup",
        "llm.dedup.lsh",
        "llm.retrieval.bm25_topk",
        "llm.contamination.decontaminate",
        "llm.retrieval.hard_negatives",
        "llm.mixing.stratified_mix",
        "sinks.lake.write_training_shards",
    ],
}
ALL_SPANS = list(dict.fromkeys(s for spans in SPANS.values() for s in spans))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SPANS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = prepare_checkout()
    wl = importlib.import_module(args.workload)
    traced = bool(args.trace)

    t0 = time.perf_counter()
    spark = start_spark(work, event_log=traced)
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark if traced else None)
    outcome = Outcome()
    try:
        t = time.perf_counter()
        state = wl.setup(spark, work / args.workload, args.seed)
        fixture_s = time.perf_counter() - t
        for owner, attr, name in wl.wrap_targets(state):
            tracer.wrap(owner, attr, name)
        t = time.perf_counter()
        wl.warm_up(state, tracer, outcome)
        warm_s = time.perf_counter() - t
        tracer.recording = True
        res = wl.measure(state, args.seconds, tracer, outcome)
        tracer.recording = False
        rss = peak_rss_mb(spark)
    finally:
        tracer.unwrap_all()
        stop_spark(spark)

    end_to_end = {
        "setup_s": (session_s + fixture_s + warm_s, "s"),
        "peak_rss_mb": (rss, "MB"),
        "op_p50_ms": (res["op_p50_ms"], "ms"),
        "items_per_s": (res["items_per_s"], "1/s"),
        "stage_p50_ms": (res["stage_p50_ms"], "ms"),
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "session_s": session_s,
        "fixture_s": fixture_s,
        "warm_up_s": warm_s,
        **res["detail"],
    }
    metrics = end_to_end
    if traced:
        # the traced run's own end-to-end figures, for the tracing overhead
        detail["end_to_end"] = {k: v for k, (v, _) in end_to_end.items()}
        jobs = fold_event_log(find_event_log(work / "eventlog"))
        stats, totals = span_stats(tracer.spans, jobs)
        coverage = top_level_seconds(tracer.spans) / max(res["timed_s"], 1e-9)
        metrics = per_layer_metrics(
            ALL_SPANS, stats, totals, res["n_ops"], coverage, res.get("late_ms", 0.0)
        )
        detail["span_calls"] = {
            n: sum(1 for s in tracer.spans if s.name == n) for n in SPANS[args.workload]
        }
        detail["coverage"] = coverage
    emit(outcome, metrics, detail)
    return 0


if __name__ == "__main__":
    sys.exit(main())
