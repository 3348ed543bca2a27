"""Metric names and units (they must match BENCHMARK.json), plus the
order statistics the workloads report."""

from __future__ import annotations

import math
import statistics

# timed publishes per run, each into an empty Warehouse; publish_s is
# their median (one ~2 s publish alone varied by a third between runs)
PUBLISHES = 3

# end-to-end metrics, printed by every workload with --trace 0
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p75_ms": "ms",
    "publish_s": "s",
}

# per-layer metrics, printed by every workload with --trace 1; a layer
# the workload does not exercise reads 0
PER_LAYER = {
    "rounds.rounds": "count",
    "rounds.round_s": "s",
    "rounds.round_self_s": "s",
    "rounds.gap_s": "s",
    "rounds.jobs_per_round": "count",
    "rounds.pop_s": "s",
    "rounds.fetch_extract_s": "s",
    "rounds.expand_s": "s",
    "rounds.bloom_s": "s",
    "rounds.writes_s": "s",
    "rounds.stats_s": "s",
    "frontier.popped": "count",
    "frontier.frontier_next": "count",
    "extract.pages_per_s": "1/s",
    "extract.kernel_pages_per_s": "1/s",
    "extract.engine_frac": "ratio",
    "tableformat.commit_s": "s",
    "storage.bytes_per_page": "B",
    "catalog.upsert_articles_s": "s",
    "catalog.upsert_pages_s": "s",
    "catalog.bytes_per_doc": "B",
    "search.backend_ms": "ms",
    "search.jobs_per_query": "count",
    "search.rows_per_query": "count",
    "httpd.overhead_ms": "ms",
    "loadgen.late_p90_ms": "ms",
    "spark.jobs": "count",
    "spark.run_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "spark.busy_frac": "ratio",
    "spark.round.run_s": "s",
    "spark.round.tasks": "count",
    "spark.upsert.run_s": "s",
    "spark.search.run_s": "s",
    "spark.search.tasks": "count",
    "mem.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
    "trace.spans": "count",
}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    s = sorted(xs)
    if not s:
        return 0.0
    return float(s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))])
