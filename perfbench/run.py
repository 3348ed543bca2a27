"""The repository benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload crawl_steady --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json records why each exists):

- ``crawl_steady``: one wide-frontier round over a replicated corpus, then publish;
- ``crawl_bfs``: a multi-round politeness BFS over one corpus, then publish;
- ``search_serve``: ``POST /search`` against an httpd server, open loop then closed loop.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, from spans around
the calls into each layer plus Spark's job and stage counters. Every
output is checked against an independent oracle; any mismatch counts
as a failure and the command exits non-zero. ``--scale small`` shrinks
every input (for the self-test); ``--inject-mismatch`` corrupts one
oracle value to prove the check bites.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path[0] = str(ROOT)

WORKLOADS = ("crawl_steady", "crawl_bfs", "search_serve")


def process_start() -> float:
    """Epoch time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    age = time.clock_gettime(time.CLOCK_BOOTTIME) - ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - age


class Context:
    def __init__(self, args, tmp: Path, started: float):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.scale = args.scale
        self.inject_mismatch = args.inject_mismatch
        self.tmp = tmp
        self.started = started

    def log(self, msg: str) -> None:
        """Progress on stderr, stamped with seconds since process start."""
        print(f"[{time.time() - self.started:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "small"), default="full")
    p.add_argument("--inject-mismatch", action="store_true")
    p.add_argument("--trace-out", help="with --trace 1, write spans and Spark jobs here (JSON)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    started = process_start()
    args = parse(argv)
    import gocrawl_spark  # noqa: F401  fail fast outside a checkout

    from perfbench import env
    from perfbench.metrics import END_TO_END, PER_LAYER

    tmp = env.prepare(args.workload)
    ctx = Context(args, tmp, started)
    if args.workload == "search_serve":
        from perfbench.serve import SearchWorkload as W
    else:
        from perfbench.crawl import CrawlWorkload as W
    w = W(ctx)
    try:
        w.setup()
        setup_s = time.time() - started
        w.measure()
        attempted, failed, problems = w.check()
        if args.trace:
            values, units = w.per_layer(), PER_LAYER
        else:
            e2e, report = w.end_to_end()
            values, units = {"setup_s": setup_s, **e2e}, END_TO_END
            report["setup_s"] = (setup_s, "s")
            report["peak_rss_mb"] = (w.peak_rss_mb, "MB")
            report["error_frac"] = (failed / attempted, "ratio",
                                    {"attempted": attempted, "failed": failed})
            print(json.dumps({"report": {k: dict(zip(("value", "unit", "note"), v))
                                         for k, v in report.items()}}))
        if args.trace and args.trace_out:
            with open(args.trace_out, "w") as f:
                json.dump(w.trace_dump, f)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            w.teardown()
        finally:
            env.cleanup(tmp)
    for p in problems[:20]:
        print(f"MISMATCH {p}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k] if k in END_TO_END else values.get(k, 0.0)),
                        "unit": u} for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
