"""Server launcher for the search_serve workload (run as a process).

Builds the index the way a user would: a full crawl of the seeded
corpus (every URL queued, max_depth=0) through ``CrawlRun.run``, then
``CrawlRun.publish`` into empty ``catalog.Warehouse``s. It writes the
published documents out for the benchmark's oracle and then hands over
to the ``python -m gocrawl_spark httpd --warehouse`` entry point, which
serves until SIGINT.

With ``--trace 1`` it first wraps ``SearchBackend.search`` in a span
(SIGUSR1 switches recording off, so a run can time a traced and an
untraced stretch), and at exit writes the spans and the Spark jobs of
its session to ``--trace-out``.

    python3 -u perfbench/server.py --work DIR --seed N --scale full --trace 0
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

sys.path[0] = str(Path(__file__).resolve().parents[1])

from perfbench import env, inputs, spans  # noqa: E402
from perfbench.metrics import PUBLISHES, median  # noqa: E402

def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--work", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--scale", choices=tuple(inputs.N_DOCS), default="full")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--trace-out")
    args = p.parse_args()
    work = Path(args.work)
    t_start = time.time()

    def log(msg: str) -> None:
        print(f"[server {time.time() - t_start:7.2f}s] {msg}", file=sys.stderr, flush=True)

    from gocrawl_spark import httpd
    from gocrawl_spark.__main__ import main as cli
    from gocrawl_spark.catalog import Warehouse
    from gocrawl_spark.rounds import CrawlConfig, CrawlRun

    # the JVM starts while this thread generates the documents
    pool = ThreadPoolExecutor(1)
    session = pool.submit(env.spark_session, work, bool(args.trace), "perfbench-search-serve")
    try:
        docs = inputs.documents(args.seed, inputs.N_DOCS[args.scale])
        inputs.write_documents(docs, str(work / "sf"))
    finally:
        spark = session.result()
        pool.shutdown()
    log("spark session up")
    try:
        corpus = inputs.build_corpus(spark, str(work / "sf"), str(work / "corpus"),
                                     seed=args.seed)
        cfg = CrawlConfig(max_depth=0, round_wall_s=3600.0, use_bloom=False)
        run = CrawlRun(spark, corpus, corpus.select("url"), str(work / "run"), cfg)
        t0 = time.time()
        run.run()
        t1 = time.time()
        # a warm-up publish (it pays the publish plan's one-off
        # compilation), then PUBLISHES timed ones, each into an empty
        # Warehouse; the first of those is served
        run.publish(Warehouse(spark, str(work / "warehouse-warmup")))
        times = []
        for k in range(PUBLISHES):
            t = time.time()
            run.publish(Warehouse(spark, str(work / f"warehouse-{k}")))
            times.append(time.time() - t)
        publish_s = median(times)
        wh_dir = str(work / "warehouse-0")
        wh = Warehouse(spark, wh_dir)
        published = {
            name: [(r[0], r[1], r[2]) for r in wh.table(name).select("id", url, text).collect()]
            for name, url, text in (("articles", "source", "body"), ("pages", "url", "content"))
        }
        with open(work / "published.json", "w") as f:
            json.dump(published, f)
        log(f"index built: crawl {t1 - t0:.2f}s, publish {publish_s:.2f}s")
        print("PERFBENCH " + json.dumps({"crawl_s": t1 - t0, "publish_s": publish_s,
                                         "warehouse_bytes": env.dir_bytes(wh_dir)}), flush=True)

        tracer = spans.Tracer()
        if args.trace:
            tracer.wrap(httpd.SearchBackend, "search", "search.backend",
                        lambda _self, index, query, size: f"{index}:{query}")

            def toggle(_sig, _frame):
                tracer.enabled = not tracer.enabled

            signal.signal(signal.SIGUSR1, toggle)
        # serves until SIGINT; prints "listening on http://HOST:PORT ..."
        cli(["--cpus", str(env.cores()), "httpd", "--warehouse", wh_dir, "--port", "0"])
        if args.trace:
            jobs = spans.job_table(spans.spark_counters(spark.sparkContext))
            with open(args.trace_out, "w") as f:
                json.dump({"spans": tracer.spans, "jobs": jobs}, f)
    finally:
        env.stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
