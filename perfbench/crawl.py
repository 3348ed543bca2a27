"""The crawl workloads, driven through ``CrawlRun.run`` and
``CrawlRun.publish`` into an empty ``catalog.Warehouse``.

crawl_steady: the steady-state round. The sf0.1-sized corpus is
replicated under distinct host prefixes (``r<k>.``) and every URL is
queued, with max_depth=0 and a politeness budget that never binds, so
one round pops, fetches and extracts everything.

crawl_bfs: a multi-round politeness BFS over one corpus from seeded
seed URLs (max_depth=3, the default 2 s delay x parallelism 2, and a
240 s round wall, so the 240-URL per-host budget binds on site00, the
host with a quarter of the URLs). The Bloom seen filter is applied from
the first round (bloom_min_seen=0), sized to the crawl. Round 0, the
cold first round, runs during set-up; the timed call is
``CrawlRun.run(resume=True)``, which continues the crawl from the
committed round 0 to the end.

Each crawl is published PUBLISHES times, each into an empty Warehouse;
set-up publishes once first, so the timed publishes run warm.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from perfbench import env, inputs, oracles, spans
from perfbench.metrics import PUBLISHES, median, percentile


@dataclass(frozen=True)
class Shape:
    n_docs: int
    replicas: int = 1  # crawl_steady
    bfs_seeds: int = 32  # crawl_bfs
    max_depth: int = 3
    round_wall_s: float = 240.0
    bfs_urls: int = 2200  # crawl_bfs: seed sets are drawn until the crawl reaches ~this many
    parts: int = 8  # corpus files


SHAPES = {
    ("crawl_steady", "full"): Shape(inputs.N_DOCS["full"], replicas=2, parts=16),
    ("crawl_steady", "small"): Shape(inputs.N_DOCS["small"]),
    ("crawl_bfs", "full"): Shape(inputs.N_DOCS["full"]),
    ("crawl_bfs", "small"): Shape(inputs.N_DOCS["small"], bfs_seeds=4, max_depth=2,
                                  round_wall_s=20.0, bfs_urls=0),
}


def commit_times(run_dir: str) -> list[float]:
    """mtimes of the round commit markers, in round order."""
    base = os.path.join(run_dir, "rounds")
    marks = sorted(
        os.path.join(base, d, "MANIFEST.json")
        for d in os.listdir(base)
        if os.path.exists(os.path.join(base, d, "MANIFEST.json"))
    ) if os.path.isdir(base) else []
    return [os.path.getmtime(m) for m in marks]


def round_walls(t0: float, run_dir: str, n_rounds: int, crawl_s: float) -> list[float]:
    """Round wall times as the intervals between successive round
    commits (the first from the crawl call). Without commit markers,
    every round gets the mean."""
    marks = [m for m in commit_times(run_dir) if m >= t0]
    if len(marks) != n_rounds:
        return [crawl_s / max(n_rounds, 1)] * n_rounds
    edges = [t0] + marks
    return [b - a for a, b in zip(edges, edges[1:])]


class CrawlWorkload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.name = ctx.workload
        self.shape = SHAPES[(self.name, ctx.scale)]
        self.tracer = spans.Tracer()
        self.iters: list[dict] = []

    # ------------------------------------------------------------ setup
    def setup(self) -> None:
        from gocrawl_spark.rounds import CrawlConfig, CrawlRun

        ctx, sh = self.ctx, self.shape
        # the JVM starts while this thread generates the inputs
        pool = ThreadPoolExecutor(1)
        session = pool.submit(env.spark_session, ctx.tmp, ctx.trace, f"perfbench-{self.name}")
        try:
            self.docs = inputs.documents(ctx.seed, sh.n_docs)
            self.texts = dict(zip(self.docs["doc_id"], self.docs["text"]))
            inputs.write_documents(self.docs, str(ctx.tmp / "sf"))
            if self.name == "crawl_steady":
                hosts = [f"r{k}." for k in inputs.replica_order(ctx.seed, sh.replicas)]
                self.expected_urls = set(inputs.corpus_urls(sh.n_docs, hosts))
                self.cfg = CrawlConfig(max_depth=0, round_wall_s=3600.0, use_bloom=False)
            else:
                hosts = [""]
                # the Bloom filter is applied from round 0 and sized to the
                # crawl (8 shards x 64 Kbit), not to the 10^10-URL default
                self.cfg = CrawlConfig(
                    max_depth=sh.max_depth, round_wall_s=sh.round_wall_s, bloom_min_seen=0,
                    bloom_shards=8, bloom_bits=1 << 16,
                )
                self._draw_seeds()
            ctx.log("inputs generated")
        finally:
            self.spark = session.result()
            pool.shutdown()
        ctx.log("spark session up")
        self.corpus = inputs.build_corpus(self.spark, str(ctx.tmp / "sf"), str(ctx.tmp / "corpus"),
                                          hosts, sh.parts, ctx.seed)
        if self.name == "crawl_steady":
            # every corpus URL queued; the frontier seeds from a DataFrame.
            # Warm-up: a crawl + publish of 1,000 of the URLs
            self.seeds = self.corpus.select("url")
            warm = self.spark.createDataFrame(
                [(u,) for u in sorted(self.expected_urls)[:1000]], "url string")
            self._crawl("warmup", str(ctx.tmp / "run-warmup"), warm)
        else:
            # the cold first round, and a publish of it
            self.ready = self._prepare(0)
            self._publish(CrawlRun(self.spark, self.corpus, self.seeds, self.ready, self.cfg),
                          "warmup")
        ctx.log("warm-up done")

    def _draw_seeds(self) -> None:
        """crawl_bfs: the seed picks the seed URLs. With ``bfs_urls`` set,
        seed sets are redrawn until the simulated crawl is within 1% of
        that size, so every seed does the same amount of work."""
        from gocrawl_spark import synth

        sh, cfg = self.shape, self.cfg
        tol = sh.bfs_urls // 100
        for attempt in range(200 if sh.bfs_urls else 1):
            ids = inputs.bfs_seed_ids(self.ctx.seed, sh.n_docs, sh.bfs_seeds, attempt)
            self.seeds = [synth.url_of(i) for i in ids]
            self.sim_seen = oracles.simulate_bfs(
                self.seeds, sh.n_docs, cfg.budget, cfg.max_depth, cfg.max_rounds)
            if not sh.bfs_urls or abs(len(self.sim_seen) - sh.bfs_urls) <= tol:
                return
        raise RuntimeError(f"no seed set of seed {self.ctx.seed} gives a crawl of "
                           f"{sh.bfs_urls} +/- {tol} URLs (last: {len(self.sim_seen)})")

    def _prepare(self, i: int) -> str:
        """crawl_bfs: commit round 0 of iteration i's crawl (untimed)."""
        from dataclasses import replace

        from gocrawl_spark.rounds import CrawlRun

        run_dir = str(self.ctx.tmp / f"run-it{i}")
        CrawlRun(self.spark, self.corpus, self.seeds, run_dir,
                 replace(self.cfg, max_rounds=1)).run()
        return run_dir

    def _publish(self, run, tag: str) -> tuple[str, float]:
        from gocrawl_spark.catalog import Warehouse

        wh_dir = str(self.ctx.tmp / f"wh-{tag}")
        t0 = time.time()
        with self.tracer.span("crawl.publish", tag):
            run.publish(Warehouse(self.spark, wh_dir))
        return wh_dir, time.time() - t0

    def _crawl(self, tag: str, run_dir: str, seeds=None) -> dict:
        """One timed crawl (resuming whatever run_dir already committed)
        and its timed publishes."""
        from gocrawl_spark.rounds import CrawlRun

        seeds = self.seeds if seeds is None else seeds
        run = CrawlRun(self.spark, self.corpus, seeds, run_dir, self.cfg)
        t0 = time.time()
        with self.tracer.span("crawl.run", tag):
            history = run.run(resume=True)
        t1 = time.time()
        published = [self._publish(run, f"{tag}-p{k}") for k in range(PUBLISHES)]
        return {"tag": tag, "run": run, "run_dir": run_dir,
                "wh_dirs": [wh for wh, _ in published],
                "history": history, "t0": t0, "t1": t1, "t2": time.time(),
                "crawl_s": t1 - t0, "publish_s": median([s for _, s in published]),
                "traced": self.tracer.enabled,
                "rounds": round_walls(t0, run_dir, len(history), t1 - t0)}

    # ---------------------------------------------------------- measure
    def measure(self) -> None:
        ctx = self.ctx
        undo = []
        if ctx.trace:
            from gocrawl_spark import tableformat
            from gocrawl_spark.catalog import Warehouse
            from gocrawl_spark.rounds import CrawlRun

            t = self.tracer
            undo = [
                t.wrap(CrawlRun, "run_round", "rounds.round", lambda _self, rnd, *a, **k: rnd),
                t.wrap(Warehouse, "upsert", "catalog.upsert", lambda _self, name, *a, **k: name),
            ] + [
                t.wrap(p, "commit", "tableformat.commit", lambda _self, rnd, *a, **k: rnd)
                for p in tableformat.PROTOCOLS.values()
            ]
        # a traced run alternates traced and untraced crawls (>= one of
        # each) so the difference between them is the tracing overhead
        min_iters = 2 if ctx.trace else 1
        start = time.time()
        with env.RssSampler(os.getpid()) as rss:
            i = 0
            while i < min_iters or time.time() - start < ctx.seconds:
                if self.name == "crawl_steady":
                    run_dir = str(ctx.tmp / f"run-it{i}")
                else:
                    run_dir = self.ready if i == 0 else self._prepare(i)
                self.tracer.enabled = not ctx.trace or i % 2 == 0
                self.iters.append(self._crawl(f"it{i}", run_dir))
                it = self.iters[-1]
                ctx.log(f"crawl {i}: {it['crawl_s']:.2f}s + publish {it['publish_s']:.2f}s, "
                        f"rounds {[h['timings'] for h in it['history']]}")
                i += 1
        self.tracer.enabled = True
        self.peak_rss_mb = rss.peak_mb
        for u in undo:
            u()
        if ctx.trace:
            self.counters = spans.spark_counters(self.spark.sparkContext)

    # ------------------------------------------------------------ check
    def check(self) -> tuple[int, int, list[str]]:
        from pyspark.sql import functions as F

        from gocrawl_spark.catalog import Warehouse

        texts = dict(self.texts)
        attempted, bad = 0, []
        for it in self.iters:
            run = it["run"]
            rows = run.extracted().select(
                "url", "content_type", F.col("article.body"), F.col("page.content")
            ).collect()
            if self.ctx.inject_mismatch and texts == self.texts:
                texts[oracles.doc_id_of(rows[0][0])] += " injected"
            attempted += len(rows)
            it["pages"] = len(rows)
            bad += oracles.check_extracted(rows, texts)
            if self.name == "crawl_steady":
                bad += oracles.check_fetched_once([r[0] for r in rows], self.expected_urls)
            else:
                got = {r["url_hash"]: r["fetched_round"] for r in run.seen_final().collect()}
                attempted += len(self.sim_seen)
                bad += oracles.check_seen(got, self.sim_seen)
            # publish: each warehouse holds exactly the crawl's valid docs
            it["docs"] = 0
            for name, view in (("articles", run.articles()), ("pages", run.pages())):
                want = sorted(r["id"] for r in view.select("id").collect())
                for wh_dir in it["wh_dirs"]:
                    wh = Warehouse(self.spark, wh_dir)
                    got_ids = sorted(r["id"] for r in wh.table(name).select("id").collect())
                    attempted += 1
                    if got_ids != want:
                        bad.append(f"published {name} in {wh_dir} differ from the crawl's "
                                   f"({len(got_ids)} vs {len(want)})")
                it["docs"] += len(want)
            it["run_bytes"] = env.dir_bytes(it["run_dir"])
            it["wh_bytes"] = env.dir_bytes(it["wh_dirs"][0])
        return attempted, len(bad), bad

    # ---------------------------------------------------------- metrics
    def end_to_end(self) -> tuple[dict, dict]:
        its = [it for it in self.iters if not it["traced"] or not self.ctx.trace]
        rounds = [r for it in its for r in it["rounds"]]
        fetched = [sum(h["fetched"] for h in it["history"]) for it in its]
        rate = median([f / it["crawl_s"] for f, it in zip(fetched, its)])
        p75 = percentile(rounds, 0.75)
        e2e = {
            "throughput_per_s": rate,
            "latency_p50_ms": 1e3 * median(rounds),
            "latency_p75_ms": 1e3 * p75,
            "publish_s": median([it["publish_s"] for it in its]),
        }
        report = {
            "crawl_urls_per_s": (rate, "urls/s"),
            "round_p50_s": (median(rounds), "s", {"samples": len(rounds)}),
            "round_p75_s": (p75, "s", {"samples": len(rounds)}),
            "publish_s": (e2e["publish_s"], "s", {"samples": PUBLISHES * len(its)}),
            "urls_per_crawl": (median(fetched), "count", {"crawls": len(its)}),
        }
        return e2e, report

    def per_layer(self) -> dict:
        t = self.tracer
        traced = [it for it in self.iters if it["traced"]]
        plain = [it for it in self.iters if not it["traced"]]
        jobs = spans.job_table(self.counters)
        by_span = spans.attribute(jobs, t.spans)
        keys = {it["tag"] for it in traced}
        crawl_spans = [s for s in t.named("crawl.run") if s["key"] in keys]
        round_spans = [s for s in t.named("rounds.round")
                       if any(c["start"] <= s["start"] < c["end"] for c in crawl_spans)]
        commit_spans = [s for s in t.named("tableformat.commit")
                        if any(c["start"] <= s["start"] < c["end"] for c in crawl_spans)]
        upserts = [s for s in t.named("catalog.upsert")
                   if any(it["t1"] <= s["start"] < it["t2"] for it in traced)]
        per_crawl = max(len(traced), 1)
        round_jobs = [j for s in round_spans for j in by_span.get(s["id"], [])]

        def stage_sum(it, k):
            return sum(h["timings"].get(k, 0.0) for h in it["history"])

        fetched = [sum(h["fetched"] for h in it["history"]) for it in traced]
        fe = median([stage_sum(it, "fetch_extract") for it in traced])
        pages_per_s = median(fetched) / fe if fe else 0.0
        kernel = kernel_pages_per_s(self.docs, self.shape.n_docs)
        window_jobs = [j for it in traced for j in spans.in_window(jobs, it["t0"], it["t2"])]
        tot = spans.spark_totals(window_jobs)
        wall = sum(it["t2"] - it["t0"] for it in traced)
        gaps = [
            (it["t1"] - it["t0"]) - spans.covered(
                [(j["start"], j["end"]) for j in jobs], it["t0"], it["t1"])
            for it in traced
        ]
        out = {
            "rounds.rounds": median([len(it["history"]) for it in traced]),
            "rounds.round_s": median([s["end"] - s["start"] for s in round_spans]),
            "rounds.round_self_s": median([t.self_time(s) for s in round_spans]),
            "rounds.gap_s": median(gaps),
            "rounds.jobs_per_round": len(round_jobs) / max(len(round_spans), 1),
            "frontier.popped": median([sum(h["popped"] for h in it["history"]) for it in traced]),
            "frontier.frontier_next": median(
                [sum(h["frontier_next"] for h in it["history"]) for it in traced]),
            "extract.pages_per_s": pages_per_s,
            "extract.kernel_pages_per_s": kernel,
            "extract.engine_frac": pages_per_s / (kernel * env.cores()) if kernel else 0.0,
            "tableformat.commit_s": median([s["end"] - s["start"] for s in commit_spans]),
            "storage.bytes_per_page": median(
                [it["run_bytes"] / max(it["pages"], 1) for it in traced]),
            "catalog.upsert_articles_s": median(
                [s["end"] - s["start"] for s in upserts if s["key"] == "articles"]),
            "catalog.upsert_pages_s": median(
                [s["end"] - s["start"] for s in upserts if s["key"] == "pages"]),
            "catalog.bytes_per_doc": median(
                [it["wh_bytes"] / max(it["docs"], 1) for it in traced]),
            "spark.busy_frac": tot["run_s"] / (wall * env.cores()) if wall else 0.0,
            "spark.round.run_s": sum(j["run_s"] for j in round_jobs) / max(len(round_spans), 1),
            "spark.round.tasks": sum(j["tasks"] for j in round_jobs) / max(len(round_spans), 1),
            "spark.upsert.run_s": sum(
                j["run_s"] for s in upserts for j in by_span.get(s["id"], [])) / (
                    per_crawl * PUBLISHES),
            "mem.peak_rss_mb": self.peak_rss_mb,
            "trace.overhead_frac": (
                median([it["crawl_s"] for it in traced]) / median([it["crawl_s"] for it in plain]) - 1.0
                if plain else 0.0),
            "trace.spans": len([s for s in t.spans if any(
                it["t0"] <= s["start"] < it["t2"] for it in traced)]) / per_crawl,
        }
        for stage in ("pop", "fetch_extract", "expand", "bloom", "writes", "stats"):
            out[f"rounds.{stage}_s"] = median([stage_sum(it, stage) for it in traced])
        for k, v in tot.items():
            out[f"spark.{k}"] = v / per_crawl
        self.trace_dump = {"spans": t.spans, "jobs": jobs, "iterations": [
            {k: v for k, v in it.items() if k != "run"} for it in self.iters]}
        return out

    def teardown(self) -> None:
        if hasattr(self, "spark"):
            env.stop_spark(self.spark)


def kernel_pages_per_s(docs, n_docs: int, pages: int = 1500) -> float:
    """The extraction kernel alone: udfs.make_extract_fn over pandas
    batches of the corpus pages, in this process, no Spark."""
    import pandas as pd

    from gocrawl_spark import synth, udfs
    from gocrawl_spark.extract import ArticleSelectors, PageSelectors

    sub = docs.head(pages)
    pdf = pd.DataFrame({
        "url": [synth.url_of(int(i)) for i in sub["doc_id"]],
        "html": [synth.build_html(int(i), t, la, n_docs).encode("utf-8")
                 for i, t, la in zip(sub["doc_id"], sub["text"], sub["lang"])],
    })
    fn = udfs.make_extract_fn(ArticleSelectors.default(), PageSelectors.default())
    batches = [pdf.iloc[i:i + 512] for i in range(0, len(pdf), 512)]
    for _ in fn(iter(batches[:1])):  # warm imports and caches
        pass
    t0 = time.perf_counter()
    n = sum(len(out) for out in fn(iter(batches)))
    return n / (time.perf_counter() - t0)
