"""End-to-end crawl equivalence (SURVEY.md §5 strategy (c)).

A pure-Python reference BFS simulator (deterministic (depth,
discovery_seq) order + per-domain politeness budget — the documented
reference ordering, §7.3.2/3) is run against the same synthetic link
graph; the Spark crawl must produce the identical per-round popped URL
lists and final URL-seen set at any parallelism.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import replace

import pytest

from gocrawl_spark import synth
from gocrawl_spark.canonicalize import absolutize, host_of, is_junk_link, is_valid_url
from gocrawl_spark.rounds import SEQ_STRIDE, CrawlConfig, CrawlRun, last_committed_round

# Spark jobs per round of test_round_job_budget's crawl: 37 or 38 for
# its two rounds (AQE runs each shuffle, broadcast and cache stage as a
# job of its own; two concurrent queries may both submit the batch's
# cache stage)
ROUND_JOBS = 19


def sha(u: str) -> str:
    return hashlib.sha256(u.encode()).hexdigest()


def simulate(seeds, n_docs, cfg: CrawlConfig, max_rounds: int):
    """Driver-free reference implementation of the crawl semantics."""
    url_set = {synth.url_of(i) for i in range(n_docs)}
    frontier = {sha(u): (u, 0, 5, 0, i) for i, u in enumerate(seeds)}  # hash → (url, depth, prio, round, seq)
    seen: dict[str, int] = {}
    popped_per_round = []
    for rnd in range(max_rounds):
        if not frontier:
            break
        by_domain: dict[str, list] = {}
        for h, (u, d, p, r, s) in frontier.items():
            by_domain.setdefault(host_of(u), []).append((-p, d, s, h))
        popped = []
        for dom, rows in by_domain.items():
            rows.sort()
            popped.extend(h for *_, h in rows[: cfg.budget])
        popped_urls = sorted(popped)
        popped_per_round.append(popped_urls)
        new_cand: dict[str, tuple] = {}
        for h in popped:
            u, d, p, r, s = frontier.pop(h)
            seen[h] = rnd
            if u not in url_set:
                continue  # fetch miss
            doc_id = int(u.rsplit("/", 1)[1])
            pos = 0
            for href in synth.out_links(doc_id, n_docs):
                if is_junk_link(href):
                    continue
                absu = absolutize(u, href)
                if not absu or not is_valid_url(absu):
                    continue
                child = (absu, d + 1, 5, rnd + 1, s * SEQ_STRIDE + pos)
                pos += 1
                if d + 1 > cfg.max_depth:
                    continue
                if cfg.allowed_hosts is not None and host_of(absu) not in cfg.allowed_hosts:
                    continue
                ch = sha(absu)
                prev = new_cand.get(ch)
                if prev is None or (child[1], child[4]) < (prev[1], prev[4]):
                    new_cand[ch] = child
        for ch, child in new_cand.items():
            if ch in seen or ch in frontier:
                continue
            frontier[ch] = child
    return popped_per_round, seen


@pytest.fixture(scope="module")
def small_crawl(spark, sf_dir, tmp_path_factory):
    corpus = synth.corpus_from_documents(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    seeds = synth.seed_urls(n, k=8)
    cfg = CrawlConfig(max_depth=2, round_wall_s=10.0, max_rounds=6, use_bloom=True,
                      bloom_shards=8, bloom_bits=1 << 16)
    run_dir = str(tmp_path_factory.mktemp("crawlrun"))
    run = CrawlRun(spark, corpus, seeds, run_dir, cfg)
    history = run.run()
    return run, history, seeds, n, cfg


def test_corpus_deterministic(spark, sf_dir):
    c1 = synth.corpus_from_documents(spark, sf_dir).orderBy("url").limit(3).collect()
    c2 = synth.corpus_from_documents(spark, sf_dir).repartition(7).orderBy("url").limit(3).collect()
    assert [r["url"] for r in c1] == [r["url"] for r in c2]
    assert [bytes(r["html"]) for r in c1] == [bytes(r["html"]) for r in c2]


def test_crawl_matches_reference_simulation(small_crawl, spark):
    run, history, seeds, n, cfg = small_crawl
    sim_popped, sim_seen = simulate(seeds, n, cfg, cfg.max_rounds)
    # per-round popped URL sets (ordering within a round is the
    # politeness pop's deterministic per-domain order; rounds compare
    # as sorted lists since a round is one unordered batch)
    spark_seen = run.seen_final()
    rows = spark_seen.collect()
    got = {r["url_hash"]: r["fetched_round"] for r in rows}
    assert got == sim_seen
    # per-round pop equality
    by_round: dict[int, list[str]] = {}
    for r in rows:
        by_round.setdefault(r["fetched_round"], []).append(r["url_hash"])
    for rnd, urls in enumerate(sim_popped):
        assert sorted(by_round.get(rnd, [])) == urls, f"round {rnd} mismatch"


def test_articles_extracted_and_validated(small_crawl):
    run, history, *_ = small_crawl
    arts = run.articles()
    assert arts.count() > 0
    row = arts.orderBy("source").first()
    assert row["id"] == sha(row["source"])
    assert row["word_count"] >= 50
    assert row["title"].startswith("Synthetic document")
    # pages exist too
    assert run.pages().count() > 0


def test_resume_from_checkpoint(small_crawl, spark, sf_dir):
    run, history, seeds, n, cfg = small_crawl
    assert last_committed_round(run.run_dir) == history[-1]["round"]
    # resuming a finished crawl does nothing new
    run2 = CrawlRun(spark, run.corpus, seeds, run.run_dir, cfg)
    more = run2.run(resume=True)
    assert more == [] or more[-1]["popped"] == 0 or len(more) <= 1


def _stop_resume_cycle(spark, sf_dir, tmp_path, fmt):
    corpus = synth.corpus_from_documents(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    seeds = synth.seed_urls(n, k=6)
    run_dir = str(tmp_path / f"run_{fmt}")
    cfg = CrawlConfig(
        max_depth=2, round_wall_s=30.0, max_rounds=2, table_format=fmt
    )
    run = CrawlRun(spark, corpus, seeds, run_dir, cfg)
    h1 = run.run()
    assert last_committed_round(run_dir) == h1[-1]["round"]

    # crash mid-commit: a snapshot record written but never pointed at
    # (or a round dir with no manifest) must not change the watermark
    if fmt == "snapshot":
        import json as _json
        import os as _os

        v = run.fmt.current_version() + 1
        with open(_os.path.join(run_dir, "metadata", f"v{v}.metadata.json"), "w") as f:
            _json.dump({"snapshot_id": v, "round": 99, "parent": v - 1, "payload": {}}, f)
    else:
        import os as _os

        _os.makedirs(_os.path.join(run_dir, "rounds", "round=0099"), exist_ok=True)
    assert last_committed_round(run_dir) == h1[-1]["round"]

    cfg2 = CrawlConfig(
        max_depth=2, round_wall_s=30.0, max_rounds=4, table_format=fmt
    )
    run2 = CrawlRun(spark, corpus, seeds, run_dir, cfg2)
    h2 = run2.run(resume=True)
    assert h2 and h2[0]["round"] == h1[-1]["round"] + 1
    return run2


@pytest.mark.parametrize("fmt", ["manifest", "snapshot"])
def test_stop_resume_under_table_format(spark, sf_dir, tmp_path, fmt):
    """The commit protocol is a pluggable seam (tableformat; VERDICT
    r4 item 6): the historical MANIFEST-last layout and the
    Iceberg-shaped snapshot log must give IDENTICAL crawl state
    through a stop → resume cycle, and an un-pointered snapshot (a
    crash mid-commit) must be invisible to resume."""
    _stop_resume_cycle(spark, sf_dir, tmp_path, fmt)


def test_table_formats_equivalent_state(spark, sf_dir, tmp_path):
    """Same crawl under both protocols → bit-identical seen set and
    articles (the protocol changes WHERE commit visibility lives, not
    what was crawled)."""
    finals = {}
    for fmt in ("manifest", "snapshot"):
        run = _stop_resume_cycle(spark, sf_dir, tmp_path, fmt)
        finals[fmt] = (
            sorted(
                (r["url_hash"], r["fetched_round"])
                for r in run.seen_final().collect()
            ),
            sorted(r["id"] for r in run.articles().collect()),
        )
    assert finals["manifest"] == finals["snapshot"]


def test_resume_under_other_table_format_raises(spark, sf_dir, tmp_path):
    """A lineage committed under one protocol is invisible to the
    other; resuming it under the other must fail and name the protocol
    it was written with, not silently restart at round 0."""
    corpus = synth.corpus_from_documents(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    seeds = synth.seed_urls(n, k=2)
    run_dir = str(tmp_path / "run")
    cfg = CrawlConfig(max_depth=0, round_wall_s=10.0, max_rounds=1, table_format="manifest")
    CrawlRun(spark, corpus, seeds, run_dir, cfg).run()
    assert last_committed_round(run_dir) == 0
    other = CrawlRun(spark, corpus, seeds, run_dir, replace(cfg, table_format="snapshot"))
    with pytest.raises(ValueError, match="'manifest'"):
        other.run(resume=True)
    assert not os.path.exists(os.path.join(run_dir, "rounds", "round=0001"))


class Crash(Exception):
    pass


@pytest.fixture(scope="module")
def committed_round0(spark, sf_dir, tmp_path_factory):
    """A small depth-1 crawl with round 0 committed once; every
    crash-point case resumes a copy of it."""
    corpus = synth.corpus_from_documents(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    seeds = synth.seed_urls(n, k=4)
    cfg = CrawlConfig(max_depth=1, round_wall_s=10.0, max_rounds=6,
                      bloom_shards=8, bloom_bits=1 << 16, bloom_min_seen=0)
    base = str(tmp_path_factory.mktemp("crash") / "round0")
    CrawlRun(spark, corpus, seeds, base, replace(cfg, max_rounds=1)).run()
    return corpus, seeds, n, cfg, base


@pytest.mark.parametrize(
    "kill_after", ["extracted", "frontier", "seen", "bloom", "host_state", "metrics", "commit"]
)
def test_crash_point_sweep_resumes_to_simulation(
    spark, committed_round0, tmp_path, monkeypatch, kill_after
):
    """Kill round 1 right after each of its writes (Spark-written
    tables, driver-written tables, the commit itself), then resume with
    a fresh CrawlRun: the seen map must equal the reference simulation
    and the metrics table must hold each committed round once."""
    corpus, seeds, n, cfg, base = committed_round0
    run_dir = str(tmp_path / "run")
    shutil.copytree(base, run_dir)

    def crash_after(method, at):  # args[at:at + 2] are (rnd, name)
        def wrapped(self, *args):
            method(self, *args)
            if tuple(args[at:at + 2]) == (1, kill_after):
                raise Crash(kill_after)
        return wrapped

    monkeypatch.setattr(CrawlRun, "_write", crash_after(CrawlRun._write, 1))
    monkeypatch.setattr(CrawlRun, "_write_rows", crash_after(CrawlRun._write_rows, 0))
    run = CrawlRun(spark, corpus, seeds, run_dir, cfg)
    commit = run.fmt.commit

    def crash_after_commit(rnd, payload):
        commit(rnd, payload)
        if (rnd, "commit") == (1, kill_after):
            raise Crash("commit")

    run.fmt.commit = crash_after_commit
    with pytest.raises(Crash):
        run.run(resume=True)
    monkeypatch.undo()

    resumed = CrawlRun(spark, corpus, seeds, run_dir, cfg)
    history = resumed.run(resume=True)
    # a round killed before its commit is redone; a committed one is not
    assert [h["round"] for h in history if h["round"] == 1] == (
        [] if kill_after == "commit" else [1]
    )
    got = {r["url_hash"]: r["fetched_round"] for r in resumed.seen_final().collect()}
    assert got == simulate(seeds, n, cfg, cfg.max_rounds)[1]
    last = last_committed_round(run_dir)
    assert resumed.metrics().filter("metric = 'popped'").count() == last + 1


def test_round_job_budget(spark, sf_dir, tmp_path):
    """A round's bookkeeping stays off the Spark job path: counts come
    from file footers and the per-domain aggregate, small tables are
    written by the driver, reads take the footer schema. Every job of
    a 2-round crawl, the concurrent writes included, runs in the
    caller's job group."""
    corpus = synth.corpus_from_documents(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    cfg = CrawlConfig(max_depth=2, round_wall_s=10.0, max_rounds=2,
                      bloom_shards=8, bloom_bits=1 << 16, bloom_min_seen=0)
    run = CrawlRun(spark, corpus, synth.seed_urls(n, k=8), str(tmp_path / "run"), cfg)
    sc = spark.sparkContext
    sc.setJobGroup("two-rounds", "round job budget")
    try:
        history = run.run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(history) == 2
    jobs = len(sc.statusTracker().getJobIdsForGroup("two-rounds"))
    assert jobs / len(history) <= ROUND_JOBS, jobs


def test_snapshot_log_expire_keeps_resume(spark, sf_dir, tmp_path):
    """Iceberg expire_snapshots analogue: dropping old snapshot
    records keeps the current chain readable — last_committed and a
    further resume still work."""
    from gocrawl_spark import tableformat

    corpus = synth.corpus_from_documents(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    seeds = synth.seed_urls(n, k=6)
    run_dir = str(tmp_path / "run_exp")
    cfg = CrawlConfig(
        max_depth=2, round_wall_s=30.0, max_rounds=3, table_format="snapshot"
    )
    run = CrawlRun(spark, corpus, seeds, run_dir, cfg)
    h = run.run()
    last = h[-1]["round"]
    fmt = tableformat.SnapshotLog(run_dir)
    removed = fmt.expire(keep_last=2)
    assert removed >= 1
    assert fmt.last_committed() == last
    # the expired rounds are gone from history, the recent ones remain
    assert not fmt.is_committed(0)
    assert fmt.is_committed(last)


def test_bloom_deltas_merge_to_full_filter(small_crawl, spark):
    """OR-merging the persisted per-round Bloom deltas must be bitwise
    identical to a one-shot bloom of the full seen set (F7 incremental
    maintenance is lossless)."""
    from gocrawl_spark import frontier as fr

    run, history, seeds, n, cfg = small_crawl
    merged = run._bloom_upto(last_committed_round(run.run_dir))
    assert merged is not None
    full = fr.build_bloom(
        run.seen_final(), n_shards=cfg.bloom_shards, m_bits=cfg.bloom_bits
    )
    assert merged.to_rows() == full.to_rows()


def test_bloom_builds_scan_only_round_delta(spark, sf_dir, tmp_path, monkeypatch):
    """Round N's bloom build must scan only round N's seen delta
    (O(batch)), never the cumulative seen set — the round-1 review
    flagged a full rebuild per round."""
    import gocrawl_spark.rounds as R

    corpus = synth.corpus_from_documents(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    cfg = CrawlConfig(
        max_depth=2, round_wall_s=10.0, max_rounds=3,
        bloom_shards=8, bloom_bits=1 << 16, bloom_min_seen=0,
    )
    counts: list[int] = []
    orig = R.fr.build_bloom_df
    def counting(df, *a, **kw):
        counts.append(df.count())
        return orig(df, *a, **kw)
    monkeypatch.setattr(R.fr, "build_bloom_df", counting)
    run = CrawlRun(spark, corpus, synth.seed_urls(n, k=8), str(tmp_path / "run"), cfg)
    history = run.run(resume=False)
    assert len(history) >= 2
    # one build per round, each over exactly that round's delta
    assert counts == [h["popped"] - h["retried"] for h in history]


def test_metrics_table(small_crawl):
    run, history, *_ = small_crawl
    m = run.metrics()
    assert m.filter("metric = 'popped'").count() == len(history)


def test_whole_corpus_byte_identity(spark, sf_dir):
    """input_hint's per-row invariant, corpus-wide: for EVERY url the
    fused extraction's text equals an independent pure-string
    reconstruction of the template (no DOM / selector engine on the
    expected side)."""
    from pyspark.sql import functions as F

    from gocrawl_spark import udfs

    docs = {r.doc_id: r.text for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet").collect()}
    corpus = synth.corpus_from_documents(spark, sf_dir)
    ex = udfs.extract_pages(corpus).select(
        "url", "content_type",
        F.coalesce(F.col("article.body"), F.col("page.content")).alias("text"),
    )
    got = {r.url: (r.content_type, r.text) for r in ex.collect()}
    assert len(got) == len(docs)
    mismatches = []
    for i, t in docs.items():
        url = synth.url_of(i)
        ctype, text = got[url]
        if ctype == "article":
            exp = synth.expected_article_body(i, t)
        else:
            exp = synth.expected_page_content(i, t)
        if text != exp:
            mismatches.append((url, ctype, exp[:60], (text or "")[:60]))
    assert not mismatches, mismatches[:3]


def test_sharded_bloom_crawl_no_driver_assembly(spark, sf_dir, tmp_path, monkeypatch):
    """bloom_apply='sharded' (the 10^10-URL F7 path): the crawl must
    produce the identical seen set to broadcast mode while NEVER
    assembling the filter in one address space — any driver-side
    BloomFilter construction or merge fails the run."""
    from gocrawl_spark import frontier as fr

    corpus = synth.corpus_from_documents(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    seeds = synth.seed_urls(n, k=8)
    base = dict(max_depth=2, round_wall_s=10.0, max_rounds=4,
                bloom_shards=8, bloom_bits=1 << 16, bloom_min_seen=0)
    run_b = CrawlRun(
        spark, corpus, seeds, str(tmp_path / "bcast"),
        CrawlConfig(**base, bloom_apply="broadcast"),
    )
    run_b.run(resume=False)

    def boom(*a, **kw):
        raise AssertionError("driver-side Bloom assembly in sharded mode")

    monkeypatch.setattr(
        fr.BloomFilter, "from_rows", classmethod(lambda cls, *a, **k: boom())
    )
    monkeypatch.setattr(fr.BloomFilter, "merge", lambda self, other: boom())
    monkeypatch.setattr(fr, "build_bloom", boom)
    run_s = CrawlRun(
        spark, corpus, seeds, str(tmp_path / "shard"),
        CrawlConfig(**base, bloom_apply="sharded"),
    )
    run_s.run(resume=False)
    sb = sorted((r["url_hash"], r["fetched_round"]) for r in run_b.seen_final().collect())
    ss = sorted((r["url_hash"], r["fetched_round"]) for r in run_s.seen_final().collect())
    assert sb == ss and len(ss) > 50


def test_bucketed_seen_store_crawl_equivalent_and_resumes(spark, sf_dir, tmp_path):
    """seen_store="bucketed" must change ONLY the anti-join plan: the
    crawl's seen set is identical to deltas mode, the index holds
    exactly the seen membership, and resume catches a stale index up
    from committed snapshots (the crash-between-append-and-watermark
    window; duplicate re-appends are harmless by membership)."""
    import json

    corpus = synth.corpus_from_documents(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    seeds = synth.seed_urls(n, k=8)
    base = dict(
        max_depth=2,
        round_wall_s=10.0,
        max_rounds=4,
        use_bloom=True,
        bloom_shards=8,
        bloom_bits=1 << 16,
    )
    run_d = CrawlRun(spark, corpus, seeds, str(tmp_path / "d"), CrawlConfig(**base))
    run_d.run(resume=False)
    cfg_b = CrawlConfig(**base, seen_store="bucketed", seen_buckets=8)
    run_b = CrawlRun(spark, corpus, seeds, str(tmp_path / "b"), cfg_b)
    try:
        run_b.run(resume=False)
        want = sorted(
            (r["url"], r["fetched_round"]) for r in run_d.seen_final().collect()
        )
        got = sorted(
            (r["url"], r["fetched_round"]) for r in run_b.seen_final().collect()
        )
        assert got == want and len(got) > 8
        idx = run_b._seen_index
        last = last_committed_round(run_b.run_dir)
        assert idx.watermark() == last
        assert sorted({r["url_hash"] for r in idx.df().collect()}) == sorted(
            r["url_hash"] for r in run_b.seen_final().collect()
        )
        # simulate the crash window: roll the watermark back one round,
        # resume → _sync_seen_index re-appends that round's delta; the
        # index stays membership-equal (dups tolerated, never trusted)
        with open(idx._wm_path) as f:
            wm = json.load(f)
        wm["upto"] = last - 1
        with open(idx._wm_path, "w") as f:
            json.dump(wm, f)
        run_b2 = CrawlRun(spark, corpus, seeds, str(tmp_path / "b"), cfg_b)
        run_b2.run(resume=True)
        idx2 = run_b2._seen_index
        assert idx2.watermark() == last_committed_round(run_b2.run_dir)
        assert sorted({r["url_hash"] for r in idx2.df().collect()}) == sorted(
            r["url_hash"] for r in run_b2.seen_final().collect()
        )
        # missing watermark (first enable on an existing run): rebuild
        idx2.drop()
        run_b3 = CrawlRun(spark, corpus, seeds, str(tmp_path / "b"), cfg_b)
        run_b3.run(resume=True)
        assert sorted({r["url_hash"] for r in run_b3._seen_index.df().collect()}) == sorted(
            r["url_hash"] for r in run_b3.seen_final().collect()
        )
        # P7: compact() folds the index too — membership and watermark
        # survive, and each bucket collapses to one file
        assert run_b3.compact(keep_rounds=1) is not None
        idx3 = run_b3._seen_index
        assert idx3.watermark() == last_committed_round(run_b3.run_dir)
        assert sorted({r["url_hash"] for r in idx3.df().collect()}) == sorted(
            r["url_hash"] for r in run_b3.seen_final().collect()
        )
        from tests.test_storage import _table_parquet_files

        assert len(_table_parquet_files(spark, idx3.table)) == cfg_b.seen_buckets
    finally:
        run_b._seen_index.drop()


def test_round_budget_proportional_allocation(spark, tmp_path):
    """cfg.round_budget + budget_weights: round-0 pops split the
    global budget by weight share, clamped by the politeness budget;
    unlisted hosts default to weight 1."""
    # 30/10/4 seeds on three hosts; no corpus rows needed (pop order
    # and budgets are decided before the fetch join)
    seeds = (
        [f"https://a.com/p{i}" for i in range(30)]
        + [f"https://b.com/p{i}" for i in range(10)]
        + [f"https://c.com/p{i}" for i in range(4)]
    )
    corpus = synth.corpus_from_documents(spark, "/root/testdata/sf0.001")
    weights = spark.createDataFrame(
        [("a.com", 6), ("b.com", 3)], "domain string, weight long"
    )  # c.com unlisted -> weight 1; W = 10
    cfg = CrawlConfig(
        max_depth=0, max_rounds=1, round_wall_s=10.0,  # politeness budget 10
        round_budget=10, budget_floor=1,
    )
    run = CrawlRun(spark, corpus, seeds, str(tmp_path / "rb"), cfg,
                   budget_weights=weights)
    run.run()
    host_of_hash = {sha(u): host_of(u) for u in seeds}
    popped = [host_of_hash[r["url_hash"]] for r in run.seen_final().collect()]
    counts = {h: popped.count(h) for h in set(popped)}
    # quota = min(queued, max(floor, 10 * w DIV 10)) then politeness 10
    assert counts == {"a.com": 6, "b.com": 3, "c.com": 1}
    # without the knob the same crawl pops everything (budget 10/host)
    run2 = CrawlRun(spark, corpus, seeds, str(tmp_path / "rb2"), cfg)
    run2.run()
    assert run2.seen_final().count() == 10 + 10 + 4


def test_opic_online_importance(spark, tmp_path):
    """cfg.opic: seed cash flows to the hub every seed links to; under
    a 1-pop budget the cash-rich hub is fetched before the
    lower-discovery-seq leaf that would win the default order. Cash
    accounting is exact integer micro-units."""
    from datetime import datetime

    ts = datetime(2023, 1, 1)
    rows = []
    for i in range(6):
        # leaf first => leaf gets the earlier discovery_seq
        html = (f'<html><body><a href="https://b.com/leaf{i}">l</a>'
                f'<a href="https://b.com/hub">h</a></body></html>')
        rows.append((f"https://a.com/s{i}", ts, html.encode(), "seed", "en"))
    for u in ["hub"] + [f"leaf{i}" for i in range(6)]:
        rows.append((f"https://b.com/{u}", ts, b"<html><body>x</body></html>",
                     "child", "en"))
    corpus = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    policy = spark.createDataFrame(
        [("b.com", 10000, 1)], "domain string, delay_ms long, parallelism int"
    )  # budget 1/round on b.com; a.com keeps the default 10
    seeds = [f"https://a.com/s{i}" for i in range(6)]

    def crawl(opic: bool, d: str):
        cfg = CrawlConfig(max_depth=1, max_rounds=2, round_wall_s=10.0,
                          opic=opic)
        run = CrawlRun(spark, corpus, seeds, str(tmp_path / d), cfg,
                       host_policy=policy)
        run.run()
        return run

    run = crawl(True, "opic")
    r1 = [r["url"] for r in run.seen_final()
          .filter("fetched_round = 1").collect()]
    assert r1 == ["https://b.com/hub"]
    # exact cash after round 0: hub 6*(1e6 DIV 2), each leaf 1e6 DIV 2,
    # popped seeds reset to zero-sum (grant - reset)
    cash = {r["url_hash"]: r["cash_u"]
            for r in run._opic_cash_upto(0).collect()}
    assert cash[sha("https://b.com/hub")] == 3_000_000
    assert cash[sha("https://b.com/leaf0")] == 500_000
    assert cash[sha("https://a.com/s0")] == 0

    # default order (opic off) pops the earliest-seq leaf instead
    base = crawl(False, "base")
    r1b = [r["url"] for r in base.seen_final()
           .filter("fetched_round = 1").collect()]
    assert r1b == ["https://b.com/leaf0"]


def test_opic_state_survives_resume_and_compact(spark, tmp_path):
    from datetime import datetime

    ts = datetime(2023, 1, 1)
    rows = [("https://a.com/s0", ts,
             b'<html><body><a href="https://b.com/h">h</a></body></html>',
             "seed", "en"),
            ("https://b.com/h", ts, b"<html><body>x</body></html>",
             "child", "en")]
    corpus = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    cfg = CrawlConfig(max_depth=1, max_rounds=1, round_wall_s=10.0, opic=True)
    d = str(tmp_path / "r")
    run = CrawlRun(spark, corpus, ["https://a.com/s0"], d, cfg)
    run.run()
    before = sorted(map(tuple, run.opic_cash().collect()))
    assert (sha("https://b.com/h"), 1_000_000) in before  # whole grant flowed

    # resume continues the cash lineage (round 1 pops h, resets it)
    cfg2 = CrawlConfig(max_depth=1, max_rounds=2, round_wall_s=10.0, opic=True)
    run2 = CrawlRun(spark, corpus, ["https://a.com/s0"], d, cfg2)
    run2.run(resume=True)
    after = {h: c for h, c in map(tuple, run2.opic_cash().collect())}
    assert after[sha("https://b.com/h")] == 0  # popped, no out-links: leaked

    # compacting folds the deltas without changing the cumulative view
    assert run2.compact(keep_rounds=0) is not None
    folded = {h: c for h, c in map(tuple, run2.opic_cash().collect())}
    assert folded == after


def test_opic_retried_pop_keeps_cash(spark, tmp_path):
    """A transiently-failed pop distributed nothing — its cash must
    survive for the retry round (popped-minus-retry, like seen)."""
    from datetime import datetime

    ts = datetime(2023, 1, 1)
    corpus = spark.createDataFrame(
        [("https://a.com/s0", ts, b"<html><body>x</body></html>",
          "seed", "en", 2)],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, fail_attempts int",
    )
    cfg = CrawlConfig(max_depth=1, max_rounds=1, round_wall_s=10.0,
                      opic=True, max_retries=3)
    run = CrawlRun(spark, corpus, ["https://a.com/s0"], str(tmp_path / "r"),
                   cfg)
    run.run()
    cash = {r["url_hash"]: r["cash_u"]
            for r in run._opic_cash_upto(0).collect()}
    # attempt 0 < fail_attempts=2 -> transient -> retried -> cash kept
    assert cash[sha("https://a.com/s0")] == 1_000_000


def test_cuckoo_seen_filter_crawl_equivalent_and_resumes(spark, sf_dir, tmp_path):
    """seen_filter='cuckoo' must change ONLY the F7 prefilter family:
    identical seen set and popped rounds to the bloom run, per-round
    cuckoo deltas accumulate under the snapshots, resume continues on
    the delta union, and compaction folds the deltas to one row per
    shard while the crawl state stays intact."""
    corpus = synth.corpus_from_documents(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    seeds = synth.seed_urls(n, k=8)
    base = dict(max_depth=2, round_wall_s=10.0, max_rounds=4,
                bloom_shards=8, bloom_min_seen=0)
    run_b = CrawlRun(
        spark, corpus, seeds, str(tmp_path / "bloom"),
        CrawlConfig(**base, bloom_bits=1 << 16),
    )
    run_b.run(resume=False)

    cfg_c = CrawlConfig(**base, seen_filter="cuckoo", cuckoo_buckets=1 << 10)
    run_c = CrawlRun(spark, corpus, seeds, str(tmp_path / "cuckoo"), cfg_c)
    run_c.run(resume=False)
    sb = sorted((r["url_hash"], r["fetched_round"]) for r in run_b.seen_final().collect())
    sc = sorted((r["url_hash"], r["fetched_round"]) for r in run_c.seen_final().collect())
    assert sb == sc and len(sc) > 50

    # per-round cuckoo deltas exist (and no bloom dirs were written)
    import os
    last = last_committed_round(str(tmp_path / "cuckoo"))
    for r in range(last + 1):
        rd = os.path.join(str(tmp_path / "cuckoo"), "rounds", f"round={r:04d}")
        assert os.path.isdir(os.path.join(rd, "cuckoo"))
        assert not os.path.isdir(os.path.join(rd, "bloom"))

    # resume continues the run on the cuckoo delta union
    cfg_c2 = CrawlConfig(**{**base, "max_rounds": 6}, seen_filter="cuckoo",
                         cuckoo_buckets=1 << 10)
    run_c2 = CrawlRun(spark, corpus, seeds, str(tmp_path / "cuckoo"), cfg_c2)
    run_c2.run(resume=True)
    cfg_b2 = CrawlConfig(**{**base, "max_rounds": 6}, bloom_bits=1 << 16)
    run_b2 = CrawlRun(spark, corpus, seeds, str(tmp_path / "bloom"), cfg_b2)
    run_b2.run(resume=True)
    sb2 = sorted(r["url_hash"] for r in run_b2.seen_final().collect())
    sc2 = sorted(r["url_hash"] for r in run_c2.seen_final().collect())
    assert sb2 == sc2 and len(sc2) >= len(sc)

    # compaction folds cuckoo deltas (≤ one row per shard) and the
    # crawl state is unchanged
    run_c2.compact(keep_rounds=1)
    folded = spark.read.parquet(
        os.path.join(str(tmp_path / "cuckoo"), "compact", "cuckoo")
    )
    assert folded.count() <= 8
    assert folded.groupBy("shard").count().filter("count > 1").count() == 0
    sc3 = sorted(r["url_hash"] for r in run_c2.seen_final().collect())
    assert sc3 == sc2


def test_meta_robots_gates_publish_and_discovery(spark, sf_dir, tmp_path):
    """respect_meta_robots=True: noindex pages stay crawled but gate
    out of articles() with skip_reason='noindex'; page-level nofollow
    discovers no links (seen shrinks to a subset); flag OFF on the
    same corpus is unaffected by the injected tags."""
    from pyspark.sql import functions as F

    corpus = synth.corpus_from_documents(spark, sf_dir)
    did = F.regexp_extract("url", r"(\d+)$", 1).cast("long")
    meta = (
        F.when(did % 5 == 1,
               F.lit('<head><meta name="robots" content="noindex">'))
        .when(did % 5 == 2,
              F.lit('<head><meta name="robots" content="nofollow">'))
        .otherwise(F.lit("<head>"))
    )
    inj = corpus.select(
        "url", "warc_ts",
        F.encode(F.regexp_replace(F.decode("html", "utf-8"), "<head>", meta),
                 "utf-8").alias("html"),
        "text", "lang",
    )
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    seeds = synth.seed_urls(n, k=8)
    # run BOTH crawls to frontier exhaustion (depth-2 closure): only
    # then is seen_on a true subset — at a fixed round cutoff the
    # budgeted pop ordering differs and seen sets aren't comparable
    base = dict(max_depth=2, round_wall_s=10.0, max_rounds=10, bloom_min_seen=0)

    run_off = CrawlRun(spark, inj, seeds, str(tmp_path / "off"), CrawlConfig(**base))
    run_off.run(resume=False)
    run_on = CrawlRun(
        spark, inj, seeds, str(tmp_path / "on"),
        CrawlConfig(**base, respect_meta_robots=True),
    )
    run_on.run(resume=False)

    s_off = {r["url_hash"] for r in run_off.seen_final().collect()}
    s_on = {r["url_hash"] for r in run_on.seen_final().collect()}
    assert s_on <= s_off and len(s_on) > 20

    ex_on = run_on.extracted().withColumn(
        "_id", F.regexp_extract("url", r"(\d+)$", 1).cast("long"))
    noidx = ex_on.filter((F.col("_id") % 5 == 1)
                         & (F.col("content_type") == "article"))
    assert noidx.count() > 0
    assert noidx.filter(F.col("skip_reason") != "noindex").count() == 0
    assert noidx.filter(F.col("article_valid")).count() == 0
    # nofollow pages never contribute links
    nofol = ex_on.filter(F.col("_id") % 5 == 2)
    assert nofol.count() > 0
    assert nofol.filter(F.size("links") > 0).count() == 0

    # the same noindex urls publish fine with the flag OFF
    ex_off = run_off.extracted().withColumn(
        "_id", F.regexp_extract("url", r"(\d+)$", 1).cast("long"))
    pub_off = ex_off.filter(
        (F.col("_id") % 5 == 1) & (F.col("content_type") == "article")
        & F.col("article_valid"))
    assert pub_off.count() > 0
    # and articles() drops exactly the noindex gate's rows on the ON run
    art_on = {r["source"] for r in run_on.articles().select("source").collect()}
    assert not any(
        r["url"] in art_on for r in noidx.select("url").collect())
