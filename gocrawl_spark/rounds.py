"""Batch-iterative crawl driver: rounds over snapshotted state.

One round = one Catalyst job chain (SURVEY.md §3.1 "Spark lifecycle
equivalent"):

    frontier ─pop (politeness top-k)─► batch ─join corpus─► fetched
      ─extract (fused UDF)─► articles/pages deltas + links
      ─resolve/hash/filters─► candidates ─bloom+anti-join seen─► new rows
    frontier' = rest ∪ new rows ; seen' = seen ∪ batch ; metrics

State (frontier, seen, article/page deltas, metrics) is persisted per
round under ``run_dir/rounds/round=NNNN/`` with a MANIFEST.json commit
marker written last — the parquet-directory analogue of an Iceberg
snapshot commit; in production each table is an Iceberg table and the
manifest is the snapshot. A crash between writes leaves no manifest, so
:func:`resume_round` restarts from the last *committed* round — the
north rule's "resumable from any checkpoint".

Materializing each round to storage also truncates the logical plan:
without it, round N's plan would contain N nested joins/windows and
Catalyst analysis time would blow up long before the data does.

Determinism: child discovery_seq = parent_seq * 1024 + link_position
(fanout < 1024 by construction) — a pure function of the graph, so the
crawl order is identical at local[8], local[32], or 1000 executors
(§7.3.3; required by the N-vs-4N scaling comparison).
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.util import inheritable_thread_target

from gocrawl_spark import frontier as fr
from gocrawl_spark import tableformat, udfs
from gocrawl_spark.schema import FRONTIER, ROUND_METRICS

SEQ_STRIDE = 1024  # > max links/page; keeps child seq a pure function

# the metrics table as a Spark write of a local list records it: every
# field nullable
METRICS = StructType([StructField(f.name, f.dataType) for f in ROUND_METRICS.fields])


@dataclass
class CrawlConfig:
    """Reference defaults: max_depth 3 (constants.go:73), source
    rate_limit 2s / parallelism 2 (constants.go:70-76). Politeness is
    per-domain (north rule) rather than colly's single glob-* bucket."""

    max_depth: int = 3
    delay_ms: int = 2000
    parallelism: int = 2
    round_wall_s: float = 60.0
    max_rounds: int = 32
    allowed_hosts: list[str] | None = None
    rules: list[dict] | None = field(default=None)
    bloom_shards: int = 64
    bloom_bits: int = 1 << 20
    n_salts: int = 8
    use_bloom: bool = True
    # below this many seen URLs the exact anti-join is cheaper than a
    # bloom build+broadcast; at 10^10 frontier scale the filter pays
    bloom_min_seen: int = 50_000
    # F7 application strategy: "broadcast" ships the whole assembled
    # filter to the driver + every executor (fine while it's MBs);
    # "sharded" keeps the filter a distributed (shard, bits) table and
    # cogroups candidates against ONLY their shard's bits — peak filter
    # bytes per task = one shard, the 10^10-URL path (12 MB/shard vs
    # 12.5 GB whole-filter at 10 bits/key). "auto" picks sharded once
    # the configured filter exceeds bloom_broadcast_max_bytes.
    bloom_apply: str = "auto"
    bloom_broadcast_max_bytes: int = 64 << 20
    # F7 filter family: "bloom" (OR-foldable bitsets, no deletion) or
    # "cuckoo" (fingerprint table + stash — same sharded layout and
    # O(1-shard) probes, plus DELETION via fr.cuckoo_delete_df: purge a
    # blocklisted host from the seen filter without a rebuild). Cuckoo
    # always applies sharded (there is no broadcast driver object);
    # bloom_shards routes both families.
    seen_filter: str = "bloom"
    cuckoo_buckets: int = 1 << 16
    # F7/J3 exact-backstop storage: "deltas" anti-joins the union of
    # per-round snapshot deltas (both join sides shuffle — fine while
    # seen is small); "bucketed" ALSO maintains a hash-bucketed catalog
    # index of the seen set (storage.BucketedSeenStore) so the
    # anti-join reads seen pre-partitioned and shuffles only the small
    # maybe-seen side — the 10^10-seen path (O(batch), not
    # O(total-seen), data movement per round)
    seen_store: str = "deltas"
    seen_buckets: int = 64
    # round-commit protocol (tableformat): "manifest" = MANIFEST.json
    # written last (historical layout); "snapshot" = the Iceberg-shaped
    # append-only metadata log with an atomic version-hint pointer
    # swap. Same crash/resume semantics; docs/ICEBERG.md maps both
    # onto a real Iceberg catalog.
    table_format: str = "manifest"
    # S3: the reference's respect_robots_txt flag is ON in config but
    # the collectors pass colly.IgnoreRobotsTxt() (crawler.go:201), so
    # runtime behavior is OFF — we default to match (SURVEY.md §7.3.7)
    respect_robots: bool = False
    # page-level robots (OPT-IN, beyond-reference): honor
    # <meta name="robots"> and rel="nofollow" inside the extraction
    # kernel — noindex articles gate as article_valid=False with
    # skip_reason="noindex" (crawled, never published), nofollow pages
    # and rel="nofollow" anchors discover no links. Audit twin:
    # robots.meta_directives.
    respect_meta_robots: bool = False
    # S3→P1 bridge (OPT-IN; the reference, like colly, ignores the
    # directive): derive per-host delay_ms from robots.txt Crawl-delay
    # and merge into host_policy — explicit source policy still wins
    robots_crawl_delay: bool = False
    # adaptive politeness (http mode, OPT-IN): a domain that returned
    # 429 in round r fetches at DOUBLE its effective delay (half the
    # pop budget) in round r+1 — rounds are the backoff clock, so the
    # penalty persists exactly while the host keeps throttling
    adaptive_backoff: bool = False
    # crawl-trap hygiene (OPT-IN; the reference has no trap logic so
    # the parity path keeps it off): drop candidate URLs that trip
    # canonicalize.is_trap_expr (deep/repeating paths, query-param
    # explosions, session tokens) before the seen filter ever sees them
    drop_traps: bool = False
    # incremental re-crawl extraction (OPT-IN): stamp every extracted
    # row with the corpus warc_ts as page_ts and, when a prior
    # generation's extracted table is supplied
    # (CrawlRun(prior_extracted=...) / schedule --reuse-unchanged),
    # skip the kernel for pages whose version is unchanged — see
    # CrawlRun._extract. The parity path keeps the reference schema.
    reuse_unchanged: bool = False
    user_agent: str = "gocrawl"
    # F9 retry-with-backoff (link_handler.go:60-107): transient fetch
    # failures re-enqueue with attempt+1 until max_retries; the retry
    # delay is the round boundary (rounds are the clock). Transient
    # failures exist only when the corpus carries a fail_attempts
    # column (fault injection — synth.with_transient_faults); a URL
    # missing from the corpus is a 404, non-retryable, like the
    # reference's expected-error classes (crawler.go:300-317)
    max_retries: int = 3
    # S2 fetch mode: "corpus" joins the snapshot corpus table (the
    # driver/bench contract); "http" performs real HTTP GETs per popped
    # URL (fetch.fetch_http) — same downstream extraction, retry
    # classes from the response status (5xx/network/429 transient,
    # other 4xx permanent). http_proxy_base rewrites host/path onto a
    # loopback or forward-proxy base URL.
    fetch_mode: str = "corpus"
    http_timeout_s: float = 10.0
    http_proxy_base: str | None = None
    # bench-only arithmetic-intensity calibration (BENCH/BASELINE.md):
    # re-runs the extraction kernel per page to sweep compute-per-byte
    extract_repeat: int = 1
    # live-robots cache TTL (http mode, OPT-IN; RFC 9309 §2.4 allows
    # caching up to 24h): a host's cached robots.txt older than this
    # many rounds is re-fetched and the fresh rules supersede
    # (latest-wins per host) — rounds are the clock, as everywhere.
    # None = cache forever (the pre-TTL behavior).
    robots_ttl_rounds: int | None = None
    # OPIC online importance (Abiteboul/Preda/Cobena 2003, OPT-IN):
    # every seed starts with one unit of "cash"; a popped page
    # distributes its accumulated cash equally over its resolved
    # out-links and resets to zero, and frontier priority is bucketed
    # by accumulated cash — importance feedback DURING the crawl, no
    # between-generations rank pass needed. Cash is integer
    # micro-units (LONG; contributions by integer DIV — dust truncates)
    # persisted as per-round SUMMABLE deltas (grant/contribution/reset
    # rows), so state IO is O(batch-adjacent) per round, cumulative
    # cash is one groupBy-sum of deltas, and the whole scheme is
    # bit-deterministic at any parallelism
    opic: bool = False
    # proportional-fair global round budget (frontier.allocate_budgets,
    # OPT-IN): when set AND CrawlRun(budget_weights=...) is supplied,
    # each host's round budget becomes
    # min(politeness_budget, max(budget_floor, weight share of
    # round_budget)) — the crawl-wide fetch-rate governor on top of
    # the per-host token bucket
    round_budget: int | None = None
    budget_floor: int = 1

    @property
    def budget(self) -> int:
        return fr.host_budget(self.round_wall_s, self.delay_ms, self.parallelism)

    def validate(self) -> None:
        """V10 job validation (reference JobValidator,
        internal/content/job.go:59-71 / internal/job/service.go:96-101):
        reject a crawl job with a nonsensical config before any Spark
        work is dispatched."""
        problems = []
        if self.max_depth < 0:
            problems.append(f"max_depth must be >= 0, got {self.max_depth}")
        if self.max_rounds < 1:
            problems.append(f"max_rounds must be >= 1, got {self.max_rounds}")
        if self.round_wall_s <= 0:
            problems.append(f"round_wall_s must be > 0, got {self.round_wall_s}")
        if self.parallelism < 1:
            problems.append(f"parallelism must be >= 1, got {self.parallelism}")
        if self.max_retries < 0:
            problems.append(f"max_retries must be >= 0, got {self.max_retries}")
        if self.bloom_shards < 1 or self.bloom_bits < 8:
            problems.append("bloom_shards must be >= 1 and bloom_bits >= 8")
        if self.n_salts < 1:
            problems.append(f"n_salts must be >= 1, got {self.n_salts}")
        if self.fetch_mode not in ("corpus", "http"):
            problems.append(f"fetch_mode must be 'corpus' or 'http', got {self.fetch_mode!r}")
        if self.bloom_apply not in ("auto", "broadcast", "sharded"):
            problems.append(
                f"bloom_apply must be auto|broadcast|sharded, got {self.bloom_apply!r}"
            )
        if self.seen_filter not in ("bloom", "cuckoo"):
            problems.append(
                f"seen_filter must be bloom|cuckoo, got {self.seen_filter!r}"
            )
        if self.table_format not in tableformat.PROTOCOLS:
            problems.append(
                f"table_format must be one of {sorted(tableformat.PROTOCOLS)},"
                f" got {self.table_format!r}"
            )
        if self.cuckoo_buckets < 2 or self.cuckoo_buckets & (self.cuckoo_buckets - 1):
            problems.append(
                f"cuckoo_buckets must be a power of two >= 2, got {self.cuckoo_buckets}"
            )
        if self.seen_store not in ("deltas", "bucketed"):
            problems.append(
                f"seen_store must be deltas|bucketed, got {self.seen_store!r}"
            )
        if self.seen_buckets < 1:
            problems.append(f"seen_buckets must be >= 1, got {self.seen_buckets}")
        if problems:
            raise ValueError("invalid crawl job config: " + "; ".join(problems))


def _round_dir(run_dir: str, rnd: int) -> str:
    return os.path.join(run_dir, "rounds", f"round={rnd:04d}")


def _manifest_path(run_dir: str, rnd: int) -> str:
    return os.path.join(_round_dir(run_dir, rnd), "MANIFEST.json")


def last_committed_round(run_dir: str) -> int | None:
    """Last committed round under whichever commit protocol the run
    used (tableformat.ManifestLast / SnapshotLog)."""
    return tableformat.detect_last_committed(run_dir)


def init_frontier_df(urls: DataFrame) -> DataFrame:
    """Frontier from a DataFrame of seed URLs — fully distributed, the
    10^10-frontier path where the seed list never touches the driver.
    All seeds get discovery_seq 0; the politeness pop's total order
    tiebreaks on url_hash, so the crawl stays deterministic at any
    parallelism (just not list-order-preserving like init_frontier)."""
    df = urls.select("url").distinct().select(
        "url",
        F.lit(0).alias("depth"),
        F.lit(5).alias("priority"),
        F.lit(0).alias("discovered_round"),
        F.lit(0).cast("long").alias("discovery_seq"),
        F.lit(0).alias("attempt"),
    )
    return udfs.with_url_identity(df).select([f.name for f in FRONTIER.fields])


def init_frontier(spark: SparkSession, seeds: list[str]) -> DataFrame:
    deduped: dict[str, int] = {}
    for i, u in enumerate(seeds):
        deduped.setdefault(u, i)  # keep first occurrence's seq
    rows = [(u, 0, 5, 0, i, 0) for u, i in deduped.items()]
    df = spark.createDataFrame(
        rows, "url string, depth int, priority int, discovered_round int, discovery_seq long, attempt int"
    )
    return udfs.with_url_identity(df).select([f.name for f in FRONTIER.fields])


def expand_candidates(
    extracted: DataFrame, batch: DataFrame, cfg: CrawlConfig, rnd: int
) -> DataFrame:
    """links[] → next-round frontier rows (F1–F6, F8), deduped within
    the round by earliest deterministic discovery_seq."""
    # only parents below the depth bound can admit children — joining
    # FIRST prunes the last BFS tier (typically the largest) before the
    # link-resolution UDF ever runs on it (F6 pushed ahead of F2-F4)
    parents = batch.filter(F.col("depth") < cfg.max_depth).select(
        "url", F.col("depth").alias("p_depth"), F.col("discovery_seq").alias("p_seq")
    )
    cand = (
        extracted.select("url", "links")
        .join(parents, "url")  # co-partitioned small batch join
        .select("url", udfs.resolve_links_udf("url", "links").alias("resolved"), "p_depth", "p_seq")
        .select(
            F.col("p_depth"),
            F.col("p_seq"),
            F.posexplode("resolved").alias("pos", "child_url"),
        )
        .select(
            F.col("child_url").alias("url"),
            (F.col("p_depth") + 1).alias("depth"),
            F.lit(5).alias("priority"),
            F.lit(rnd + 1).alias("discovered_round"),
            (F.col("p_seq") * SEQ_STRIDE + F.col("pos")).alias("discovery_seq"),
            F.lit(0).alias("attempt"),
        )
        .filter(F.col("depth") <= cfg.max_depth)  # F6
    )
    cand = udfs.with_url_identity(cand)
    if cfg.allowed_hosts is not None:  # F5
        cand = cand.filter(F.col("host").isin(cfg.allowed_hosts))
    cand = fr.apply_rules(cand, cfg.rules)  # F8
    if cfg.drop_traps:  # opt-in URL hygiene, ahead of the seen filter
        from gocrawl_spark import canonicalize as _canon

        cand = cand.filter(~_canon.is_trap_expr(F.col("url")))
    # within-round dedup: keep the earliest discovery per url_hash
    w = Window.partitionBy("url_hash").orderBy("depth", "discovery_seq")
    cand = cand.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    return cand.select([f.name for f in FRONTIER.fields])


class CrawlRun:
    """Driver loop (P5/P6): iterate rounds, snapshot, resume."""

    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        seeds: "list[str] | DataFrame",
        run_dir: str,
        cfg: CrawlConfig | None = None,
        robots: DataFrame | None = None,
        host_policy: DataFrame | None = None,
        sources: list | None = None,
        rank_priority: DataFrame | None = None,
        prior_extracted: "DataFrame | None" = None,
        budget_weights: DataFrame | None = None,
        validators: DataFrame | None = None,
    ):
        self.spark = spark
        self.corpus = corpus
        self.seeds = seeds
        self.run_dir = run_dir
        self.cfg = cfg or CrawlConfig()
        self.cfg.validate()  # V10: reject invalid jobs up front
        # round-commit protocol: the only seam between the sandbox's
        # parquet-dir layout and a production Iceberg catalog
        self.fmt = tableformat.make_protocol(self.cfg.table_format, run_dir)
        # live robots discovery (http mode, no static table): state
        # lives in per-round parquet deltas under run_dir/robots/ —
        # fully distributed, never a driver-side host set (an open-web
        # crawl discovers millions of hosts)
        self._live_robots = (
            robots is None
            and self.cfg.respect_robots
            and self.cfg.fetch_mode == "http"
        )
        if self._live_robots:
            robots = self._robots_table()
        if isinstance(seeds, list):
            from gocrawl_spark import canonicalize as _canon

            bad = [u for u in seeds if not _canon.is_valid_url(u)]
            if bad:
                raise ValueError(f"invalid seed URLs in job: {bad[:5]}")
        # robots(host, rules): one row per host, broadcast at the gate
        self.robots = robots
        # host_policy(domain, delay_ms, parallelism): per-host overrides
        # of the politeness contract (colly LimitRule analogue, P1)
        self.host_policy = host_policy
        # optional (url_hash, priority) overrides — typically the
        # previous generation's link-graph rank (graphrank.
        # rank_from_extracted ∘ rank_priorities). OPT-IN: the default
        # keeps the reference's static priority-5 ordering (parity
        # contract); with it, hub URLs spend the politeness budget
        # first. Applied to seeds and every round's candidates.
        self.rank_priority = rank_priority
        # incremental re-crawl extraction (OPT-IN, the HTTP-304
        # analogue for corpus mode): a PRIOR generation's extracted
        # table (schema of run.extracted() + page_ts). A popped URL
        # whose corpus warc_ts equals its prior page_ts skips the
        # extraction kernel and carries the prior row forward — on a
        # re-crawl where most of the web is unchanged, kernel cost
        # drops to O(changed), not O(fetched). Requires the corpus to
        # carry warc_ts; rows extracted under this flag gain a page_ts
        # column so the NEXT generation can reuse them in turn.
        self.prior_extracted = prior_extracted
        # optional (url, etag) validator cache from a prior generation
        # (run.validators()) — http fetch mode sends If-None-Match per
        # popped URL and a 304 carries the prior extraction forward
        # (the live-web twin of reuse_unchanged). Requires
        # prior_extracted: a 304 has no body to extract, so validators
        # are only sent for URLs whose prior row can be carried.
        self.validator_cache = validators
        # optional (domain, weight:long) table driving proportional-
        # fair round budgets (frontier.allocate_budgets) — OPT-IN via
        # cfg.round_budget: the global budget is split by weight share
        # (host rank, historical yield, …), then clamped by the
        # politeness budget, so a high-weight host still never exceeds
        # its token-bucket rate. Hosts absent from the table weigh 1.
        self.budget_weights = budget_weights
        # F7 exact-backstop index (seen_store="bucketed"): the
        # anti-join's seen side reads pre-bucketed, never shuffles
        self._seen_index = None
        if self.cfg.seen_store == "bucketed":
            from gocrawl_spark.storage import BucketedSeenStore

            self._seen_index = BucketedSeenStore(
                spark, run_dir, buckets=self.cfg.seen_buckets
            )
        # source configs (S4): per-source selectors drive extraction
        # (J1), per-source rate limits the politeness budget, and
        # source rules the F8 predicate
        self.sel_map = None
        if sources:
            from gocrawl_spark import sources as src

            self.sel_map = src.selector_map(sources)
            if self.host_policy is None:
                self.host_policy = src.host_policy_df(spark, sources)
            if self.cfg.rules is None:
                self.cfg.rules = src.combined_rules(sources) or None
        # robots Crawl-delay → politeness budget (opt-in): explicit
        # per-source policy keeps precedence, robots fills the gaps
        self._explicit_policy = self.host_policy
        if self.cfg.robots_crawl_delay and self.robots is not None:
            self._merge_robots_policy()

    def _merge_robots_policy(self) -> None:
        from gocrawl_spark import robots as rb

        pol = rb.crawl_delay_policy(
            self.robots, ua=self.cfg.user_agent, parallelism=self.cfg.parallelism
        )
        base = self._explicit_policy
        if base is None:
            self.host_policy = pol
        else:
            self.host_policy = base.unionByName(
                pol.join(base.select("domain"), "domain", "left_anti")
            )

    def _apply_rank_priority(self, df: DataFrame) -> DataFrame:
        """Overlay the (url_hash, priority) rank overrides (P3 adjunct,
        graphrank.rank_priorities) onto frontier rows. Plain equi-join
        on url_hash — the override table holds only boosted URLs (the
        base tier is dropped at the source), so AQE broadcasts it when
        small; at open-web scale both sides hash-partition on the key
        the frontier already carries. Reorders the politeness pop only:
        the seen/bloom/expansion semantics never read priority."""
        if self.rank_priority is None:
            return df
        cols = df.columns
        ov = self.rank_priority.select(
            "url_hash", F.col("priority").alias("_rank_pri")
        )
        return (
            df.join(ov, "url_hash", "left")
            .withColumn("priority", F.coalesce("_rank_pri", F.col("priority")))
            .select(cols)
        )

    def _gate_robots(self, df: DataFrame, rnd: int = 0) -> DataFrame:
        if not self.cfg.respect_robots:
            return df
        if self._live_robots:
            # http mode with no static table: discover per-host robots
            # for any hosts this gate hasn't seen yet (every round),
            # plus TTL-expired hosts when robots_ttl_rounds is set
            self._discover_robots(df, rnd)
        if self.robots is None:
            return df  # no table, no live endpoint: nothing to gate on
        from gocrawl_spark import robots as rb

        return rb.gate(df, self.robots, ua=self.cfg.user_agent)

    def _robots_dir(self) -> str:
        return os.path.join(self.run_dir, "robots")

    def _robots_table(self, with_round: bool = False) -> "DataFrame | None":
        """Latest robots row per host across the persisted deltas, or
        None before any host has been discovered. Survives restarts
        like every other piece of crawl state. Pre-TTL runs wrote
        deltas with disjoint hosts and no fetched_round column
        (mergeSchema surfaces nulls → treated as round -1); with
        robots_ttl_rounds a host may appear in several deltas and the
        freshest row wins."""
        base = self._robots_dir()
        if not os.path.isdir(base):
            return None
        deltas = sorted(
            os.path.join(base, d) for d in os.listdir(base) if d.startswith("delta=")
        )
        if not deltas:
            return None
        t = self.spark.read.option("mergeSchema", "true").parquet(*deltas)
        if "fetched_round" not in t.columns:
            t = t.withColumn("fetched_round", F.lit(-1))
        t = t.withColumn(
            "fetched_round", F.coalesce("fetched_round", F.lit(-1))
        )
        w = Window.partitionBy("host").orderBy(F.desc("fetched_round"))
        t = (
            t.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        return t if with_round else t.drop("fetched_round")

    def _discover_robots(self, candidates: DataFrame, rnd: int = 0) -> None:
        """Live S3: fetch robots.txt once per newly-seen host (the
        reference fetches robots per collector domain). Fully
        distributed — new hosts come from a left_anti join against the
        persisted robots table and each round's fetches land as a
        parquet delta; no host list or rules text ever accumulates on
        the driver (at open-web scale that's millions of hosts). With
        cfg.robots_ttl_rounds, hosts whose cached rules are older than
        the TTL re-fetch too and the fresh delta supersedes
        (latest-wins in _robots_table) — RFC 9309 §2.4 cache expiry
        with rounds as the clock."""
        from gocrawl_spark import fetch as fh

        hosts = candidates.select("host").distinct()
        known = self._robots_table(with_round=True)
        if known is not None:
            fresh = known
            if self.cfg.robots_ttl_rounds is not None:
                fresh = known.filter(
                    F.col("fetched_round") > rnd - self.cfg.robots_ttl_rounds
                )
            hosts = hosts.join(fresh.select("host"), "host", "left_anti")
            known = known.drop("fetched_round")
        if hosts.limit(1).count() == 0:
            self.robots = known
            return  # no new hosts → merged policy already current
        fetched = fh.fetch_robots(
            hosts,
            user_agent=self.cfg.user_agent,
            timeout_s=self.cfg.http_timeout_s,
            proxy_base=self.cfg.http_proxy_base,
        ).persist()  # one network pass feeds both the write and the gate
        base = self._robots_dir()
        idx = (
            len([d for d in os.listdir(base) if d.startswith("delta=")])
            if os.path.isdir(base)
            else 0
        )
        # persist only hosts whose robots state is KNOWN (200 or 4xx —
        # ok=True): an unreachable host (5xx/network, ok=False) gets
        # the synthesized disallow-all for THIS round only and, being
        # absent from the table, is re-fetched by the left_anti next
        # round — RFC 9309 unreachable ≠ permanently unrestricted
        fetched.filter(F.col("ok")).drop("ok").withColumn(
            "fetched_round", F.lit(rnd)
        ).write.mode("overwrite").parquet(os.path.join(base, f"delta={idx:04d}"))
        unreachable = fetched.filter(~F.col("ok")).drop("ok")
        table = self._robots_table()
        if table is not None:
            # a TTL re-fetch that failed keeps the CACHED rules (RFC
            # 9309 §2.4 allows the cached copy on unreachability) —
            # without this anti-join the synthesized disallow-all row
            # would duplicate the host in the gate table
            unreachable = unreachable.join(
                table.select("host"), "host", "left_anti"
            )
        self.robots = (
            table.unionByName(unreachable) if table is not None else unreachable
        )
        if self.cfg.robots_crawl_delay:
            self._merge_robots_policy()  # newly discovered Crawl-delays

    _EXTRACTED_COLS = [
        "url", "content_type", "links", "article_valid", "skip_reason",
        "article", "page", "crawl_round",
    ]

    def _extract(self, fetched: DataFrame, can_expand: bool, rnd: int) -> DataFrame:
        """The round's extraction stage. Parity path: one fused-UDF pass
        over every fetched page. With cfg.reuse_unchanged (and a corpus
        that carries warc_ts), extracted rows gain a ``page_ts`` version
        stamp, and when a prior generation's extracted table was passed
        (CrawlRun(prior_extracted=...)) any popped URL whose corpus
        warc_ts still equals its prior page_ts SKIPS the kernel — its
        prior row carries forward (the HTTP-304 / If-Modified-Since
        analogue). On a steady-web re-crawl the kernel then costs
        O(changed pages), not O(fetched); the version check is one
        batch-sized equi-join on url."""
        cfg = self.cfg
        base = lambda df: udfs.extract_pages(  # noqa: E731
            df, sel_map=self.sel_map, want_links=can_expand,
            repeat=cfg.extract_repeat, meta_robots=cfg.respect_meta_robots,
        )
        if not cfg.reuse_unchanged or "warc_ts" not in fetched.columns:
            return base(fetched).withColumn("crawl_round", F.lit(rnd))
        cols = self._EXTRACTED_COLS + ["page_ts"]
        carried = None
        miss = fetched
        if self.prior_extracted is not None:
            # latest prior verdict per url (a generation holds many rounds)
            w = Window.partitionBy("url").orderBy(F.desc("crawl_round"))
            p = (
                self.prior_extracted.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "crawl_round")
            )
            if can_expand:
                # a tier that admits children needs links; prior rows
                # extracted at a depth bound (links null) must re-extract
                p = p.filter(F.col("links").isNotNull())
            hits = fetched.select("url", "warc_ts").join(p, "url").filter(
                F.col("warc_ts") == F.col("page_ts")
            )
            links = F.col("links") if can_expand else F.lit(None).cast("array<string>")
            carried = hits.select(
                "url", "content_type", links.alias("links"), "article_valid",
                "skip_reason", "article", "page",
                F.lit(rnd).alias("crawl_round"), "page_ts",
            )
            miss = fetched.join(hits.select("url"), "url", "left_anti")
        fresh = (
            base(miss)
            .join(miss.select("url", F.col("warc_ts").alias("page_ts")), "url")
            .withColumn("crawl_round", F.lit(rnd))
            .select(cols)
        )
        return fresh if carried is None else carried.select(cols).unionByName(fresh)

    def _backoff_domains(self, rnd: int) -> "DataFrame | None":
        """Domains 429-throttled in the PREVIOUS round (adaptive
        politeness state — a per-round snapshot table like everything
        else, so backoff survives resume)."""
        if not self.cfg.adaptive_backoff or rnd <= 0:
            return None
        p = os.path.join(_round_dir(self.run_dir, rnd - 1), "throttled")
        if not os.path.isdir(p):
            return None
        return self._parquet(p)

    def _budgeted(self, frontier_df: DataFrame, rnd: int = 0) -> DataFrame:
        """Attach the per-host round budget (P1/P2): global config unless
        a host_policy row overrides delay/parallelism for that domain;
        with adaptive_backoff, last round's 429-throttled domains run
        at double delay."""
        cfg = self.cfg
        backoff = self._backoff_domains(rnd)
        if self.host_policy is None and backoff is None:
            return self._apply_round_budget(
                frontier_df.withColumn("budget", F.lit(cfg.budget))
            )
        joined = frontier_df
        drop = []
        if self.host_policy is not None:
            pol = self.host_policy.select(
                F.col("domain").alias("_pol_domain"),
                F.col("delay_ms").alias("_pol_delay"),
                F.col("parallelism").alias("_pol_par"),
            )
            joined = joined.join(
                F.broadcast(pol), joined["domain"] == pol["_pol_domain"], "left"
            )
            delay = F.coalesce(F.col("_pol_delay"), F.lit(cfg.delay_ms))
            par = F.greatest(
                F.coalesce(F.col("_pol_par"), F.lit(cfg.parallelism)), F.lit(1)
            )
            drop += ["_pol_domain", "_pol_delay", "_pol_par"]
        else:
            delay = F.lit(cfg.delay_ms)
            par = F.lit(max(cfg.parallelism, 1))
        if backoff is not None:
            th = backoff.select("domain").distinct().withColumn("_throttled", F.lit(True))
            joined = joined.join(F.broadcast(th), "domain", "left")
            delay = F.when(F.col("_throttled"), delay * 2).otherwise(delay)
            drop.append("_throttled")
        wall_ms = F.lit(cfg.round_wall_s * 1000.0)
        # delay <= 0 means unthrottled (frontier.host_budget semantics):
        # wall_ms/delay would be NULL/negative and greatest(...,1) would
        # silently clamp a rate_limit-0 source to 1 fetch/round
        budget = F.greatest(
            F.when(delay <= 0, F.floor(wall_ms) * par).otherwise(
                F.floor(wall_ms / delay) * par
            ),
            F.lit(1),
        )
        return self._apply_round_budget(
            joined.withColumn("budget", budget.cast("int")).drop(*drop)
        )

    def _apply_round_budget(self, budgeted: DataFrame) -> DataFrame:
        """Clamp per-host politeness budgets by the proportional-fair
        share of cfg.round_budget (frontier.allocate_budgets) when a
        weights table was supplied — the crawl-wide governor layered
        on the per-host token bucket. One groupBy on domain (the same
        key the pop shuffles on) + two broadcast joins; no-op unless
        both knobs are set."""
        cfg = self.cfg
        if self.budget_weights is None or not cfg.round_budget:
            return budgeted
        stats = (
            budgeted.groupBy("domain")
            .agg(F.count("*").alias("queued"))
            .join(
                F.broadcast(
                    self.budget_weights.select("domain", "weight")
                ),
                "domain",
                "left",
            )
            .select(
                F.col("domain").alias("host"),
                "queued",
                F.coalesce(F.col("weight"), F.lit(1)).cast("long").alias("weight"),
            )
        )
        quotas = fr.allocate_budgets(
            stats,
            round_budget=cfg.round_budget,
            politeness_cap=2**31 - 1,  # the politeness clamp is below
            floor=cfg.budget_floor,
        ).select(F.col("host").alias("domain"), "quota")
        return (
            budgeted.join(F.broadcast(quotas), "domain", "left")
            .withColumn(
                "budget",
                F.least(
                    F.col("budget").cast("long"),
                    F.coalesce(F.col("quota"), F.col("budget").cast("long")),
                ).cast("int"),
            )
            .drop("quota")
        )

    # ---------------------------------------------------------------- io
    def _path(self, rnd: int, name: str) -> str:
        return os.path.join(_round_dir(self.run_dir, rnd), name)

    def _write(self, df: DataFrame, rnd: int, name: str) -> None:
        df.write.mode("overwrite").parquet(self._path(rnd, name))

    def _parquet(self, *paths: str) -> DataFrame:
        """Read tables this crawl wrote, with the schema their writer
        recorded in the first footer: what Spark's schema inference
        would return, without its job."""
        return self.spark.read.schema(tableformat.spark_schema(paths[0])).parquet(*paths)

    def _read(self, rnd: int, name: str) -> DataFrame:
        return self._parquet(self._path(rnd, name))

    def _write_rows(self, rnd: int, name: str, rows: list, schema: StructType) -> None:
        """A round's small table (metrics, host_state), written by the
        driver as one parquet file: a Spark write of a local list would
        ship the rows through Python workers."""
        tableformat.overwrite_table(self._path(rnd, name), rows, schema)

    def _host_delta(self, budgeted: DataFrame, rnd: int) -> DataFrame:
        """host_state delta (P1): per-domain fetch accounting of budgeted
        frontier rows, plus ``_budget`` (the domain's round budget) and
        ``_expand`` (any row below the depth bound). Readers aggregate
        deltas into the cumulative token-bucket view (next_fetch_ts ≡
        round boundary + delay — rounds ARE the clock)."""
        cfg = self.cfg
        host_delta = budgeted.groupBy("domain").agg(
            F.count("*").alias("fetched_total"),
            F.min("budget").alias("_budget"),
            F.max(F.col("depth") < cfg.max_depth).alias("_expand"),
        )
        if self.host_policy is not None:
            pol = self.host_policy.select("domain", "delay_ms", "parallelism")
            host_delta = host_delta.join(F.broadcast(pol), "domain", "left")
            host_delta = host_delta.withColumn(
                "delay_ms", F.coalesce("delay_ms", F.lit(cfg.delay_ms).cast("long"))
            ).withColumn("parallelism", F.coalesce("parallelism", F.lit(cfg.parallelism)))
        else:
            host_delta = host_delta.withColumn(
                "delay_ms", F.lit(cfg.delay_ms).cast("long")
            ).withColumn("parallelism", F.lit(cfg.parallelism))
        return host_delta.withColumn("last_round", F.lit(rnd)).select(
            "domain", "delay_ms", "parallelism", "fetched_total", "last_round",
            "_budget", "_expand",
        )

    # ------------------------------------------------------------- round
    def run_round(
        self,
        rnd: int,
        frontier_df: DataFrame,
        seen: DataFrame,
        seen_size: int | None = None,
        bloom: "fr.BloomFilter | None" = None,
    ) -> dict:
        """One crawl round. ``bloom`` is the CUMULATIVE seen-filter as
        of round rnd-1, maintained incrementally by :meth:`run`: this
        round builds a Bloom delta from its own seen delta only
        (O(batch), not O(total-seen)) and persists the delta's
        (shard, bits) rows in the snapshot; the caller ORs it into the
        cumulative filter. A 10^10-URL crawl therefore never rescans
        the historical seen set to refresh the filter."""
        import time

        cfg = self.cfg
        t: dict[str, float] = {}
        t0 = time.perf_counter()
        if cfg.opic and rnd > 0:
            frontier_df = self._overlay_opic(frontier_df, rnd)
        budgeted = self._budgeted(frontier_df, rnd)
        # one per-domain aggregate, collected (O(domains) rows), answers
        # the round-control questions on the driver: which domains are
        # over budget, how many URLs pop, and whether any popped row sits
        # below the depth bound (when none does, no child can be
        # admitted, so the fused UDF skips link discovery and the whole
        # candidate chain below is bypassed). Its rows are the round's
        # host_state delta, which the driver writes itself. Taken over
        # the frontier first: when no domain is over budget the pop is
        # the identity, and these rows are already the batch's.
        # batch and rest come from one cached ranking (no anti-join);
        # batch feeds the fetch join and the seen update, rest the next
        # frontier. The identity pop hands back the frontier, uncached.
        host_delta = self._host_delta(budgeted, rnd)
        host_rows = host_delta.collect()
        n_over = sum(r["fetched_total"] > r["_budget"] for r in host_rows)
        over = host_delta.filter(F.col("fetched_total") > F.col("_budget")).select("domain")
        batch, rest, pop_cache = fr.pop_split(budgeted, n_salts=cfg.n_salts, over=(over, n_over))
        if n_over:
            host_rows = self._host_delta(batch, rnd).collect()
        else:
            batch = batch.persist()
        pop_cache.append(batch)
        batch = batch.drop("budget")
        rest = rest.drop("budget")
        n_popped = sum(r["fetched_total"] for r in host_rows)
        can_expand = any(r["_expand"] for r in host_rows)
        t["pop"] = time.perf_counter() - t0

        retry = None
        n_retried = 0
        resp = None
        carry304 = None
        if cfg.fetch_mode == "http":
            # S2 real-fetch: live GETs, paced per host inside
            # domain-partitioned tasks; transient statuses re-enqueue
            from gocrawl_spark import fetch as fh

            # per-source LimitRule delays (host_policy) must pace the
            # LIVE requests, not just the pop budget: join the effective
            # per-domain delay as a column and let the pacer read it
            paced = batch
            delay_col = None
            if self.validator_cache is not None and self.prior_extracted is not None:
                # only ask for 304s we can act on: prior row must exist
                # and carry links (carryable at any tier)
                carryable = (
                    self.prior_extracted.filter(F.col("links").isNotNull())
                    .select("url").distinct()
                )
                v = (
                    self.validator_cache.select("url", F.col("etag").alias("_etag"))
                    .join(carryable, "url")
                )
                paced = paced.join(v, "url", "left")
            if self.host_policy is not None:
                pol = self.host_policy.select(
                    "domain", F.col("delay_ms").alias("_pace_ms")
                )
                paced = batch.join(F.broadcast(pol), "domain", "left").withColumn(
                    "_pace_ms", F.coalesce("_pace_ms", F.lit(cfg.delay_ms).cast("long"))
                )
                delay_col = "_pace_ms"
            resp_live = fh.fetch_http(
                paced,
                user_agent=cfg.user_agent,
                timeout_s=cfg.http_timeout_s,
                delay_ms=cfg.delay_ms,
                proxy_base=cfg.http_proxy_base,
                delay_col=delay_col,
            )
            if delay_col is not None:
                resp_live = resp_live.drop(delay_col)
            resp_live = resp_live.drop("_etag")
            # snapshot the responses BEFORE fan-out: retry counting,
            # extraction and redirect recording must all see one
            # consistent response set — a persist() evicted under
            # memory pressure would silently re-issue the GETs against
            # a possibly-changed live server mid-round
            self._write(resp_live, rnd, "responses")
            resp = self._read(rnd, "responses")
            fetched = resp.filter(F.col("status") == 200).drop(
                "status", "final_url", "etag", "_etag"
            )
            if self.prior_extracted is not None:
                unchanged = resp.filter(F.col("status") == 304).select("url")
                w304 = Window.partitionBy("url").orderBy(F.desc("crawl_round"))
                prior = (
                    self.prior_extracted.filter(F.col("links").isNotNull())
                    .withColumn("_rn", F.row_number().over(w304))
                    .filter(F.col("_rn") == 1)
                    .drop("_rn")
                )
                carry304 = (
                    unchanged.join(prior, "url")
                    .withColumn("crawl_round", F.lit(rnd))
                    .select(self._EXTRACTED_COLS)
                )
            if cfg.adaptive_backoff:
                # adaptive-politeness state: domains the host throttled
                # this round fetch at double delay next round
                self._write(
                    resp.filter(F.col("status") == 429).select("domain").distinct(),
                    rnd,
                    "throttled",
                )
            if cfg.max_retries > 0:
                # network/5xx, plus 429 Too Many Requests: the one 4xx
                # a polite crawler must treat as transient (RFC 6585) —
                # the host asked for backoff, and rounds ARE the
                # backoff clock here, so it re-enqueues for next round
                transient = resp.filter(
                    (F.col("status") == 0)
                    | (F.col("status") >= 500)
                    | (F.col("status") == 429)
                )
                retry = (
                    transient.filter(F.col("attempt") + 1 < cfg.max_retries)
                    .withColumn("attempt", F.col("attempt") + 1)
                    .select([f.name for f in FRONTIER.fields])
                    .persist()
                )
                n_retried = retry.count()
        else:
            # fetch = corpus join (J2); AQE handles residual skew on url
            fetched = batch.join(self.corpus, "url", "inner")
            # F9: with fault injection, rows whose fail_attempts exceeds
            # the current attempt are transient failures → re-enqueued
            if cfg.max_retries > 0 and "fail_attempts" in self.corpus.columns:
                failed = fetched.filter(F.col("attempt") < F.col("fail_attempts"))
                retry = (
                    failed.filter(F.col("attempt") + 1 < cfg.max_retries)
                    .withColumn("attempt", F.col("attempt") + 1)
                    .select([f.name for f in FRONTIER.fields])
                    .persist()
                )
                n_retried = retry.count()
                fetched = fetched.filter(F.col("attempt") >= F.col("fail_attempts"))
        # retried rows are NOT seen yet (they'll be popped again);
        # everything else popped this round — fetched, 404s, and
        # retries that exhausted max_retries — is
        seen_src = batch
        if retry is not None:
            seen_src = batch.join(retry.select("url_hash"), "url_hash", "left_anti")
        seen_delta = seen_src.select("url_hash", "url").withColumn("fetched_round", F.lit(rnd))

        # F7 incremental maintenance: the round's Bloom DELTA covers
        # exactly this round's seen delta — built with one applyInPandas
        # over the (persisted) batch and written straight to parquet as
        # (shard, bits) rows, never materialized on the driver. Readers
        # OR deltas together; OR(per-round blooms) is bitwise identical
        # to a bloom of the unioned seen set.
        bloom_delta_df = None
        filter_table = "bloom"
        if cfg.use_bloom and cfg.seen_filter == "cuckoo":
            # cuckoo family: the delta is a (shard, m_buckets, table,
            # stash) fingerprint table for this round's seen rows;
            # readers check deltas delta-by-delta (membership in any
            # delta is membership), compaction folds via
            # fr.fold_cuckoo_df. Same config-tag contract as bloom.
            filter_table = "cuckoo"
            bloom_delta_df = self._tag_cuckoo(
                fr.build_cuckoo_df(
                    seen_delta,
                    n_shards=cfg.bloom_shards,
                    m_buckets=cfg.cuckoo_buckets,
                )
            )
        elif cfg.use_bloom:
            # tagged with the build config so readers can verify the
            # delta matches the CURRENT routing config — an untagged or
            # mismatched delta (bloom_shards/bloom_bits changed across
            # a resume) would otherwise produce Bloom FALSE NEGATIVES:
            # candidates routed mod new-N tested against bits built mod
            # old-N skip the exact anti-join backstop and re-admit seen
            # URLs silently
            bloom_delta_df = self._tag_bloom(
                fr.build_bloom_df(
                    seen_delta, n_shards=cfg.bloom_shards, m_bits=cfg.bloom_bits
                )
            )
        # ---- snapshot writes (order matters: commit last) ----
        # seen is append-only: each round writes only its delta (the
        # Iceberg-append analogue) — O(batch) IO per round, not O(total);
        # readers union the deltas of committed rounds. The writes are
        # independent Spark jobs → submit concurrently (the inputs they
        # share — batch/extracted/cand — are persisted, so parallel jobs
        # reuse, not recompute, them). The seen delta and its filter
        # delta depend on the batch alone, so they start here and run
        # alongside extraction and expansion. The pool's threads carry
        # the caller's job group and local properties, so every job of
        # the round is attributable to it
        inherit = inheritable_thread_target(self.spark)
        write = inherit(self._write)
        with ThreadPoolExecutor(max_workers=4) as pool:
            futs = [pool.submit(write, seen_delta, rnd, "seen")]
            if bloom_delta_df is not None:
                futs.append(pool.submit(write, bloom_delta_df, rnd, filter_table))
            # the fused pandas UDF (the expensive stage) runs EXACTLY once:
            # its output is committed directly as the round's `extracted`
            # table, and every consumer (articles/pages views, candidate
            # expansion, stats) re-reads that parquet with column pruning —
            # no multi-GB persist, no duplicate text writes (articles/pages
            # are projections of extracted, not copies). Row counts of the
            # tables a round writes come from their footers
            # (tableformat.record_count), never from a count job
            t0 = time.perf_counter()
            extracted_out = self._extract(fetched, can_expand, rnd)
            if carry304 is not None:
                extracted_out = extracted_out.unionByName(carry304)
            self._write(extracted_out, rnd, "extracted")
            extracted = self._read(rnd, "extracted")
            n_fetched = tableformat.record_count(self._path(rnd, "extracted"))
            t["fetch_extract"] = time.perf_counter() - t0

            # persist candidates: filter_unseen's bloom split unions two
            # branches over them, and the frontier write replays the chain —
            # without this the link-resolution UDF + dedup window run 3-4×.
            # A noop write materializes them without a count's extra jobs
            t0 = time.perf_counter()
            cand = None
            if can_expand:
                cand = self._apply_rank_priority(
                    self._gate_robots(expand_candidates(extracted, batch, cfg, rnd), rnd)
                ).persist()
                cand.write.format("noop").mode("overwrite").save()
            t["expand"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            if can_expand:
                # below bloom_min_seen the pandas prefilter costs more than
                # the exact anti-join saves; the cumulative filter is still
                # maintained (deltas are O(batch)) so it's ready when the
                # seen set grows past the threshold
                has_filter = bloom is not None and (
                    isinstance(bloom, DataFrame) or bloom.shards
                )
                want_bloom = (
                    cfg.use_bloom
                    and has_filter
                    and (seen_size is None or seen_size >= cfg.bloom_min_seen)
                )
                # new candidates dodge: seen set, still-pending rest, this batch
                pending = rest.select("url_hash").unionByName(batch.select("url_hash"))
                new_rows = fr.filter_unseen(
                    cand,
                    seen,
                    bloom if want_bloom else None,
                    self.spark,
                    n_shards=cfg.bloom_shards,
                ).join(pending, "url_hash", "left_anti")
                frontier_next = rest.unionByName(new_rows)
            else:
                frontier_next = rest
            if retry is not None:
                frontier_next = frontier_next.unionByName(retry)
            t["bloom"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            opic_delta = None
            if cfg.opic:
                grants = (
                    frontier_df.select(
                        "url_hash", F.lit(1_000_000).cast("long").alias("delta_u")
                    )
                    if rnd == 0
                    else None
                )
                # retried (transient-failure) pops keep their cash: they
                # distributed nothing this round and will pop again — the
                # same popped-minus-retry rule the seen delta applies
                opic_delta = self._opic_round_delta(seen_src, extracted, rnd, grants)
            # one scan gives every per-round counter (V8's stats rollup);
            # it reads the committed extracted table alongside the writes
            cells = pool.submit(inherit(
                extracted.groupBy("content_type", "article_valid", "skip_reason")
                .count()
                .collect
            ))
            futs.append(pool.submit(write, frontier_next, rnd, "frontier"))
            if opic_delta is not None:
                futs.append(pool.submit(write, opic_delta, rnd, "opic"))
            if resp is not None:
                # F10: record followed redirects (request → landing URL)
                redirects = resp.filter(
                    F.col("final_url") != F.col("url")
                ).select("url", "final_url", "status")
                futs.append(pool.submit(write, redirects, rnd, "redirects"))
            self._write_rows(
                rnd, "host_state", [r[:5] for r in host_rows],
                StructType(host_delta.schema.fields[:5]),
            )
            for f in futs:
                f.result()
            cells = cells.result()
        if self._seen_index is not None:
            # second O(batch) append into the bucketed index (the
            # snapshot delta above stays the commit-protocol source of
            # truth; a crash before the manifest just re-appends the
            # same deterministic rows on resume — membership semantics)
            self._seen_index.append(self._read(rnd, "seen"), rnd)
        t["writes"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        n_articles = sum(
            r["count"] for r in cells if r["content_type"] == "article" and r["article_valid"]
        )
        stats = {
            "round": rnd,
            "popped": n_popped,
            "fetched": n_fetched,
            "articles": n_articles,
            "pages": sum(r["count"] for r in cells if r["content_type"] == "page"),
            "frontier_next": tableformat.record_count(self._path(rnd, "frontier")),
            "rejected": {
                r["skip_reason"]: r["count"]
                for r in cells
                if r["content_type"] == "article" and not r["article_valid"] and r["skip_reason"]
            },
            "retried": n_retried,
        }
        t["stats"] = time.perf_counter() - t0
        stats["timings"] = {k: round(v, 2) for k, v in t.items()}
        self._write_rows(rnd, "metrics", [
            (rnd, k, int(v)) for k, v in stats.items() if isinstance(v, (int, float)) and k != "round"
        ] + [(rnd, f"skip:{k}", int(v)) for k, v in stats["rejected"].items()], METRICS)
        # round commit: visibility flips only at the protocol's atomic
        # marker/pointer step (tableformat; Iceberg snapshot commit in
        # production — docs/ICEBERG.md)
        self.fmt.commit(rnd, {"stats": stats, "config": asdict(self.cfg)})
        if cand is not None:
            cand.unpersist()
        if retry is not None:
            retry.unpersist()
        for df in pop_cache:
            df.unpersist()
        return stats

    # --------------------------------------------------------------- run
    def _empty_seen(self) -> DataFrame:
        return self.spark.createDataFrame([], "url_hash string, url string, fetched_round int")

    def _compact_marker(self) -> dict | None:
        p = os.path.join(self.run_dir, "compact", "COMPACT.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    # ------------------------------------------------------------- opic
    def _opic_delta_paths(self, rnd: int) -> list[str]:
        marker = self._compact_marker()
        base_upto = marker["upto"] if marker else -1
        parts = []
        base = os.path.join(self.run_dir, "compact", "opic")
        if marker is not None and base_upto <= rnd and os.path.exists(base):
            parts.append(base)
        for r in range(base_upto + 1, rnd + 1):
            d = os.path.join(_round_dir(self.run_dir, r), "opic")
            if self.fmt.is_committed(r) and os.path.exists(d):
                parts.append(d)
        return parts

    def _opic_cash_upto(self, rnd: int) -> DataFrame:
        """Cumulative OPIC cash as of committed round `rnd`: one
        groupBy-sum over the summable per-round deltas (grants +
        contributions − resets), all exact LONG micro-units."""
        parts = self._opic_delta_paths(rnd)
        if not parts:
            return self.spark.createDataFrame([], "url_hash string, cash_u long")
        return (
            self._parquet(*parts)
            .groupBy("url_hash")
            .agg(F.sum("delta_u").alias("cash_u"))
        )

    def opic_cash(self) -> DataFrame:
        """Public view: (url_hash, cash_u) accumulated importance cash
        (micro-units) as of the last committed round."""
        last = self.fmt.last_committed()
        if last is None:
            return self.spark.createDataFrame([], "url_hash string, cash_u long")
        return self._opic_cash_upto(last)

    def _overlay_opic(self, frontier_df: DataFrame, rnd: int) -> DataFrame:
        """Priority overlay from accumulated cash (same mean-normalized
        fixed thresholds as graphrank.rank_priorities): >=4x mean cash
        -> 8, >=2x -> 7, >=1.2x -> 6, else untouched (base 5). One
        O(cash-rows) agg for the mean + one url_hash join."""
        cash = self._opic_cash_upto(rnd - 1).filter(F.col("cash_u") > 0)
        stats = cash.agg(F.count("*").alias("n"), F.sum("cash_u").alias("s")).collect()[0]
        if not stats["n"]:
            return frontier_df
        mean = stats["s"] / stats["n"]  # micro-units; ratio below is scale-free
        x = F.round(F.col("cash_u") / F.lit(mean), 6)
        pri = F.when(x >= 4.0, 8).when(x >= 2.0, 7).when(x >= 1.2, 6)
        ov = cash.select("url_hash", pri.alias("_opic_pri")).filter(
            F.col("_opic_pri").isNotNull()
        )
        return (
            frontier_df.join(ov, "url_hash", "left")
            .withColumn("priority", F.coalesce("_opic_pri", F.col("priority")))
            .drop("_opic_pri")
        )

    def _opic_round_delta(
        self, batch: DataFrame, extracted: DataFrame, rnd: int,
        grants: DataFrame | None,
    ) -> DataFrame:
        """This round's summable cash delta: (+1 unit per seed at round
        0) + (popped cash split by integer DIV over resolved out-links,
        credited to each child) − (each popped page's cash, reset).
        Pages with no resolved links leak their cash (the link_rank
        dangling choice). All LONG arithmetic — exact, order-free."""
        prior = self._opic_cash_upto(rnd - 1)
        if grants is not None:
            prior = (
                prior.unionByName(grants.select("url_hash", F.col("delta_u").alias("cash_u")))
                .groupBy("url_hash")
                .agg(F.sum("cash_u").alias("cash_u"))
            )
        par = (
            batch.select("url", "url_hash")
            .join(prior, "url_hash", "left")
            .withColumn("cash_u", F.coalesce(F.col("cash_u"), F.lit(0).cast("long")))
            .filter(F.col("cash_u") != 0)
        )
        pairs = (
            extracted.select("url", "links")
            .join(par.select("url", "url_hash", "cash_u"), "url")
            .select(
                "url_hash", "cash_u",
                F.explode(udfs.resolve_links_udf("url", "links")).alias("_child"),
            )
        )
        k = pairs.groupBy("url_hash").agg(F.count("*").alias("_k"))
        contrib = (
            pairs.join(k, "url_hash")
            .select(
                F.sha2("_child", 256).alias("url_hash"),
                F.expr("cash_u DIV _k").alias("delta_u"),
            )
            .groupBy("url_hash")
            .agg(F.sum("delta_u").alias("delta_u"))
        )
        resets = par.select("url_hash", (-F.col("cash_u")).alias("delta_u"))
        out = contrib.unionByName(resets)
        if grants is not None:
            out = out.unionByName(grants)
        return out.groupBy("url_hash").agg(F.sum("delta_u").alias("delta_u"))

    def _seen_upto(self, rnd: int) -> DataFrame:
        """Union of seen deltas of committed rounds ≤ rnd, on top of the
        compacted base when one exists."""
        marker = self._compact_marker()
        base_upto = marker["upto"] if marker else -1
        dirs = [
            os.path.join(_round_dir(self.run_dir, r), "seen")
            for r in range(base_upto + 1, rnd + 1)
            if self.fmt.is_committed(r)  # committed only
        ]
        parts = []
        if marker is not None and base_upto <= rnd:
            parts.append(os.path.join(self.run_dir, "compact", "seen"))
        parts.extend(d for d in dirs if os.path.exists(d))
        if not parts:
            return self._empty_seen()
        return self._parquet(*parts)

    def _tag_bloom(self, bloom_df: DataFrame) -> DataFrame:
        """Stamp (shard, bits) rows with the config that built them —
        the compatibility contract the read side verifies."""
        cfg = self.cfg
        return bloom_df.select(
            "shard",
            "bits",
            F.lit(cfg.bloom_shards).alias("n_shards"),
            F.lit(cfg.bloom_bits).alias("m_bits"),
        )

    def _bloom_rows_compatible(self, df: DataFrame) -> bool:
        """True iff every persisted delta row can be applied under the
        CURRENT bloom config. Tagged rows must match bloom_shards and
        bloom_bits exactly; legacy untagged rows (pre-tag snapshots)
        are checked as far as the data allows — bits length and shard
        id range — which catches bloom_bits changes and shard-count
        DECREASES; a legacy shard-count increase is undetectable from
        data alone, which is why every new delta is tagged. Any
        incompatible row routes the caller to the full distributed
        rebuild instead of risking Bloom false negatives."""
        cfg = self.cfg
        bad = (F.length("bits") != cfg.bloom_bits // 8) | (
            F.col("shard") >= cfg.bloom_shards
        )
        if "n_shards" in df.columns:
            bad = bad | (
                F.col("n_shards").isNotNull()
                & (F.col("n_shards") != cfg.bloom_shards)
            )
        if "m_bits" in df.columns:
            bad = bad | (
                F.col("m_bits").isNotNull() & (F.col("m_bits") != cfg.bloom_bits)
            )
        return df.filter(bad).limit(1).isEmpty()

    def _bloom_delta_paths(self, rnd: int) -> "list[str] | None":
        """Parquet dirs holding the (shard, bits) Bloom deltas of the
        committed rounds ≤ rnd (compacted base first). None = some
        committed round lacks a delta (pre-delta run or use_bloom
        off)."""
        marker = self._compact_marker()
        base_upto = marker["upto"] if marker else -1
        parts = []
        if marker is not None and base_upto <= rnd:
            base = os.path.join(self.run_dir, "compact", "bloom")
            if not os.path.isdir(base):
                return None
            parts.append(base)
        for r in range(base_upto + 1, rnd + 1):
            if not self.fmt.is_committed(r):
                continue
            d = os.path.join(_round_dir(self.run_dir, r), "bloom")
            if not os.path.isdir(d):
                return None
            parts.append(d)
        return parts

    def _bloom_upto(self, rnd: int) -> "fr.BloomFilter | None":
        """Cumulative Bloom filter for committed rounds ≤ rnd, assembled
        by OR-merging the persisted per-round deltas (plus the compacted
        base) — the BROADCAST fast path's driver object; the sharded
        application path uses :meth:`_bloom_df_upto` and never builds
        this. Returns None when any committed round lacks a delta
        (pre-delta run or use_bloom off) — the caller falls back to one
        full rebuild, after which deltas accumulate again."""
        parts = self._bloom_delta_paths(rnd)
        if parts is None:
            return None
        out = fr.BloomFilter.empty(self.cfg.bloom_shards, self.cfg.bloom_bits)
        for p in parts:
            delta = self._bloom_delta(p)
            if delta is None:
                return None
            out = out.merge(delta)
        return out

    def _bloom_delta(self, path: str) -> "fr.BloomFilter | None":
        """One persisted Bloom delta, read by the driver straight from
        its files (the broadcast path holds the whole filter on the
        driver anyway). None when a row was built under another bloom
        config — the same rule as :meth:`_bloom_rows_compatible`, so the
        caller takes the full rebuild."""
        cfg = self.cfg
        rows = [r for f in tableformat.data_files(path) for r in pq.read_table(f).to_pylist()]
        if any(
            len(r["bits"]) != cfg.bloom_bits // 8
            or r["shard"] >= cfg.bloom_shards
            or r.get("n_shards") not in (None, cfg.bloom_shards)
            or r.get("m_bits") not in (None, cfg.bloom_bits)
            for r in rows
        ):
            return None
        return fr.BloomFilter.from_rows(
            [(r["shard"], r["bits"]) for r in rows], cfg.bloom_shards, cfg.bloom_bits
        )

    @property
    def _bloom_sharded(self) -> bool:
        """Sharded application when forced, or in auto mode once the
        configured filter outgrows the broadcast budget."""
        cfg = self.cfg
        return cfg.bloom_apply == "sharded" or (
            cfg.bloom_apply == "auto"
            and cfg.bloom_shards * (cfg.bloom_bits // 8) > cfg.bloom_broadcast_max_bytes
        )

    def _bloom_df_upto(self, rnd: int) -> DataFrame:
        """Cumulative filter as a DISTRIBUTED (shard, bits) delta table
        (sharded application path): simply the union of the persisted
        per-round delta parquet — nothing is collected or merged on the
        driver; filter_unseen_sharded ORs a shard's deltas inside its
        own task. A pre-delta snapshot (or a bloom-config change)
        triggers one distributed full rebuild persisted under
        bloom_rebuild/, after which deltas accumulate again."""
        cfg = self.cfg
        parts = self._bloom_delta_paths(rnd)
        if parts is not None and parts:
            df = self.spark.read.option("mergeSchema", "true").parquet(*parts)
            # deterministic compatibility gate (never a sampled probe):
            # a single row built under a different bloom_shards or
            # bloom_bits poisons the union — false negatives re-admit
            # seen URLs — so any mismatch routes to the full rebuild
            if self._bloom_rows_compatible(df):
                return df.select("shard", "bits")
            parts = None  # config changed across generations: rebuild
        if parts is not None:  # empty list: nothing committed yet
            return self.spark.createDataFrame([], "shard int, bits binary")
        # the rebuild dir is keyed by the BUILD CONFIG as well as the
        # round: a second config change must not reuse a stale rebuild
        # built under a different (shards, bits) pair
        p = os.path.join(
            self.run_dir,
            "bloom_rebuild",
            f"upto={rnd:04d}_s{cfg.bloom_shards}_b{cfg.bloom_bits}",
        )
        if not os.path.isdir(p):
            fr.build_bloom_df(
                self._seen_upto(rnd), n_shards=cfg.bloom_shards, m_bits=cfg.bloom_bits
            ).write.mode("overwrite").parquet(p)
        return self._parquet(p)

    # ---- cuckoo seen-filter persistence (seen_filter="cuckoo") ----

    def _tag_cuckoo(self, cuckoo_df: DataFrame) -> DataFrame:
        """Stamp (shard, m_buckets, table, stash) rows with the routing
        config — same compatibility contract as _tag_bloom."""
        return cuckoo_df.select(
            "shard", "m_buckets", "table", "stash",
            F.lit(self.cfg.bloom_shards).alias("n_shards"),
        )

    def _cuckoo_rows_compatible(self, df: DataFrame) -> bool:
        """Every persisted cuckoo delta row must match the CURRENT
        (bloom_shards, cuckoo_buckets) config — a mismatched row would
        route candidates to the wrong shard or index the wrong bucket
        space, both of which produce FALSE NEGATIVES (re-admitted seen
        URLs), exactly the bloom failure mode the tag gate exists for."""
        cfg = self.cfg
        bad = (F.col("m_buckets") != cfg.cuckoo_buckets) | (
            F.col("shard") >= cfg.bloom_shards
        )
        if "n_shards" in df.columns:
            bad = bad | (
                F.col("n_shards").isNotNull()
                & (F.col("n_shards") != cfg.bloom_shards)
            )
        return df.filter(bad).limit(1).isEmpty()

    def _cuckoo_delta_paths(self, rnd: int) -> "list[str] | None":
        """Parquet dirs of the committed cuckoo deltas ≤ rnd (compacted
        base first); None = some committed round lacks one."""
        marker = self._compact_marker()
        base_upto = marker["upto"] if marker else -1
        parts = []
        if marker is not None and base_upto <= rnd:
            base = os.path.join(self.run_dir, "compact", "cuckoo")
            if not os.path.isdir(base):
                return None
            parts.append(base)
        for r in range(base_upto + 1, rnd + 1):
            if not self.fmt.is_committed(r):
                continue
            d = os.path.join(_round_dir(self.run_dir, r), "cuckoo")
            if not os.path.isdir(d):
                return None
            parts.append(d)
        return parts

    def _cuckoo_df_upto(self, rnd: int) -> DataFrame:
        """Cumulative cuckoo filter as the DISTRIBUTED union of the
        per-round delta tables — filter_unseen_cuckoo checks a shard's
        deltas inside its own task (membership in any delta is
        membership), so nothing folds on the driver. A pre-delta
        snapshot or config change triggers one distributed rebuild
        persisted under cuckoo_rebuild/, keyed by the build config."""
        cfg = self.cfg
        parts = self._cuckoo_delta_paths(rnd)
        if parts is not None and parts:
            df = self.spark.read.option("mergeSchema", "true").parquet(*parts)
            if self._cuckoo_rows_compatible(df):
                return df.select("shard", "m_buckets", "table", "stash")
            parts = None  # config changed: rebuild
        if parts is not None:
            return self.spark.createDataFrame(
                [], "shard int, m_buckets int, table binary, stash binary"
            )
        p = os.path.join(
            self.run_dir,
            "cuckoo_rebuild",
            f"upto={rnd:04d}_s{cfg.bloom_shards}_m{cfg.cuckoo_buckets}",
        )
        if not os.path.isdir(p):
            fr.build_cuckoo_df(
                self._seen_upto(rnd),
                n_shards=cfg.bloom_shards,
                m_buckets=cfg.cuckoo_buckets,
            ).write.mode("overwrite").parquet(p)
        return self._parquet(p)

    def compact(self, keep_rounds: int = 2) -> int | None:
        """P7 maintenance (Iceberg snapshot-expiration analogue;
        reference cleanup ticker crawler.go:377-393): fold the seen and
        host_state deltas of rounds older than the last `keep_rounds`
        into single base tables, then drop those rounds' mutable-state
        dirs (frontier/seen/host_state). Crawl PRODUCT (extracted,
        metrics) and the commit manifests stay; resume still works
        because the latest rounds are untouched. Returns the compacted
        upper bound round, or None if there was nothing to do."""
        last = self.fmt.last_committed()
        if last is None:
            return None
        upto = last - keep_rounds
        marker = self._compact_marker()
        if upto < 0 or (marker and upto <= marker["upto"]):
            return None
        cdir = os.path.join(self.run_dir, "compact")
        tmp = cdir + "._tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        self._seen_upto(upto).write.parquet(os.path.join(tmp, "seen"))
        self._host_deltas_upto(upto).write.parquet(os.path.join(tmp, "host_state"))
        # OPIC deltas are summable: fold to one (url_hash, delta_u) base
        opic_parts = self._opic_delta_paths(upto)
        if opic_parts:
            (
                self._parquet(*opic_parts)
                .groupBy("url_hash")
                .agg(F.sum("delta_u").alias("delta_u"))
                .write.parquet(os.path.join(tmp, "opic"))
            )
        # fold the bloom deltas DISTRIBUTED (one row per shard after the
        # OR) — the whole filter never lands in one address space even
        # during maintenance
        bloom_parts = self._bloom_delta_paths(upto)
        if bloom_parts:
            bdf = self.spark.read.option("mergeSchema", "true").parquet(*bloom_parts)
            if self._bloom_rows_compatible(bdf):
                self._tag_bloom(fr.fold_bloom_df(bdf)).write.parquet(
                    os.path.join(tmp, "bloom")
                )
            # else: skip the fold — no compact/bloom dir means
            # _bloom_delta_paths returns None and readers take the
            # rebuild path, exactly like a pre-delta snapshot; mixing
            # configs in one OR would corrupt the filter
        # cuckoo deltas fold the same way (entry-multiset union,
        # shard-local re-insert — fr.fold_cuckoo_df)
        cuckoo_parts = self._cuckoo_delta_paths(upto)
        if cuckoo_parts:
            cdf = self.spark.read.option("mergeSchema", "true").parquet(*cuckoo_parts)
            if self._cuckoo_rows_compatible(cdf):
                self._tag_cuckoo(fr.fold_cuckoo_df(cdf)).write.parquet(
                    os.path.join(tmp, "cuckoo")
                )
        with open(os.path.join(tmp, "COMPACT.json"), "w") as f:
            json.dump({"upto": upto}, f)
        old = cdir + "._old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(cdir):
            os.rename(cdir, old)
        os.rename(tmp, cdir)  # atomic-ish swap; COMPACT.json written last inside
        shutil.rmtree(old, ignore_errors=True)
        start = (marker["upto"] + 1) if marker else 0
        for r in range(start, upto + 1):
            for name in ("frontier", "seen", "host_state", "bloom", "cuckoo", "opic"):
                shutil.rmtree(os.path.join(_round_dir(self.run_dir, r), name), ignore_errors=True)
        # fold the bucketed seen index too (one sorted file per bucket
        # instead of one file set per round) — rebuilt from the
        # just-compacted snapshot state, never from the table itself
        if self._seen_index is not None and self._seen_index.exists():
            wm = self._seen_index.watermark()
            if wm is not None:
                # clamp to the committed frontier: a crash between
                # append and manifest can leave wm one round ahead, and
                # _seen_upto only yields committed deltas — rebuilding
                # at min(wm, last) keeps "index = committed ≤ watermark"
                # (the resumed round re-appends its delta either way)
                wm = min(wm, last)
                self._seen_index.compact(self._seen_upto(wm), wm)
        # fold the live-robots deltas into one. Pre-TTL, hosts are
        # disjoint across deltas; with robots_ttl_rounds a host may
        # recur, so the fold keeps the freshest row per host (the same
        # latest-wins rule _robots_table reads by); an open-web crawl
        # otherwise accumulates one delta dir per round forever
        rb_dir = self._robots_dir()
        if os.path.isdir(rb_dir):
            deltas = sorted(d for d in os.listdir(rb_dir) if d.startswith("delta="))
            if len(deltas) > 1:
                folded = self.spark.read.option("mergeSchema", "true").parquet(
                    *[os.path.join(rb_dir, d) for d in deltas]
                )
                if "fetched_round" not in folded.columns:
                    folded = folded.withColumn("fetched_round", F.lit(-1))
                wrb = Window.partitionBy("host").orderBy(
                    F.desc(F.coalesce("fetched_round", F.lit(-1)))
                )
                folded = (
                    folded.withColumn("_rn", F.row_number().over(wrb))
                    .filter(F.col("_rn") == 1)
                    .drop("_rn")
                )
                tmp_rb = rb_dir + "._tmp"
                shutil.rmtree(tmp_rb, ignore_errors=True)
                folded.write.parquet(os.path.join(tmp_rb, "delta=0000"))
                old_rb = rb_dir + "._old"
                shutil.rmtree(old_rb, ignore_errors=True)
                os.rename(rb_dir, old_rb)
                os.rename(tmp_rb, rb_dir)
                shutil.rmtree(old_rb, ignore_errors=True)
                if self._live_robots:
                    self.robots = self._robots_table()
        return upto

    def _host_deltas_upto(self, rnd: int) -> DataFrame:
        marker = self._compact_marker()
        base_upto = marker["upto"] if marker else -1
        dirs = [
            os.path.join(_round_dir(self.run_dir, r), "host_state")
            for r in range(base_upto + 1, rnd + 1)
            if self.fmt.is_committed(r)
        ]
        parts = []
        if marker is not None and base_upto <= rnd:
            parts.append(os.path.join(self.run_dir, "compact", "host_state"))
        parts.extend(d for d in dirs if os.path.exists(d))
        if not parts:
            return self.spark.createDataFrame(
                [],
                "domain string, delay_ms long, parallelism int, fetched_total long, last_round int",
            )
        return self._parquet(*parts)

    def _sync_seen_index(self, last: "int | None") -> None:
        """Reconcile the bucketed seen index with the committed
        snapshots before a run. Fresh run: drop any stale table left at
        this path by a wiped run_dir. Resume: append the committed
        deltas past the watermark (O(missed batches)); if any needed
        delta was already compacted away — or the table/watermark is
        gone or the bucket count changed — rebuild from the snapshot
        seen set in one distributed pass."""
        idx = self._seen_index
        if last is None:
            if idx.exists() or idx.watermark() is not None:
                idx.drop()
            return
        wm = idx.watermark()
        if not idx.exists() or wm is None:
            idx.rebuild(self._seen_upto(last), last)
            return
        if wm >= last:
            return  # crash-ahead superset is fine: anti-join is membership
        rounds = [
            r
            for r in range(wm + 1, last + 1)
            if self.fmt.is_committed(r)
        ]
        paths = [os.path.join(_round_dir(self.run_dir, r), "seen") for r in rounds]
        if any(not os.path.isdir(p) for p in paths):
            idx.rebuild(self._seen_upto(last), last)
            return
        for r, p in zip(rounds, paths):
            idx.append(self._parquet(p), r)

    def _seen_for_filter(self, rnd: "int | None") -> DataFrame:
        """The seen set the anti-join backstop runs against: the
        bucketed index when enabled (seen side never shuffles), else
        the union of snapshot deltas."""
        if self._seen_index is not None:
            return (
                self._seen_index.df()
                if self._seen_index.exists()
                else self._empty_seen()
            )
        return self._seen_upto(rnd) if rnd is not None else self._empty_seen()

    def run(self, resume: bool = True) -> list[dict]:
        if self.cfg.fetch_mode == "corpus" and self.corpus is None:
            raise ValueError(
                "crawl job has no corpus table (fetch_mode='corpus'); "
                "pass a corpus DataFrame or use fetch_mode='http'"
            )
        start = 0
        bloom: "fr.BloomFilter | DataFrame | None" = None
        cuckoo = self.cfg.use_bloom and self.cfg.seen_filter == "cuckoo"
        sharded = self.cfg.use_bloom and not cuckoo and self._bloom_sharded
        last = self.fmt.last_committed() if resume else None
        if resume and last is None:
            # a lineage committed under another protocol would otherwise
            # read as empty here and silently restart at round 0
            written = tableformat.committed_protocols(self.run_dir)
            if written:
                raise ValueError(
                    f"run_dir {self.run_dir} was committed with table_format"
                    f" {' and '.join(map(repr, written))}; resuming it with"
                    f" table_format={self.cfg.table_format!r} would restart at round 0"
                )
        if self._seen_index is not None:
            self._sync_seen_index(last)
        if last is not None:
            frontier_df = self._read(last, "frontier")
            pending = tableformat.record_count(self._path(last, "frontier"))
            seen = self._seen_for_filter(last)
            start = last + 1
            if cuckoo:
                bloom = self._cuckoo_df_upto(last)
            elif sharded:
                bloom = self._bloom_df_upto(last)
            elif self.cfg.use_bloom:
                bloom = self._bloom_upto(last)
                if bloom is None:
                    # pre-delta snapshot (or bloom config changed): one
                    # full rebuild, then deltas accumulate incrementally
                    bloom = fr.build_bloom(
                        seen, n_shards=self.cfg.bloom_shards, m_bits=self.cfg.bloom_bits
                    )
        else:
            frontier_df = (
                init_frontier_df(self.seeds)
                if isinstance(self.seeds, DataFrame)
                else init_frontier(self.spark, self.seeds)
            )
            # robots gates frontier ADMISSION (seeds here, candidates in
            # run_round) — with a static robots table this yields the
            # same URL set as the reference's check-at-request-time
            frontier_df = self._apply_rank_priority(self._gate_robots(frontier_df))
            pending = frontier_df.limit(1).count()  # later rounds report frontier_next
            seen = self._empty_seen()
            if cuckoo:
                bloom = self.spark.createDataFrame(
                    [], "shard int, m_buckets int, table binary, stash binary"
                )
            elif sharded:
                bloom = self.spark.createDataFrame([], "shard int, bits binary")
            elif self.cfg.use_bloom:
                bloom = fr.BloomFilter.empty(self.cfg.bloom_shards, self.cfg.bloom_bits)
        history: list[dict] = []
        seen_size = None if last is not None else 0
        for rnd in range(start, start + self.cfg.max_rounds):
            if pending == 0:
                break
            stats = self.run_round(rnd, frontier_df, seen, seen_size=seen_size, bloom=bloom)
            history.append(stats)
            pending = stats["frontier_next"]
            if seen_size is not None:
                seen_size += stats["popped"]
            # reload from the snapshot: truncates lineage, guarantees
            # the next round reads exactly the committed state
            frontier_df = self._read(rnd, "frontier")
            seen = self._seen_for_filter(rnd)
            if cuckoo:
                bloom = self._cuckoo_df_upto(rnd)
            elif sharded:
                # the delta union just grows by one lazy parquet path —
                # the driver never touches a bitset byte
                bloom = self._bloom_df_upto(rnd)
            elif bloom is not None:
                # OR in ONLY this round's persisted delta — the
                # cumulative filter never rescans the historical seen set
                bloom = bloom.merge(self._bloom_delta(self._path(rnd, "bloom")))
        return history

    # ------------------------------------------------------------ readers
    def extracted(self) -> DataFrame:
        """Raw fused-extraction output of every committed round."""
        return self.spark.read.option("basePath", self.run_dir).parquet(
            os.path.join(self.run_dir, "rounds", "round=*", "extracted")
        )

    def articles(self) -> DataFrame:
        """Validated articles view — a column-pruned projection of the
        per-round extracted tables (S5's index is a view, not a copy)."""
        ex = self.extracted()
        return (
            ex.filter((F.col("content_type") == "article") & F.col("article_valid"))
            .select("article.*", "crawl_round")
        )

    def pages(self) -> DataFrame:
        ex = self.extracted()
        return ex.filter(F.col("content_type") == "page").select("page.*", "crawl_round")

    def seen_final(self) -> DataFrame:
        last = self.fmt.last_committed()
        if last is None:
            return self._empty_seen()
        return self._seen_upto(last)

    def host_state(self) -> DataFrame:
        """Cumulative per-host token-bucket view over committed rounds:
        total fetches, last active round, and the effective politeness
        contract (delay/parallelism of the latest round)."""
        last = self.fmt.last_committed()
        if last is None:
            return self.spark.createDataFrame(
                [],
                "domain string, delay_ms long, parallelism int, fetched_total long, last_round int",
            )
        deltas = self._host_deltas_upto(last)
        w = Window.partitionBy("domain").orderBy(F.desc("last_round"))
        return (
            deltas.withColumn("_total", F.sum("fetched_total").over(Window.partitionBy("domain")))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "domain",
                "delay_ms",
                "parallelism",
                F.col("_total").alias("fetched_total"),
                "last_round",
            )
        )

    def publish(self, warehouse, article_index: str = "articles", page_index: str = "pages"):
        """Index the crawl's validated output into a Warehouse — the
        storage.IndexDocument flow (S5): ensure indices exist with the
        canonical mappings (S7), then doc-id upsert so re-publishing a
        resumed crawl is idempotent."""
        warehouse.ensure_article_index(article_index)
        warehouse.ensure_page_index(page_index)
        warehouse.upsert(article_index, self.articles().drop("crawl_round"), key="id")
        warehouse.upsert(page_index, self.pages().drop("crawl_round"), key="id")

    def archive(
        self, out_dir: str, compress: bool = True, cdx: bool = True,
        wat: bool = False,
    ) -> DataFrame:
        """Export every page the crawl fetched as a WARC archive with
        a CDX capture index (warc.write_warc + sidecar): the crawl's
        replayable delivery — `read_warc` re-crawls it, a CDX hit
        replays one record via a ranged read. Fetch hits are the
        extracted rows; the raw html comes from one url-equi-join back
        to the corpus (bucketed-corpus runs keep this shuffle-free on
        the corpus side). ``wat=True`` also writes the WAT metadata
        companion (title + raw outgoing links per page) into the same
        directory — the Common-Crawl pairing; each writer sweeps only
        its own parts. Returns the WARC write manifest."""
        from gocrawl_spark import warc as _warc

        urls = self.extracted().select("url").distinct()
        rows = urls.join(self.corpus.select("url", "warc_ts", "html"), "url")
        manifest = _warc.write_warc(
            rows,
            out_dir,
            compress=compress,
            cdx_dir=os.path.join(out_dir, "cdx") if cdx else None,
        )
        if wat:
            _warc.write_wat(_warc.wat_metadata(rows), out_dir, compress=compress)
        return manifest

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(self.run_dir, "rounds", "round=*", "metrics")
        )

    def validators(self) -> DataFrame:
        """(url, etag): latest response validator per URL across this
        run's committed rounds (http mode) — feed to the NEXT
        generation's CrawlRun(validators=...) for conditional GETs. A
        304 refreshes the validity without changing the etag, so both
        200 and 304 rows count as "latest"."""
        resp = self.spark.read.option("basePath", self.run_dir).parquet(
            os.path.join(self.run_dir, "rounds", "round=*", "responses")
        )
        w = Window.partitionBy("url").orderBy(F.desc("round"))
        return (
            resp.filter(
                F.col("etag").isNotNull() & F.col("status").isin(200, 304)
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("url", "etag")
        )

    def redirects(self) -> DataFrame:
        """F10: (url, final_url, status) for every followed redirect of
        every committed round (http fetch mode only)."""
        return self.spark.read.parquet(
            os.path.join(self.run_dir, "rounds", "round=*", "redirects")
        )
