"""Frontier machinery: URL-seen filter + politeness scheduler.

north_rule components (all plain DataFrame ops + Arrow UDFs — no
Catalyst extensions needed, SURVEY.md §4):

- **Partitioned Bloom seen-filter** (F7/J3). gocrawl disables colly's
  visited map (crawler.go:203 AllowURLRevisit); the north rule makes
  dedup first-class. Design: the 64-bit prefix of each url_hash routes
  to a shard; each shard is a classic k=4 Bloom bitset built
  distributedly with ``applyInPandas``, merged on the driver (bytes OR),
  and broadcast. Candidates that the filter rejects are *definitely
  new* and skip the anti-join; "maybe seen" survivors go through the
  exact ``left_anti`` join, so false positives only cost a join row,
  never a lost URL. At 10^10 URLs: 10 bits/key ≈ 12.5 GB split over
  1024 shards ≈ 12 MB/shard — broadcastable. Maintenance is
  incremental: each round builds a Bloom DELTA over its own seen delta
  only (O(batch)), persists the (shard, bits) rows in the round
  snapshot, and the driver ORs the delta into the cumulative filter
  (``BloomFilter.merge``) — OR of per-round blooms is bitwise
  identical to a bloom of the unioned seen set, and no round ever
  rescans the historical seen set (rounds.run_round/run).

- **Politeness pop** (P1–P4). Per-domain budget = floor(round_wall /
  delay) × parallelism (colly LimitRule, crawler.go:223-228), applied
  as a deterministic top-k per domain ordered by (priority DESC, depth,
  discovery_seq, url_hash). Hot-domain skew is broken with a two-stage
  salted window: stage 1 ranks within (domain, salt) cells — S× more
  parallelism on the hub domain — stage 2 ranks the ≤ S·budget
  survivors exactly. Same rows out at any parallelism.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

# ---------------------------------------------------------------------------
# Bloom seen-filter
# ---------------------------------------------------------------------------

BLOOM_K = 4  # hash functions, carved out of the sha256 digest itself


def _bloom_positions(url_hash_hex: str, m_bits: int) -> list[int]:
    """k bit positions from non-overlapping 8-byte slices of the sha256
    hex url_hash — no extra hashing needed, identical everywhere."""
    return [int(url_hash_hex[16 * i : 16 * (i + 1)], 16) % m_bits for i in range(BLOOM_K)]


def _shard_of(url_hash_hex: str, n_shards: int) -> int:
    return int(url_hash_hex[:8], 16) % n_shards


@dataclass
class BloomFilter:
    """Sharded Bloom filter over url_hash hex strings."""

    n_shards: int
    m_bits: int
    shards: dict[int, bytearray]

    @classmethod
    def empty(cls, n_shards: int = 64, m_bits: int = 1 << 20) -> "BloomFilter":
        return cls(n_shards=n_shards, m_bits=m_bits, shards={})

    def add_many(self, hashes) -> None:
        for h in hashes:
            s = _shard_of(h, self.n_shards)
            buf = self.shards.get(s)
            if buf is None:
                buf = bytearray(self.m_bits // 8)
                self.shards[s] = buf
            for pos in _bloom_positions(h, self.m_bits):
                buf[pos >> 3] |= 1 << (pos & 7)

    def might_contain(self, h: str) -> bool:
        buf = self.shards.get(_shard_of(h, self.n_shards))
        if buf is None:
            return False
        return all(buf[p >> 3] & (1 << (p & 7)) for p in _bloom_positions(h, self.m_bits))

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert (self.n_shards, self.m_bits) == (other.n_shards, other.m_bits)
        out = dict(self.shards)
        for s, buf in other.shards.items():
            if s in out:
                merged = bytearray(out[s])
                for i, b in enumerate(buf):
                    merged[i] |= b
                out[s] = merged
            else:
                out[s] = bytearray(buf)
        return BloomFilter(self.n_shards, self.m_bits, out)

    def to_rows(self) -> list[tuple[int, bytes]]:
        return [(s, bytes(b)) for s, b in sorted(self.shards.items())]

    @classmethod
    def from_rows(cls, rows, n_shards: int, m_bits: int) -> "BloomFilter":
        return cls(n_shards, m_bits, {int(s): bytearray(b) for s, b in rows})


def _shard_expr(hash_col: str, n_shards: int):
    return (F.conv(F.substring(hash_col, 1, 8), 16, 10).cast("long") % n_shards).cast("int")


def _or_bits(bufs):
    """OR-merge a collection of equal-length bitset buffers into one
    numpy array. Mixed lengths mean deltas from different bloom_bits
    generations were unioned — fail with the cause instead of numpy's
    opaque broadcast error (the rounds-level compatibility gate should
    have routed such state to a rebuild)."""
    import numpy as np

    sizes = {len(b) for b in bufs}
    if len(sizes) > 1:
        raise ValueError(
            f"mixed bloom m_bits in one shard: {sorted(sizes)} bytes — "
            "bloom deltas from different bloom_bits configs cannot be "
            "merged; rebuild the filter"
        )
    arr = np.zeros(sizes.pop(), dtype=np.uint8)
    for b in bufs:
        arr |= np.frombuffer(bytes(b), dtype=np.uint8)
    return arr


def build_bloom_df(
    df: DataFrame, hash_col: str = "url_hash", n_shards: int = 64, m_bits: int = 1 << 20
) -> DataFrame:
    """Distributed build: shard-route → per-shard bitset via
    applyInPandas (the UDAF analogue, SURVEY.md §2.11) → (shard, bits)
    rows, fully distributed. This is the canonical form the round
    snapshots persist; nothing here touches the driver."""

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        buf = bytearray(m_bits // 8)
        for h in pdf[hash_col]:
            for pos in _bloom_positions(h, m_bits):
                buf[pos >> 3] |= 1 << (pos & 7)
        return pd.DataFrame({"shard": [int(pdf["_shard"].iloc[0])], "bits": [bytes(buf)]})

    return (
        df.select(hash_col)
        .withColumn("_shard", _shard_expr(hash_col, n_shards))
        .groupBy("_shard")
        .applyInPandas(build_shard, schema="shard int, bits binary")
    )


def build_bloom(
    df: DataFrame, hash_col: str = "url_hash", n_shards: int = 64, m_bits: int = 1 << 20
) -> BloomFilter:
    """Driver-side BloomFilter object (the broadcast fast path for
    small filters). The collect moves only n_shards × m_bits/8 bytes,
    never URLs — at 10^10-URL sizing use the sharded DataFrame form
    (:func:`build_bloom_df` + :func:`filter_unseen` with a DataFrame)
    instead."""
    rows = build_bloom_df(df, hash_col, n_shards, m_bits).collect()
    return BloomFilter.from_rows([(r["shard"], r["bits"]) for r in rows], n_shards, m_bits)


def fold_bloom_df(bloom_df: DataFrame) -> DataFrame:
    """OR-merge per-round (shard, bits) delta rows into one row per
    shard — the distributed analogue of BloomFilter.merge, used by
    compaction so the full filter is never assembled on the driver."""
    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = _or_bits(pdf["bits"])
        return pd.DataFrame({"shard": [int(pdf["shard"].iloc[0])], "bits": [arr.tobytes()]})

    return bloom_df.groupBy("shard").applyInPandas(fold, schema="shard int, bits binary")


def _split_on_bloom(tagged: DataFrame, seen: DataFrame, hash_col: str) -> DataFrame:
    """definite-new rows skip the exact join; "maybe seen" rows pay the
    left_anti (J3). False positives only cost a join row, never a lost
    URL."""
    definite_new = tagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    maybe = tagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    resolved_new = maybe.join(seen.select(hash_col), hash_col, "left_anti")
    return definite_new.unionByName(resolved_new)


def filter_unseen_sharded(
    candidates: DataFrame,
    seen: DataFrame,
    bloom_df: DataFrame,
    hash_col: str = "url_hash",
    n_shards: int = 64,
    probe_acc=None,
) -> DataFrame:
    """Sharded Bloom application — the 10^10-frontier path. The filter
    stays a DISTRIBUTED (shard, bits) table (per-round deltas straight
    from the snapshots, not pre-merged): candidates hash-route to their
    shard and a cogrouped applyInPandas tests each shard's candidates
    against ONLY that shard's bitsets, OR-merging the deltas inside the
    task. Peak filter memory per task is one shard (m_bits/8 bytes, 12
    MB at the module's 10^10 sizing) — never the 12.5 GB whole filter,
    which the broadcast fast path would put on the driver AND every
    executor. m_bits is inferred from the stored bits length, so the
    caller only supplies the routing shard count.

    The filter passed in must be COMPLETE (cover every seen URL ≤ the
    round): a shard group with candidates but no bits rows then truly
    holds no seen URLs, so definite-new is sound. An entirely EMPTY
    bloom_df is a caller error against a non-empty seen set —
    :func:`filter_unseen` guards that case by falling back to the
    exact anti-join, mirroring its empty-BloomFilter dispatch.

    ``probe_acc``: optional Spark accumulator; each task adds the bytes
    it materialized for its shard's merged bitset (test instrumentation
    for the O(1-shard) memory contract)."""
    tagged = tag_maybe_seen_sharded(
        candidates, bloom_df, hash_col=hash_col, n_shards=n_shards,
        probe_acc=probe_acc,
    )
    return _split_on_bloom(tagged, seen, hash_col)


def tag_maybe_seen_sharded(
    candidates: DataFrame,
    bloom_df: DataFrame,
    hash_col: str = "url_hash",
    n_shards: int = 64,
    probe_acc=None,
) -> DataFrame:
    """The sharded-probe core of :func:`filter_unseen_sharded`, usable
    on its own: adds boolean ``_maybe_seen`` per candidate by testing
    ``hash_col`` against ONLY its shard's bitsets in a cogrouped
    applyInPandas (O(1-shard) peak memory per task). Callers that want
    HITS rather than unseen rows (e.g. Bloom-gated decontamination,
    where a positive means "pays the exact join") filter on the tag
    directly instead of going through the anti-join split."""
    cand = candidates.withColumn("_shard", _shard_expr(hash_col, n_shards))
    out_schema = StructType(
        list(candidates.schema.fields) + [StructField("_maybe_seen", BooleanType())]
    )

    def check(cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
        out = cand_pdf.drop(columns=["_shard"])
        if len(out) == 0:
            return out.assign(_maybe_seen=pd.Series([], dtype=bool))
        if len(bloom_pdf) == 0:
            return out.assign(_maybe_seen=False)
        arr = _or_bits(bloom_pdf["bits"])
        if probe_acc is not None:
            probe_acc.add(int(arr.nbytes))
        mb = arr.nbytes * 8

        def might(h: str) -> bool:
            for i in range(BLOOM_K):
                p = int(h[16 * i : 16 * (i + 1)], 16) % mb
                if not arr[p >> 3] & (1 << (p & 7)):
                    return False
            return True

        return out.assign(_maybe_seen=[might(h) for h in out[hash_col]])

    return (
        cand.groupBy("_shard")
        .cogroup(bloom_df.groupBy(F.col("shard").cast("int").alias("shard")))
        .applyInPandas(check, schema=out_schema)
    )


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: "BloomFilter | DataFrame | None",
    spark: SparkSession,
    hash_col: str = "url_hash",
    n_shards: int = 64,
) -> DataFrame:
    """Drop candidates already fetched. The Bloom prefilter splits off
    definite-new rows so only "maybe seen" rows pay the exact left_anti
    join (J3) — at 10^10-frontier scale that join's left side shrinks
    by ~the new-URL fraction plus the <1% false-positive rate.

    ``bloom`` dispatch: a driver-side :class:`BloomFilter` is broadcast
    (small-filter fast path); a (shard, bits) DataFrame is applied
    shard-partitioned via :func:`filter_unseen_sharded` without ever
    assembling the whole filter in one address space; None = exact
    anti-join only. An EMPTY filter of either form means "no filter" —
    both arms fall back to the exact anti-join, so an empty DataFrame
    can never silently drop the seen-set backstop."""
    if isinstance(bloom, DataFrame):
        if bloom.isEmpty():
            return candidates.join(seen.select(hash_col), hash_col, "left_anti")
        if "table" in bloom.columns:  # cuckoo (shard, m_buckets, table, stash)
            return filter_unseen_cuckoo(
                candidates, seen, bloom, hash_col=hash_col, n_shards=n_shards
            )
        return filter_unseen_sharded(
            candidates, seen, bloom, hash_col=hash_col, n_shards=n_shards
        )
    if bloom is None or not bloom.shards:
        return candidates.join(seen.select(hash_col), hash_col, "left_anti")

    bc = spark.sparkContext.broadcast(bloom)

    @F.pandas_udf(BooleanType())
    def maybe_seen(h: pd.Series) -> pd.Series:
        bf = bc.value
        return h.map(bf.might_contain)

    tagged = candidates.withColumn("_maybe_seen", maybe_seen(F.col(hash_col)))
    return _split_on_bloom(tagged, seen, hash_col)


# ---------------------------------------------------------------------------
# Politeness scheduler (P1–P4)
# ---------------------------------------------------------------------------


def host_budget(round_wall_s: float, delay_ms: int, parallelism: int) -> int:
    """Batch analogue of the LimitRule token bucket: how many fetches
    one host admits in a round of round_wall_s seconds (§7.3.8)."""
    if delay_ms <= 0:
        return max(1, int(round_wall_s * 1000) * max(1, parallelism))
    return max(1, math.floor(round_wall_s * 1000 / delay_ms) * max(1, parallelism))


def allocate_budgets(
    host_stats: DataFrame,
    round_budget: int,
    politeness_cap: int,
    floor: int = 1,
    weight_col: str = "weight",
    queued_col: str = "queued",
) -> DataFrame:
    """(host, quota): proportional-fair per-host page budgets for one
    crawl round — the global-budget layer above host_budget's
    per-host politeness ceiling. Each host gets its weight's share of
    the round budget, floored (so cold hosts keep progressing) and
    clamped by both its queued frontier and the politeness cap:

        quota = min(queued, politeness_cap,
                    max(floor, (round_budget * w) // W))

    `weight_col` must be a LONG (queued-URL count, scaled host rank,
    …): the global sum W is then exact integer arithmetic — the
    allocation is bit-equal at any partitioning, unlike a float-share
    scheme. One O(hosts) agg for W (broadcast back as a one-row
    join), then a pure map-side expression; hosts with nothing queued
    are dropped."""
    w = F.col(weight_col).cast("long")
    tot = host_stats.agg(F.sum(w).alias("_w_total"))
    # integer DIV, not float division: budget*w can pass 2^53 on a
    # 10^10-URL frontier, where double rounding would skew quotas
    share = F.expr("_prod DIV _w_total")
    quota = F.least(
        F.col(queued_col).cast("long"),
        F.lit(int(politeness_cap)).cast("long"),
        F.greatest(F.lit(int(floor)).cast("long"), share),
    )
    return (
        host_stats.filter(F.col(queued_col) > 0)
        .crossJoin(F.broadcast(tot))
        .withColumn("_prod", F.lit(int(round_budget)).cast("long") * w)
        .select("host", quota.alias("quota"))
    )


def _order():
    return [
        F.col("priority").desc(),
        F.col("depth").asc(),
        F.col("discovery_seq").asc(),
        F.col("url_hash").asc(),
    ]


def _salt(n_salts: int):
    """Stage-1 spreading salt: hex chars 57-64 of the url_hash (disjoint
    from the Bloom shard-routing prefix) mod n_salts. Shared by
    pop_batch and pop_split — the tested batch ≡ pop_batch invariant
    depends on both deriving the same salt."""
    return F.pmod(
        F.conv(F.substring("url_hash", 57, 8), 16, 10).cast("long"), F.lit(n_salts)
    )


def pop_batch(frontier: DataFrame, budget_col: str = "budget", n_salts: int = 8) -> DataFrame:
    """Deterministic per-domain top-budget pop (P3), salted two-stage.

    Input must carry a ``budget`` int column (joined from host_state).
    Stage 1 windows over (domain, salt(url_hash)) so a hub domain's rank
    spreads over n_salts reducers; stage 2 takes the exact per-domain
    top-k over ≤ n_salts×budget survivors. Output = rows to fetch this
    round; identical at any parallelism (total order has no ties:
    url_hash is unique)."""
    stage1 = Window.partitionBy("domain", _salt(n_salts)).orderBy(*_order())
    pruned = (
        frontier.withColumn("_r1", F.row_number().over(stage1))
        .filter(F.col("_r1") <= F.col(budget_col))
        .drop("_r1")
    )
    stage2 = Window.partitionBy("domain").orderBy(*_order())
    return (
        pruned.withColumn("_r2", F.row_number().over(stage2))
        .filter(F.col("_r2") <= F.col(budget_col))
        .drop("_r2")
    )


def pop_split(
    frontier: DataFrame, budget_col: str = "budget", n_salts: int = 8,
    over: "tuple[DataFrame, int] | None" = None,
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """pop_batch that also returns the un-popped remainder.

    Same two salted window passes, but both outcomes are filters over
    ONE cached ranking, so the caller never needs the
    O(frontier)-shuffle anti-join (frontier ∖ batch) to rebuild the
    next round's pending set — at 10^10-frontier scale that anti-join
    was a second full shuffle per round. Returns (batch, rest, cached);
    caller unpersists `cached` after the round's writes.

    Degenerate-budget fast path: top-k with k ≥ group size is the
    identity, so when NO domain exceeds its budget the pop admits the
    whole frontier without ranking it — one map-side-combined count
    per domain (cheap partial agg) replaces two full window sorts.
    This is the common shape for wide-open rounds (last BFS tier,
    generous wall budgets). In the binding case only the OVER-budget
    domains (the hot tail — most domains sit under their budget) pay
    the ranking: under-budget domains pass straight into the batch,
    and the salted two-stage window sorts just the hot domains' rows.
    Identical output to ranking everything — per-domain top-k is
    independent across domains and identity for k ≥ n.

    ``over`` is (the over-budget domains, their number) when the caller
    already has them (rounds.CrawlRun does, from the per-domain
    aggregate it collects anyway); None finds them here."""
    if over is None:
        counts = frontier.groupBy("domain").agg(
            F.count("*").alias("_n"), F.min(budget_col).alias("_b")
        )
        # persist the (tiny, domain-only) hot list: it feeds BOTH the
        # n_over count and the broadcast join — without the persist the
        # un-cached frontier is scanned + aggregated twice per round
        hot_list = counts.filter(F.col("_n") > F.col("_b")).select("domain").persist()
        over = hot_list, hot_list.count()
    hot_list, n_over = over
    if n_over == 0:
        hot_list.unpersist()
        return frontier, frontier.limit(0), []
    if n_over <= 1_000_000:
        # split: hot domains ranked, the rest admitted whole (the hot
        # list broadcasts — ~tens of MB worst case at the cap)
        tagged = frontier.join(
            F.broadcast(hot_list.withColumn("_hot", F.lit(True))), "domain", "left"
        ).persist()
        cold = tagged.filter(F.col("_hot").isNull()).drop("_hot")
        hot = tagged.filter(F.col("_hot").isNotNull()).drop("_hot")
        cache = [tagged, hot_list]
    else:
        # nearly every domain is hot (deep politeness-bound crawl):
        # skip the split, rank everything as before
        hot_list.unpersist()
        cold = frontier.limit(0)
        hot = frontier
        cache = []
    stage1 = Window.partitionBy("domain", _salt(n_salts)).orderBy(*_order())
    r1 = hot.withColumn("_r1", F.row_number().over(stage1))
    kept = F.col("_r1") <= F.col(budget_col)
    # stage 2 ranks a domain's stage-1 survivors together; the rows
    # stage 1 dropped stay spread over their salts and never pop
    stage2 = Window.partitionBy(
        "domain", F.when(kept, F.lit(-1)).otherwise(_salt(n_salts))
    ).orderBy(*_order())
    popped = kept & (F.row_number().over(stage2) <= F.col(budget_col))
    # one cached ranking, every row flagged popped or not: batch and
    # rest are filters over it
    ranked = (
        cold.withColumn("_pop", F.lit(True))
        .unionByName(r1.withColumn("_pop", popped).drop("_r1"))
        .persist()
    )
    batch = ranked.filter(F.col("_pop")).drop("_pop")
    rest = ranked.filter(~F.col("_pop")).drop("_pop")
    return batch, rest, cache + [ranked]


def apply_rules(frontier: DataFrame, rules: list[dict] | None) -> DataFrame:
    """F8 allow/deny rules: highest-priority matching rule wins; no
    match → allow (the reference validates but never evaluates rules —
    internal/config/types/rules.go:6-38 / SURVEY.md §7.3.7 — so the
    default empty rule list reproduces reference behavior exactly)."""
    if not rules:
        return frontier
    verdict = F.lit(None).cast("string")
    for r in sorted(rules, key=lambda r: -int(r.get("priority", 5))):
        verdict = F.coalesce(
            verdict,
            F.when(F.col("url").rlike(r["pattern"]), F.lit(r["action"])),
        )
    return frontier.withColumn("_verdict", F.coalesce(verdict, F.lit("allow"))).filter(
        F.col("_verdict") == "allow"
    ).drop("_verdict")


def politeness_audit(
    fetch_log: DataFrame,
    min_delay_us: int,
    host_col: str = "host",
    ts_col: str = "ts_us",
    url_col: str = "url",
) -> DataFrame:
    """Politeness-compliance audit over a fetch log — did the crawl
    actually honor the per-host delay it promised? The reference
    enforces its rate limit inside the collector
    (/root/reference/internal/crawler/crawler.go — colly RandomDelay /
    Parallelism); this is the *post-hoc* verification a crawl operator
    runs over the emitted fetch log before publishing a crawl.

    Output, one row per host: (host, n_fetches, min_gap_us,
    n_violations) where gaps are consecutive same-host fetch
    intervals in the (ts, url) order — deterministic under ts ties —
    min_gap_us is NULL for single-fetch hosts, and a violation is a
    gap strictly below ``min_delay_us``.

    Scale shape: ONE lag window per host partition (sort-based, O(1)
    state per row — never a per-host collect), then a host-keyed
    partial-agg groupBy. Per-host partition size is bounded by the
    crawl's own politeness budget (cfg.host_budget × rounds), the same
    invariant the audit verifies, so the window sort cannot see an
    unbounded hot key on a log the crawler itself produced.
    """
    w = Window.partitionBy(host_col).orderBy(ts_col, url_col)
    gap = F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w)
    return (
        fetch_log.withColumn("_gap", gap)
        .groupBy(F.col(host_col).alias("host"))
        .agg(
            F.count("*").alias("n_fetches"),
            F.min("_gap").alias("min_gap_us"),
            F.sum(
                F.when(F.col("_gap") < F.lit(int(min_delay_us)), 1).otherwise(0)
            ).cast("long").alias("n_violations"),
        )
    )


def aimd_delays(
    outcomes: DataFrame,
    base_delay_ms: int = 500,
    min_delay_ms: int = 100,
    max_delay_ms: int = 60_000,
    dec_ms: int = 100,
    host_col: str = "host",
    ts_col: str = "ts_us",
    ok_col: str = "ok",
) -> DataFrame:
    """AIMD (additive-increase/multiplicative-decrease of the fetch
    RATE, i.e. additive-decrease/multiplicative-increase of the
    DELAY) per-host politeness adaptation — the TCP-congestion-control
    move applied to crawling: each successful fetch shaves ``dec_ms``
    off the host's delay (down to ``min_delay_ms``); each failure
    (timeout, 429, 5xx) DOUBLES it (up to ``max_delay_ms``). The
    reference fixes its delay per LimitRule for the whole run
    (/root/reference/internal/crawler/crawler.go — colly RandomDelay);
    at open-web scale hosts differ by orders of magnitude in capacity,
    and AIMD converges each host to the fastest polite rate without
    any per-host configuration.

    ``outcomes`` is the round's fetch log: (host, ts_us, ok:boolean).
    Output, one row per host: (host, delay_ms, n_ok, n_err) where
    delay_ms is the fold of the AIMD update over the host's outcomes
    in (ts_us, ok) order, starting from ``base_delay_ms``. Feed it
    into the next round via :func:`aimd_policy` → CrawlRun(
    host_policy=...).

    Cross-engine-exact and order-deterministic: all-LONG arithmetic,
    the outcome sequence is value-sorted (ties carry the ok flag as
    tiebreak, and equal elements are interchangeable under the fold).
    Aggregation state is O(outcomes-per-host-per-round) — bounded by
    the politeness budget the crawl itself enforces (host_budget ×
    parallelism), the same invariant politeness_audit verifies, so a
    hot host cannot blow up the fold state.
    """
    oks = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(ts_col).cast("long").alias("ts"),
                    F.col(ok_col).cast("int").alias("ok"),
                )
            )
        ),
        lambda s: s.ok,
    )
    fold = F.aggregate(
        oks,
        F.lit(int(base_delay_ms)).cast("long"),
        lambda acc, ok: F.when(
            ok == 1, F.greatest(F.lit(int(min_delay_ms)).cast("long"), acc - dec_ms)
        ).otherwise(
            F.least(F.lit(int(max_delay_ms)).cast("long"), acc * 2)
        ),
    )
    return outcomes.groupBy(F.col(host_col).alias("host")).agg(
        fold.alias("delay_ms"),
        F.sum(F.col(ok_col).cast("long")).alias("n_ok"),
        (F.count("*") - F.sum(F.col(ok_col).cast("long"))).alias("n_err"),
    )


def aimd_policy(delays: DataFrame, parallelism: int = 1) -> DataFrame:
    """aimd_delays output → CrawlRun ``host_policy`` shape
    (domain, delay_ms, parallelism): the adaptive delays slot into the
    same per-host override mechanism as robots Crawl-delay and static
    LimitRules, so all three compose on one code path."""
    return delays.select(
        F.col("host").alias("domain"),
        F.col("delay_ms"),
        F.lit(int(parallelism)).alias("parallelism"),
    )


# ---------------------------------------------------------------------------
# Cuckoo seen-filter (deletion-capable alternative to the Bloom shards)
# ---------------------------------------------------------------------------
#
# Same sharded layout and application shape as the Bloom filter above
# (shard-routed build via applyInPandas, cogrouped O(1-shard) probes),
# with the one capability Bloom structurally lacks: DELETION. A purge
# (blocklisted host, takedown, forced re-crawl) removes URLs from the
# seen filter in one shard-local pass instead of rebuilding the whole
# 10^10-URL filter. Design follows Fan et al., "Cuckoo Filter:
# Practically Better Than Bloom" (CoNEXT 2014): b-slot buckets of
# f-bit fingerprints, partner bucket i2 = i1 XOR h(fp) (symmetric, so
# either index recovers the pair). Two engineering choices keep the
# seen-filter contract exact:
#   * duplicate (bucket, fp) copies are STORED, not coalesced — so
#     deleting URL A can never un-see a colliding URL B;
#   * inserts that still fail after MAX_KICKS deterministic evictions
#     go to a per-shard STASH — a cuckoo filter's insert failure would
#     otherwise become a FALSE NEGATIVE (a re-fetched URL), which the
#     crawl's seen-set contract cannot tolerate.
# Build order and eviction choices are fully deterministic (sorted
# input, rotation kick slot), so the table bytes are bit-equal across
# parallelism levels like every other snapshot artifact.

CUCKOO_B = 4  # slots per bucket
_CUCKOO_MAX_KICKS = 500


def _cuckoo_fp(h: str) -> int:
    """16-bit fingerprint from an untouched slice of the sha256 hex
    (chars 32:36 — disjoint from the shard router and bucket index),
    0 remapped to 1 so 0 can mean 'empty slot'."""
    return int(h[32:36], 16) or 1


def _cuckoo_i1(h: str, m_buckets: int) -> int:
    return int(h[8:16], 16) & (m_buckets - 1)


def _cuckoo_partner(i: int, fp: int, m_buckets: int) -> int:
    # splittable odd-constant hash of the fingerprint; & (m-1) needs
    # m_buckets to be a power of two (asserted at build)
    return i ^ ((fp * 0x9E3779B1 >> 8) & (m_buckets - 1))


def _cuckoo_insert(tbl, stash: list, i1: int, fp: int, m_buckets: int) -> None:
    """Deterministic insert with rotation eviction; overflow → stash.
    `tbl` is an (m_buckets, CUCKOO_B) uint16 ndarray."""
    import numpy as np  # noqa: F401 — tbl is ndarray

    i2 = _cuckoo_partner(i1, fp, m_buckets)
    for i in (i1, i2):
        row = tbl[i]
        for s in range(CUCKOO_B):
            if row[s] == 0:
                row[s] = fp
                return
    # evict: start from i1, rotate the kicked slot deterministically
    i, cur = i1, fp
    for kick in range(_CUCKOO_MAX_KICKS):
        s = kick % CUCKOO_B
        cur, tbl[i][s] = int(tbl[i][s]), cur
        i = _cuckoo_partner(i, cur, m_buckets)
        row = tbl[i]
        for s2 in range(CUCKOO_B):
            if row[s2] == 0:
                row[s2] = cur
                return
    # table saturated around this orbit — stash the displaced entry
    # (key is (bucket-at-stash-time, fp): the partner XOR is symmetric,
    # so membership from the true hash still finds it)
    stash.append((i << 16) | cur)


def _cuckoo_lookup_many(hashes, tbl, stash_arr, m_buckets: int):
    """Vectorized membership for a list of url_hash hex strings against
    one shard's (table, stash)."""
    import numpy as np

    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    fp = np.array([_cuckoo_fp(h) for h in hashes], dtype=np.uint16)
    i1 = np.array([_cuckoo_i1(h, m_buckets) for h in hashes], dtype=np.int64)
    i2 = i1 ^ (((fp.astype(np.int64) * 0x9E3779B1) >> 8) & (m_buckets - 1))
    hit = (tbl[i1] == fp[:, None]).any(axis=1) | (tbl[i2] == fp[:, None]).any(axis=1)
    if stash_arr.size:
        k1 = (i1 << 16) | fp
        k2 = (i2 << 16) | fp
        hit |= np.isin(k1, stash_arr) | np.isin(k2, stash_arr)
    return hit


def build_cuckoo_df(
    df: DataFrame,
    hash_col: str = "url_hash",
    n_shards: int = 64,
    m_buckets: int = 1 << 16,
) -> DataFrame:
    """Distributed cuckoo build: shard-route → per-shard (table, stash)
    via applyInPandas → (shard, m_buckets, table, stash) rows. Mirrors
    :func:`build_bloom_df`; nothing touches the driver. Table bytes are
    m_buckets × CUCKOO_B × 2 (16 MB per shard at 2^21 buckets — the
    10^10-URL sizing, same per-task ceiling as the Bloom shards)."""
    if m_buckets & (m_buckets - 1):
        raise ValueError(f"m_buckets must be a power of two, got {m_buckets}")

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        tbl = np.zeros((m_buckets, CUCKOO_B), dtype=np.uint16)
        stash: list[int] = []
        for h in sorted(pdf[hash_col]):
            _cuckoo_insert(tbl, stash, _cuckoo_i1(h, m_buckets), _cuckoo_fp(h), m_buckets)
        return pd.DataFrame(
            {
                "shard": [int(pdf["_shard"].iloc[0])],
                "m_buckets": [m_buckets],
                "table": [tbl.tobytes()],
                "stash": [np.array(sorted(stash), dtype=np.uint32).tobytes()],
            }
        )

    return (
        df.select(hash_col)
        .withColumn("_shard", _shard_expr(hash_col, n_shards))
        .groupBy("_shard")
        .applyInPandas(
            build_shard,
            schema="shard int, m_buckets int, table binary, stash binary",
        )
    )


def _cuckoo_entries(tbl, stash_arr, m_buckets: int):
    """(bucket, fp) multiset of one shard — the fold/delete currency.
    A table entry's bucket is i1 or i2; the partner XOR is symmetric,
    so re-inserting with the stored bucket as 'i1' preserves exactly
    the original {i1, i2} candidate pair."""
    import numpy as np

    b, s = np.nonzero(tbl)
    keys = (b.astype(np.int64) << 16) | tbl[b, s].astype(np.int64)
    return np.concatenate([keys, stash_arr.astype(np.int64)])


def fold_cuckoo_df(cuckoo_df: DataFrame) -> DataFrame:
    """Merge per-round cuckoo deltas into ONE (table, stash) per shard:
    extract every delta's (bucket, fp) entries and re-insert into a
    fresh table, shard-local (the analogue of fold_bloom_df — cuckoo
    tables don't OR, but their entry multisets union losslessly)."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        mbs = set(int(m) for m in pdf["m_buckets"])
        if len(mbs) > 1:
            raise ValueError(
                f"mixed m_buckets in one shard: {sorted(mbs)} — rebuild"
            )
        m_buckets = mbs.pop()
        keys: list[int] = []
        for t, st in zip(pdf["table"], pdf["stash"]):
            tbl = np.frombuffer(bytes(t), dtype=np.uint16).reshape(m_buckets, CUCKOO_B)
            keys.extend(
                _cuckoo_entries(tbl, np.frombuffer(bytes(st), dtype=np.uint32), m_buckets)
            )
        tbl = np.zeros((m_buckets, CUCKOO_B), dtype=np.uint16)
        stash: list[int] = []
        for k in sorted(keys):
            _cuckoo_insert(tbl, stash, int(k) >> 16, int(k) & 0xFFFF, m_buckets)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "m_buckets": [m_buckets],
                "table": [tbl.tobytes()],
                "stash": [np.array(sorted(stash), dtype=np.uint32).tobytes()],
            }
        )

    return cuckoo_df.groupBy("shard").applyInPandas(
        fold, schema="shard int, m_buckets int, table binary, stash binary"
    )


def cuckoo_delete_df(
    cuckoo_df: DataFrame,
    deletes: DataFrame,
    hash_col: str = "url_hash",
    n_shards: int = 64,
) -> DataFrame:
    """Remove URLs from the filter — the operation Bloom cannot do.
    Deletes cogroup to their shard; each task folds that shard's deltas
    and removes ONE stored copy per deleted hash (duplicate copies from
    colliding URLs survive, so no other URL is ever un-seen). Hashes
    never inserted are a shard-local no-op. Returns the updated
    (shard, m_buckets, table, stash) rows."""

    def apply_deletes(cu_pdf: pd.DataFrame, del_pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(cu_pdf) == 0:
            return pd.DataFrame(
                {"shard": [], "m_buckets": [], "table": [], "stash": []}
            ).astype({"shard": "int32", "m_buckets": "int32"})
        folded = cu_pdf
        m_buckets = int(folded["m_buckets"].iloc[0])
        keys: list[int] = []
        for t, st in zip(folded["table"], folded["stash"]):
            tbl = np.frombuffer(bytes(t), dtype=np.uint16).reshape(m_buckets, CUCKOO_B)
            keys.extend(
                _cuckoo_entries(tbl, np.frombuffer(bytes(st), dtype=np.uint32), m_buckets)
            )
        remaining = sorted(int(k) for k in keys)
        for h in sorted(del_pdf[hash_col].dropna()):
            fp = _cuckoo_fp(h)
            i1 = _cuckoo_i1(h, m_buckets)
            i2 = _cuckoo_partner(i1, fp, m_buckets)
            for key in ((i1 << 16) | fp, (i2 << 16) | fp):
                try:
                    remaining.remove(key)
                    break
                except ValueError:
                    continue
        tbl = np.zeros((m_buckets, CUCKOO_B), dtype=np.uint16)
        stash: list[int] = []
        for k in remaining:
            _cuckoo_insert(tbl, stash, k >> 16, k & 0xFFFF, m_buckets)
        return pd.DataFrame(
            {
                "shard": [int(folded["shard"].iloc[0])],
                "m_buckets": [m_buckets],
                "table": [tbl.tobytes()],
                "stash": [np.array(sorted(stash), dtype=np.uint32).tobytes()],
            }
        )

    dels = deletes.select(hash_col).withColumn("_shard", _shard_expr(hash_col, n_shards))
    return (
        cuckoo_df.groupBy(F.col("shard").cast("int").alias("shard"))
        .cogroup(dels.groupBy("_shard"))
        .applyInPandas(
            apply_deletes,
            schema="shard int, m_buckets int, table binary, stash binary",
        )
    )


def filter_unseen_cuckoo(
    candidates: DataFrame,
    seen: DataFrame,
    cuckoo_df: DataFrame,
    hash_col: str = "url_hash",
    n_shards: int = 64,
    probe_acc=None,
) -> DataFrame:
    """Sharded cuckoo application — identical contract and plan shape
    to :func:`filter_unseen_sharded`: candidates cogroup against ONLY
    their shard's (table, stash) rows (per-round deltas checked
    delta-by-delta, no pre-fold needed — membership in any delta is
    membership), definite-new rows skip the exact anti-join, maybe-seen
    rows pay it. Peak per-task filter bytes = one shard's tables
    (``probe_acc`` instruments that, as in the Bloom twin)."""
    cand = candidates.withColumn("_shard", _shard_expr(hash_col, n_shards))
    out_schema = StructType(
        list(candidates.schema.fields) + [StructField("_maybe_seen", BooleanType())]
    )

    def check(cand_pdf: pd.DataFrame, cu_pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        out = cand_pdf.drop(columns=["_shard"])
        if len(out) == 0:
            return out.assign(_maybe_seen=pd.Series([], dtype=bool))
        if len(cu_pdf) == 0:
            return out.assign(_maybe_seen=False)
        hashes = list(out[hash_col])
        hit = np.zeros(len(hashes), dtype=bool)
        for _, row in cu_pdf.iterrows():
            m_buckets = int(row["m_buckets"])
            tbl = np.frombuffer(bytes(row["table"]), dtype=np.uint16).reshape(
                m_buckets, CUCKOO_B
            )
            if probe_acc is not None:
                probe_acc.add(int(tbl.nbytes))
            stash_arr = np.frombuffer(bytes(row["stash"]), dtype=np.uint32)
            hit |= _cuckoo_lookup_many(hashes, tbl, stash_arr, m_buckets)
        return out.assign(_maybe_seen=hit)

    tagged = (
        cand.groupBy("_shard")
        .cogroup(cuckoo_df.groupBy(F.col("shard").cast("int").alias("shard")))
        .applyInPandas(check, schema=out_schema)
    )
    return _split_on_bloom(tagged, seen, hash_col)


# ---------------------------------------------------------------------------
# IP-colocation politeness (server-level budgets)
# ---------------------------------------------------------------------------


def ip_block_expr(ip_col, prefix_octets: int = 3):
    """Dotted-IPv4 → block key: the first `prefix_octets` octets (3 →
    /24). Codegen split/slice/join, no UDF."""
    c = F.col(ip_col) if isinstance(ip_col, str) else ip_col
    return F.array_join(
        F.slice(F.split(c, r"\."), 1, prefix_octets), "."
    )


def colocated_budgets(
    host_stats: DataFrame,
    resolutions: DataFrame,
    server_cap: int,
    prefix_octets: int = 3,
    floor: int = 1,
    queued_col: str = "queued",
) -> DataFrame:
    """Server-level politeness: hosts whose DNS resolutions land in one
    /24 block share ONE fetch budget — the defense against vanity-
    domain farms (thousands of hostnames, one physical server) that
    per-HOST token buckets cannot see. Each block's `server_cap` is
    split across its hosts proportionally to queued depth:

        quota = min(queued, max(floor, (server_cap*queued) DIV block_queued))

    Output: (host, ip_block, queued, quota). Hosts absent from
    `resolutions` fall back to a per-host block (no sharing), so an
    incomplete DNS table degrades to plain host politeness.

    Scale shape: `resolutions` is #hosts rows; both joins are host-/
    block-keyed equi-joins (AQE picks broadcast when the table is
    small), the block rollup is ≤#hosts rows, and the split is exact
    integer arithmetic — bit-equal at any partitioning, like
    allocate_budgets.
    """
    res = resolutions.select(
        "host", ip_block_expr("ip", prefix_octets).alias("ip_block")
    )
    j = (
        host_stats.select("host", F.col(queued_col).cast("long").alias("queued"))
        .join(res, "host", "left")
        .withColumn(
            "ip_block",
            F.coalesce(F.col("ip_block"), F.concat(F.lit("host:"), F.col("host"))),
        )
    )
    blocks = j.groupBy("ip_block").agg(
        F.sum("queued").alias("block_queued")
    )
    quota = F.least(
        F.col("queued"),
        F.greatest(
            F.lit(int(floor)).cast("long"), F.expr("_prod DIV block_queued")
        ),
    )
    return (
        j.join(blocks, "ip_block")
        .withColumn("_prod", F.lit(int(server_cap)).cast("long") * F.col("queued"))
        .select("host", "ip_block", "queued", quota.alias("quota"))
    )


def rendezvous_shard(df, key_col: str, n_shards: int, out_col: str = "shard"):
    """Rendezvous (highest-random-weight) shard assignment: key k goes
    to argmax_s md5(k || ':' || s) — when the shard count changes,
    only ~1/(n+1) of keys move (vs (n-1)/n for `hash % n`), so a
    frontier/seen-store resize re-shuffles a sliver of 10^10 URLs
    instead of nearly all of them. Deterministic: the md5 weight is a
    pure function of (key, shard), ties impossible in practice and
    broken by lower shard id.

    One codegen'd expression (an array fold over n_shards md5 calls) —
    no shuffle, no UDF; n_shards is config-sized."""
    from pyspark.sql import functions as F

    c = F.col(key_col)
    weights = F.transform(
        F.sequence(F.lit(0), F.lit(int(n_shards) - 1)),
        lambda s: F.struct(
            F.md5(F.concat(c, F.lit(":"), s.cast("string"))).alias("w"),
            s.cast("long").alias("s"),
        ),
    )
    best = F.array_max(weights)
    return df.withColumn(out_col, best["s"])
