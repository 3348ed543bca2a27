"""Seeded input generation. Every input a workload feeds the program is
a pure function of the workload seed; the program sees only these.

The documents table has the shape of the ``documents`` parquet that
``synth.corpus_from_documents`` reads (doc_id, text, lang) and the size
of the sf0.1 table (5,000 documents, 10-100 words each). Words follow a
Zipf law over a 3,000-word vocabulary, so search queries range from
terms in nearly every document to terms in none.
"""

from __future__ import annotations

import os
import random
import string

import pandas as pd

# documents per corpus: the sf0.1 size, and the self-test's small size
N_DOCS = {"full": 5000, "small": 400}
VOCAB_SIZE = 3000
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
# words every synthetic page carries (synth's template and padding)
TEMPLATE_WORDS = ("synthetic", "document", "quick", "published", "reporter")


def vocabulary() -> list[str]:
    """Fixed vocabulary (independent of the workload seed), rank order:
    rank 0 is the most frequent word. Letters only, so every word is
    one analyzer token."""
    rng = random.Random(0x5EED)
    words: list[str] = []
    seen = set(TEMPLATE_WORDS)
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choices(string.ascii_lowercase, k=rng.randint(4, 9)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    rng = random.Random(seed)
    vocab = vocabulary()
    weights = [1.0 / (r + 1) for r in range(len(vocab))]
    rows = []
    for doc_id in range(n_docs):
        words = rng.choices(vocab, weights, k=rng.randint(10, 100))
        rows.append((doc_id, " ".join(words), rng.choice(LANGS)))
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang"])


def write_documents(docs: pd.DataFrame, sf_dir: str) -> None:
    """Write ``docs`` as ``<sf_dir>/documents.parquet``, the table
    ``synth.corpus_from_documents`` reads."""
    os.makedirs(sf_dir, exist_ok=True)
    docs.to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False)


def build_corpus(spark, sf_dir: str, out_dir: str, hosts=("",), parts: int = 8,
                 seed: int = 0):
    """The ``pages_corpus`` table ``synth.corpus_from_documents`` makes
    from ``<sf_dir>/documents.parquet``, written to ``out_dir`` as
    parquet (so the crawl reads stored pages rather than re-rendering
    them each round) and read back. Each entry of ``hosts`` is a replica
    prefix (``"r3."``) put in front of every URL's host; rows are spread
    over ``parts`` files by a seeded hash of the URL."""
    from pyspark.sql import functions as F

    from gocrawl_spark import synth

    base = synth.corpus_from_documents(spark, sf_dir)
    out = None
    for prefix in hosts:
        rep = base.withColumn(
            "url", F.concat(F.lit("https://" + prefix), F.expr("substring(url, 9)")))
        out = rep if out is None else out.unionByName(rep)
    out.repartition(parts, F.xxhash64("url", F.lit(seed))).write.parquet(out_dir)
    return spark.read.parquet(out_dir)


def corpus_urls(n_docs: int, hosts=("",)) -> list[str]:
    """The URLs ``build_corpus`` writes, in host order."""
    from gocrawl_spark import synth

    return ["https://" + prefix + synth.url_of(i)[len("https://"):]
            for prefix in hosts for i in range(n_docs)]


def bfs_seed_ids(seed: int, n_docs: int, k: int, attempt: int = 0) -> list[int]:
    return random.Random((seed * 7919 + 1) * 1000 + attempt).sample(range(n_docs), k)


def replica_order(seed: int, replicas: int) -> list[int]:
    order = list(range(replicas))
    random.Random(seed * 31 + 2).shuffle(order)
    return order


# query patterns, one term class per term: C = common (vocabulary rank
# < 20 or a template word), M = mid (rank 50-400), R = rare (rank
# 1500+), Z = a word in no document. Every pattern runs on both
# indices, so the stream has a fixed mix whatever the seed.
PATTERNS = ("C", "CC", "M", "MMM", "R", "RR", "Z", "CMZ")


def _term(rng: random.Random, cls: str, vocab: list[str]) -> str:
    if cls == "C":
        return rng.choice(vocab[:20] + list(TEMPLATE_WORDS))
    if cls == "M":
        return rng.choice(vocab[50:400])
    if cls == "R":
        return rng.choice(vocab[1500:])
    known = set(vocab)
    while True:
        w = "zq" + "".join(rng.choices(string.ascii_lowercase, k=6))
        if w not in known:
            return w


def queries(seed: int, salt: int = 0) -> list[tuple[str, str]]:
    """Distinct (index, query) pairs: every pattern on both indices."""
    rng = random.Random(seed * 104729 + salt)
    vocab = vocabulary()
    out = []
    for index in ("articles", "pages"):
        for pat in PATTERNS:
            out.append((index, " ".join(_term(rng, c, vocab) for c in pat)))
    return out


def warmup_queries(seed: int, sets: int = 1) -> list[tuple[str, str]]:
    """``sets`` further draws of every pattern on both indices, leaving
    out any (index, query) pair the measured stream asks."""
    measured = set(queries(seed))
    return [q for k in range(1, sets + 1) for q in queries(seed, salt=1000 + k)
            if q not in measured]


def query_stream(seed: int, distinct: list, n: int) -> list[int]:
    """Indices into ``distinct``: whole shuffled passes over it, so every
    distinct query recurs and the mix is the same in every window."""
    rng = random.Random(seed * 15485863 + 3)
    out: list[int] = []
    while len(out) < n:
        block = list(range(len(distinct)))
        rng.shuffle(block)
        out.extend(block)
    return out[:n]
