"""Independent oracles for the benchmark's outputs, in plain Python.

- extraction: article bodies and page contents must equal synth's
  string-template oracles byte for byte;
- the BFS seen map must equal a politeness-BFS simulator (the same
  semantics as the crawl e2e test's reference simulator, kept here
  with its own URL helpers);
- search results must equal a term-frequency reference with its own
  copy of the analyzer regex.

Each check returns a list of mismatch descriptions; empty means correct.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from urllib.parse import urljoin, urlsplit

from gocrawl_spark import synth

SEQ_STRIDE = 1024
JUNK_PREFIXES = ("#", "javascript:", "mailto:", "tel:")
ANALYZER = re.compile(r"[^\W_]+(?:['’][^\W_]+)*", re.UNICODE)


def doc_id_of(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


# ------------------------------------------------------------ extraction
def check_extracted(rows, texts: dict[int, str]) -> list[str]:
    """rows: (url, content_type, article_body, page_content)."""
    bad = []
    for url, ctype, body, content in rows:
        doc_id = doc_id_of(url)
        text = texts[doc_id]
        if ctype == "article":
            if body != synth.expected_article_body(doc_id, text):
                bad.append(f"article body differs: {url}")
        elif content != synth.expected_page_content(doc_id, text):
            bad.append(f"page content differs: {url}")
    return bad


def check_fetched_once(urls: list[str], expected: set[str]) -> list[str]:
    bad = [f"fetched {n} times: {u}" for u, n in Counter(urls).items() if n != 1]
    missing = expected - set(urls)
    extra = set(urls) - expected
    bad += [f"never fetched: {u}" for u in sorted(missing)[:20]]
    bad += [f"fetched but not in corpus: {u}" for u in sorted(extra)[:20]]
    if len(missing) > 20:
        bad.append(f"... {len(missing) - 20} more never fetched")
    return bad


# ------------------------------------------------------------- BFS crawl
def _sha(u: str) -> str:
    return hashlib.sha256(u.encode()).hexdigest()


def _host(url: str) -> str:
    try:
        return urlsplit(url).hostname or ""
    except ValueError:
        return ""


def _absolutize(base: str, href: str) -> str:
    if not href or href.startswith("#"):
        return ""
    try:
        u = urljoin(base, href)
    except ValueError:
        return ""
    if not u.startswith(("http://", "https://")):
        return ""
    return u.split("#", 1)[0]


def _valid(url: str) -> bool:
    try:
        p = urlsplit(url)
    except ValueError:
        return False
    return bool(p.scheme and p.netloc)


def simulate_bfs(seeds: list[str], n_docs: int, budget: int, max_depth: int,
                 max_rounds: int) -> dict[str, int]:
    """Politeness BFS: each round every host pops its ``budget`` best
    frontier rows by (priority desc, depth, discovery_seq, url_hash);
    children get seq = parent_seq * 1024 + link position and dedup to
    the earliest (depth, seq). Returns the seen map {url_hash:
    fetched_round}; the round a URL was popped in encodes the pop order."""
    url_set = {synth.url_of(i) for i in range(n_docs)}
    frontier = {}
    for i, u in enumerate(seeds):
        frontier.setdefault(_sha(u), (u, 0, 5, 0, i))
    seen: dict[str, int] = {}
    for rnd in range(max_rounds):
        if not frontier:
            break
        by_host: dict[str, list] = {}
        for h, (u, d, p, _r, s) in frontier.items():
            by_host.setdefault(_host(u), []).append((-p, d, s, h))
        popped = []
        for rows in by_host.values():
            rows.sort()
            popped.extend(h for *_, h in rows[:budget])
        new_cand: dict[str, tuple] = {}
        for h in popped:
            u, d, _p, _r, s = frontier.pop(h)
            seen[h] = rnd
            if u not in url_set:
                continue
            pos = 0
            for href in synth.out_links(doc_id_of(u), n_docs):
                if href.startswith(JUNK_PREFIXES):
                    continue
                child_url = _absolutize(u, href)
                if not child_url or not _valid(child_url):
                    continue
                child = (child_url, d + 1, 5, rnd + 1, s * SEQ_STRIDE + pos)
                pos += 1
                if d + 1 > max_depth:
                    continue
                ch = _sha(child_url)
                prev = new_cand.get(ch)
                if prev is None or (child[1], child[4]) < (prev[1], prev[4]):
                    new_cand[ch] = child
        for ch, child in new_cand.items():
            if ch not in seen and ch not in frontier:
                frontier[ch] = child
    return seen


def check_seen(got: dict[str, int], want: dict[str, int]) -> list[str]:
    bad = [f"seen round differs for {h}: {got[h]} != {want[h]}"
           for h in got.keys() & want.keys() if got[h] != want[h]]
    bad += [f"seen but not in the reference: {h}" for h in got.keys() - want.keys()]
    bad += [f"missing from seen: {h}" for h in want.keys() - got.keys()]
    return bad


# ---------------------------------------------------------------- search
def analyze(text: str) -> list[str]:
    return ANALYZER.findall(text.lower())


class TermFrequencyIndex:
    """score(doc) = sum over the query's analyzed terms (repeats count)
    of the term's count in the doc; total = docs with score > 0; hits
    ordered by (score desc, id asc)."""

    def __init__(self, docs: dict[str, str]):
        self.docs = docs
        self.tf = {doc_id: Counter(analyze(text)) for doc_id, text in docs.items()}

    def search(self, query: str, size: int) -> tuple[list[tuple[str, float]], int]:
        terms = analyze(query)
        scored = []
        for doc_id, tf in self.tf.items():
            s = sum(tf.get(t, 0) for t in terms)
            if s > 0:
                scored.append((-s, doc_id))
        scored.sort()
        return [(d, float(-s)) for s, d in scored[:size]], len(scored)

    def check(self, query: str, size: int, response: dict) -> list[str]:
        want, total = self.search(query, size)
        got = [(r["id"], float(r["score"])) for r in response.get("results", [])]
        bad = []
        if got != want:
            bad.append(f"results differ for {query!r}: {got[:3]} != {want[:3]}")
        if response.get("total") != total:
            bad.append(f"total differs for {query!r}: {response.get('total')} != {total}")
        for r in response.get("results", []):
            if r.get("content") != self.docs.get(r["id"]):
                bad.append(f"content differs for {query!r}: {r['id']}")
                break
        return bad
