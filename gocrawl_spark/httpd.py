"""HTTP search API façade (reference §3.3: internal/api/api.go).

The reference serves ``POST /search`` via gin with a security
middleware chain (API key, per-IP rate limit, CORS, security headers —
internal/api/middleware/security.go:150-227) plus a public
``GET /health``. This is the same surface over the DataFrame search
module (search.py), on stdlib ``http.server`` — no new dependencies:

- ``POST /search`` body ``{"query": str, "index": str, "size": int}``
  (api/types.go:5-9); empty query → 400 "Query cannot be empty",
  malformed JSON → 400 "Invalid request payload" (api.go:95-106);
  size 0 → default 10 (DefaultSearchSize). Response
  ``{"results": [...], "total": N}`` where total is the full match
  count, not len(results) (api.go:128-147).
- ``GET /health`` → ``{"status": "ok"}`` (api.go:57-59).
- middleware: optional ``X-API-Key`` check (401), fixed-window per-IP
  rate limit (429), CORS echo + OPTIONS preflight 204, and the
  reference's security headers on success.

``POST /search`` runs no Spark job: it is served from an in-memory
match index (MatchIndex: term dictionary + CSR postings) that one Spark
job builds when the backend loads an index, with the same analyzer and
the same scores, order and total as `search.match_topk` plus the
score > 0 count. A warehouse-backed index is rebuilt when a publish
replaces its table, and the new snapshot is swapped in whole.
``/search/dsl``, ``/msearch``, ``/search/rank_eval``, ``/mget``,
``/percolate``, ``/termvectors``, ``/cdx`` and ``/metrics`` stay on
Spark plans over the snapshot's DataFrame.
"""

from __future__ import annotations

import json
import logging
import os
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import NamedTuple

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gocrawl_spark import search

DEFAULT_SEARCH_SIZE = 10  # cmd/search/search.go:24

_log = logging.getLogger(__name__)

_SECURITY_HEADERS = {
    "X-Content-Type-Options": "nosniff",
    "X-Frame-Options": "DENY",
    "X-XSS-Protection": "1; mode=block",
    "Strict-Transport-Security": "max-age=31536000; includeSubDomains",
    "Content-Security-Policy": "default-src 'self'",
    "Referrer-Policy": "strict-origin-when-cross-origin",
}


def _plain(v):
    """JSON-encodable copy: timestamps/dates/bytes → str, containers
    recursed (response rows may carry arrays, structs, datetimes)."""
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if v is None or isinstance(v, (str, int, float, bool)):
        return v
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _dir_version(path: str) -> "tuple[int, int] | None":
    """Version token of a warehouse table directory. Every Warehouse
    write replaces the directory (write ``NAME._tmp``, then rename), so
    (inode, mtime) changes on each publish; None while it is absent."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    return st.st_ino, st.st_mtime_ns


class MatchIndex:
    """Immutable in-memory ``match`` index over one table snapshot —
    the inverted index ES answers ``POST /search`` from. Docs are held
    sorted by id (so a doc ordinal orders like its id), with the text
    kept for the response; a term dictionary maps each analyzed term to
    a code; CSR postings list (doc ordinal, tf) per term code."""

    def __init__(self, ids: list, texts: list, terms: "dict[str, int]",
                 indptr: np.ndarray, docs: np.ndarray, tfs: np.ndarray):
        self.ids = ids
        self.texts = texts
        self.terms = terms
        self.indptr = indptr
        self.docs = docs
        self.tfs = tfs

    @classmethod
    def build(cls, df: DataFrame, text_col: str) -> "MatchIndex":
        """One Spark job: the JVM analyzer (search.tokens) tokenizes,
        Arrow brings (id, text, tokens) back; the dictionary and the
        postings are built with pyarrow/numpy in this process."""
        tbl = df.select(
            F.col("id"), F.col(text_col).alias("_text"),
            search.tokens(text_col).alias("_toks"),
        ).toArrow()
        # Spark's ``id ASC``: nulls first, strings by UTF-8 bytes
        tbl = tbl.take(pc.sort_indices(
            tbl, [("id", "ascending")], null_placement="at_start"))
        n = max(tbl.num_rows, 1)
        toks = tbl["_toks"].combine_chunks()
        doc = pc.list_parent_indices(toks).to_numpy().astype(np.int64)
        enc = pc.dictionary_encode(pc.list_flatten(toks))
        code = enc.indices.to_numpy().astype(np.int64)
        # one (term, doc) key per posting, sorted by term then doc
        key, tfs = np.unique(code * n + doc, return_counts=True)
        n_terms = len(enc.dictionary)
        indptr = np.zeros(n_terms + 1, np.int64)
        np.cumsum(np.bincount(key // n, minlength=n_terms), out=indptr[1:])
        return cls(
            tbl["id"].to_pylist(), tbl["_text"].to_pylist(),
            {t: i for i, t in enumerate(enc.dictionary.to_pylist())},
            indptr, key % n, tfs,
        )

    def search(self, query: str, size: int) -> tuple[list[dict], int]:
        """search.match_topk + the score > 0 count: score = Σ tf over
        the analyzed query terms (repeats count), hits by (score desc,
        id asc), total = every doc with a nonzero score."""
        scores = np.zeros(len(self.ids), np.int64)
        for t in search.analyze_query(query):
            c = self.terms.get(t)
            if c is not None:
                lo, hi = self.indptr[c], self.indptr[c + 1]
                scores[self.docs[lo:hi]] += self.tfs[lo:hi]
        hit = np.flatnonzero(scores)
        top = hit[np.lexsort((hit, -scores[hit]))[:size]]
        results = [
            {"id": self.ids[d], "score": float(scores[d]), "content": self.texts[d]}
            for d in top
        ]
        return results, int(hit.size)


class _Snapshot(NamedTuple):
    df: DataFrame
    text_col: str
    match: "MatchIndex | None"  # None: the table has no id or no text column

    @classmethod
    def of(cls, df: DataFrame, text_col: str) -> "_Snapshot":
        matchable = {"id", text_col} <= set(df.columns)
        return cls(df, text_col, MatchIndex.build(df, text_col) if matchable else None)


class SearchBackend:
    """index name → an immutable snapshot (``tables``): the table's
    DataFrame, its text column and its MatchIndex. ``search`` is the
    reference's SearchManager.Search — an ES ``match{content}`` query
    plus a Count of the same query (api.go:114-141) — answered from the
    MatchIndex with no Spark job. The DSL, rank_eval, mget, percolate
    and termvectors endpoints run Spark plans over the snapshot's
    DataFrame. A table without an ``id`` or a text column is served to
    those endpoints only; ``/search`` on it fails. A warehouse-backed
    backend checks the table directory's version on every request; when
    a publish has replaced the table, a new snapshot is built on the
    side and swapped in, so no request sees a half-loaded index."""

    def __init__(
        self,
        tables: "dict[str, tuple[DataFrame, str]] | None" = None,
        cdx: "DataFrame | None" = None,
        metrics: "DataFrame | None" = None,
        warehouse=None,
    ):
        self.cdx = cdx
        self.metrics_df = metrics
        self._warehouse = warehouse
        self._reload = threading.Lock()
        # warehouse only: index name → the directory version last loaded
        # or tried, so a table the build cannot read is tried once, not
        # on every request, until a publish replaces it again
        self._seen: "dict[str, tuple[int, int] | None]" = {}
        self.tables = {
            name: _Snapshot.of(df, col) for name, (df, col) in (tables or {}).items()
        }
        if warehouse is not None:
            for name in warehouse.table_names():
                # stat before the read: a publish in between only
                # causes one extra reload, never a missed one
                self._seen[name] = _dir_version(warehouse._path(name))
                self.tables[name] = self._load(name)

    def _load(self, name: str) -> _Snapshot:
        df = self._warehouse.table(name)
        return _Snapshot.of(df, "body" if "body" in df.columns else "content")

    def _snapshot(self, index: str, wait: bool = True) -> _Snapshot:
        """The index's current snapshot, reloaded first if a publish has
        replaced its table. ``wait=False`` (``/search``, whose snapshot
        is all in memory) answers from the current snapshot while
        another request reloads; the Spark endpoints wait, since the old
        DataFrame's files are gone."""
        snap = self.tables.get(index)
        if snap is None:
            raise KeyError(index)
        if self._warehouse is None:
            return snap
        version = _dir_version(self._warehouse._path(index))
        # absent = mid-publish (between the old dir's removal and the
        # new one's rename): the snapshot in memory is still complete
        if version in (self._seen[index], None):
            return snap
        if not self._reload.acquire(blocking=wait):
            return snap
        try:
            if version != self._seen[index]:
                self._seen[index] = version
                self.tables[index] = self._load(index)
        except Exception:
            # e.g. replaced again while loading (the rename changes the
            # version, so the next request retries) or a table the build
            # cannot read: keep serving the last complete snapshot
            _log.exception("reloading index %s failed", index)
        finally:
            self._reload.release()
        return self.tables[index]

    def metrics_summary(self) -> dict:
        """The reference's metrics surface
        (internal/metrics/metrics.go:9-46) over the run's per-round
        metric rows: processed_count ≡ fetched, error_count ≡ the
        validation skip counters, successful_requests ≡ fetched,
        rate_limited_requests ≡ the politeness deferrals (popped −
        fetched − retried floor at 0), plus the raw per-metric totals
        so nothing the rounds recorded is hidden. Counters-only (the
        reference's wall-clock fields are process-lifetime state a
        batch engine reports per round in the manifests instead)."""
        base = {
            "processed_count": 0,
            "error_count": 0,
            "successful_requests": 0,
            "failed_requests": 0,
            "rate_limited_requests": 0,
            "rounds": 0,
            "by_metric": {},
        }
        if self.metrics_df is None:
            return base
        rows = (
            self.metrics_df.groupBy("metric")
            .sum("value")
            .collect()
        )
        totals = {r["metric"]: int(r["sum(value)"]) for r in rows}
        n_rounds = self.metrics_df.select("round").distinct().count()
        errors = sum(v for k, v in totals.items() if k.startswith("skip:"))
        fetched = totals.get("fetched", 0)
        deferred = max(
            0,
            totals.get("popped", 0) - fetched - totals.get("retried", 0),
        )
        return {
            **base,
            "processed_count": fetched,
            "error_count": errors,
            "successful_requests": fetched,
            "failed_requests": totals.get("retried", 0),
            "rate_limited_requests": deferred,
            "rounds": n_rounds,
            "by_metric": totals,
        }

    def search(self, index: str, query: str, size: int) -> tuple[list[dict], int]:
        snap = self._snapshot(index, wait=False)
        if snap.match is None:
            raise ValueError(f"index {index} has no id or no {snap.text_col} column")
        return snap.match.search(query, size)

    def search_dsl(self, index: str, body: dict) -> dict:
        """Full ES ``_search`` request over a table — the storage
        layer's arbitrary-DSL passthrough (reference
        internal/storage/storage.go:212-257) surfaced over HTTP:
        query (whole bool-leaf surface) + post_filter + sort +
        search_after keyset paging + aggs (global scope included).
        Response mirrors ES's shape flattened to row dicts."""
        df, _text_col = self._snapshot(index)[:2]
        out = search.es_search(df, body)
        resp = {
            "hits": [r.asDict() for r in out["hits"].collect()],
            "total": out["total"].collect()[0]["total"],
        }
        if "aggs" in out:
            resp["aggregations"] = [r.asDict() for r in out["aggs"].collect()]
        return resp

    def rank_eval(self, index: str, body: dict) -> dict:
        """ES ``_rank_eval``: rated search requests → one quality
        metric per request plus the mean (the endpoint the reference's
        ES passthrough exposes for search evaluation). All requests
        are scored in ONE corpus pass (rankeval.rank_eval); ratings
        come from the request body, or fall back to the deterministic
        md5 judgment pool when omitted."""
        df, text_col = self._snapshot(index)[:2]
        from gocrawl_spark import rankeval as rq

        reqs: list[tuple[str, str]] = []
        rating_rows: list[tuple[str, int, int]] = []
        for r in body.get("requests", []) or []:
            rid = str(r["id"])
            match = (r.get("request") or {}).get("query", {}).get("match", {})
            reqs.append((rid, " ".join(str(v) for v in match.values())))
            for rt in r.get("ratings") or []:
                rating_rows.append((rid, rt["_id"], int(rt["rating"])))
        metric = body.get("metric") or {"ndcg": {}}
        mname, mspec = next(iter(metric.items()))
        k = int(mspec.get("k", DEFAULT_SEARCH_SIZE))
        thr = int(mspec.get("relevant_rating_threshold", 1))
        ratings = None
        if rating_rows:
            # the rating's doc id takes the table's own id type (string
            # article ids and numeric doc ids both appear in practice)
            from pyspark.sql.types import (
                IntegerType, StringType, StructField, StructType,
            )

            schema = StructType([
                StructField("request_id", StringType()),
                StructField("id", df.schema["id"].dataType),
                StructField("rating", IntegerType()),
            ])
            ratings = df.sparkSession.createDataFrame(rating_rows, schema)
        rows = rq.rank_eval(
            df, reqs, text_col=text_col, id_col="id", k=k,
            relevant_at=thr, ratings=ratings,
        ).collect()
        col = {
            "precision": "precision_k",
            "recall": "recall_k",
            "mean_reciprocal_rank": "mrr",
            "dcg": "ndcg_k",
            "ndcg": "ndcg_k",
        }.get(mname, "ndcg_k")
        details = {
            r["request_id"]: {
                "metric_score": r[col],
                "precision_k": r["precision_k"],
                "recall_k": r["recall_k"],
                "mrr": r["mrr"],
                "ndcg_k": r["ndcg_k"],
                "retrieved": r["retrieved"],
            }
            for r in rows
        }
        score = round(sum(r[col] for r in rows) / len(rows), 6) if rows else 0.0
        return {"metric_score": score, "details": details}

    def mget(self, index: str, ids: list) -> list[dict]:
        """ES ``_mget``: one filtered scan for the whole id batch
        (never one query per id), per-id found/missing in request
        order — the bulk twin of the reference's GetDocument
        (storage.go:139-158)."""
        df, _ = self._snapshot(index)[:2]
        rows = df.filter(F.col("id").isin(list(ids))).collect()
        found = {r["id"]: _plain(r.asDict(recursive=True)) for r in rows}
        return [
            {"id": i, "found": i in found, **({"doc": found[i]} if i in found else {})}
            for i in ids
        ]

    def percolate_docs(self, index: str, body: dict) -> dict:
        """ES percolator surface: registered match queries from the
        request body evaluated against every document of the table in
        ONE corpus pass (search.percolate). Body: {"queries": [{"id",
        "query", "operator"?}], "size"?}."""
        df, text_col = self._snapshot(index)[:2]
        qs = [
            (str(q["id"]), str(q["query"]), str(q.get("operator", "or")))
            for q in body.get("queries") or []
        ]
        size = max(int(body.get("size") or 0), 0) or DEFAULT_SEARCH_SIZE
        rows = (
            search.percolate(df, qs, text_col=text_col, id_col="id")
            .orderBy("query_id", "id")
            .limit(size)
            .collect()
        )
        return {
            "matches": [
                {"query_id": r["query_id"], "id": _plain(r["id"]),
                 "n_matched": r["n_matched"]}
                for r in rows
            ]
        }

    def termvectors(self, index: str, ids: list) -> dict:
        """ES ``_termvectors`` with term_statistics: per-term in-doc
        frequency plus corpus doc_freq/ttf for the requested ids, all
        ids served from one pass (search.termvectors)."""
        df, text_col = self._snapshot(index)[:2]
        rows = (
            search.termvectors(df, list(ids), text_col=text_col, id_col="id")
            .orderBy("id", "term")
            .collect()
        )
        terms: dict = {}
        for r in rows:
            terms.setdefault(r["id"], {})[r["term"]] = {
                "term_freq": r["term_freq"],
                "doc_freq": r["doc_freq"],
                "ttf": r["ttf"],
            }
        return {
            "docs": [
                {"id": _plain(i), "found": i in terms,
                 "term_vectors": {"terms": terms.get(i, {})}}
                for i in ids
            ]
        }

    def cdx_hits(self, prefix: str, latest: bool, size: int) -> list[dict]:
        """CDX capture lookup over the backend's attached index —
        the pywb-style query surface (GET /cdx). Prefix range scan,
        optional latest-capture collapse, deterministic order."""
        if self.cdx is None:
            raise KeyError("cdx")
        from gocrawl_spark import cdx as cdxmod

        hits = cdxmod.cdx_lookup(self.cdx, prefix, latest_only=latest)
        order = ["surt"] if latest else ["surt", "ts_us"]
        return [
            _plain(r.asDict()) for r in hits.orderBy(*order).limit(size).collect()
        ]

    @classmethod
    def from_run_dir(
        cls, spark, run_dir: str, cdx_dir: str | None = None
    ) -> "SearchBackend":
        from gocrawl_spark.rounds import CrawlRun

        crawl = CrawlRun(spark, None, [], run_dir)
        cdx = None
        if cdx_dir is not None:
            from gocrawl_spark import warc

            cdx = warc.read_cdx(spark, cdx_dir)
        return cls(
            {"articles": (crawl.articles(), "body"), "pages": (crawl.pages(), "content")},
            cdx=cdx,
            metrics=crawl.metrics(),
        )

    @classmethod
    def from_warehouse(cls, spark, warehouse_dir: str) -> "SearchBackend":
        from gocrawl_spark.catalog import Warehouse

        return cls(warehouse=Warehouse(spark, warehouse_dir))


class _RateLimiter:
    """Sliding-window per-client counter (security.go:196-203; the
    reference's Cleanup ticker, security.go Cleanup, maps to the lazy
    sweep below — expired clients are evicted so a long-running server
    doesn't grow one hit list per distinct IP forever)."""

    def __init__(self, max_requests: int, window_s: float = 60.0):
        self.max_requests = max_requests
        self.window_s = window_s
        self._hits: dict[str, list[float]] = {}
        self._lock = threading.Lock()
        self._last_sweep = time.monotonic()

    def allow(self, client: str) -> bool:
        if self.max_requests <= 0:
            return True
        now = time.monotonic()
        with self._lock:
            if now - self._last_sweep > self.window_s:
                self._last_sweep = now
                self._hits = {
                    c: h
                    for c, h in self._hits.items()
                    if h and now - h[-1] < self.window_s
                }
            hits = [t for t in self._hits.get(client, []) if now - t < self.window_s]
            if len(hits) >= self.max_requests:
                self._hits[client] = hits
                return False
            hits.append(now)
            self._hits[client] = hits
            return True


def make_handler(backend: SearchBackend, api_key: str | None, limiter: _RateLimiter):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet; the CLI logs instead
            pass

        def _json(self, code: int, payload: dict, secure: bool = True) -> None:
            # default=str: DSL hit rows may carry timestamps/decimals
            body = json.dumps(payload, default=str).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            if secure:
                for k, v in _SECURITY_HEADERS.items():
                    self.send_header(k, v)
            self._cors_headers()
            self.end_headers()
            self.wfile.write(body)

        def _cors_headers(self) -> None:
            origin = self.headers.get("Origin")
            if origin:
                self.send_header("Access-Control-Allow-Origin", origin)
                self.send_header(
                    "Access-Control-Allow-Methods", "GET, POST, PUT, DELETE, OPTIONS"
                )
                self.send_header(
                    "Access-Control-Allow-Headers", "Content-Type, Authorization, X-API-Key"
                )
                self.send_header("Access-Control-Allow-Credentials", "true")

        def do_OPTIONS(self) -> None:  # CORS preflight (security.go:173-175)
            self.send_response(204)
            self._cors_headers()
            self.end_headers()

        def do_GET(self) -> None:
            if self.path == "/health":
                self._json(200, {"status": "ok"}, secure=False)
                return
            if self.path == "/metrics":
                if not self._guard():
                    return
                self._json(200, _plain(backend.metrics_summary()))
                return
            from urllib.parse import parse_qs, urlsplit

            u = urlsplit(self.path)
            if u.path == "/cdx":
                if not self._guard():
                    return
                q = parse_qs(u.query)
                prefix = (q.get("prefix") or [""])[0]
                if not prefix:
                    self._json(400, {"error": "prefix required"}, secure=False)
                    return
                latest = (q.get("latest") or ["0"])[0] in ("1", "true")
                try:
                    size = min(int((q.get("size") or ["100"])[0]), 1000)
                except ValueError:
                    self._json(400, {"error": "Invalid request payload"},
                               secure=False)
                    return
                try:
                    hits = backend.cdx_hits(prefix, latest, size)
                except KeyError:
                    self._json(404, {"error": "no cdx index attached"},
                               secure=False)
                    return
                except Exception:
                    self._json(500, {"error": "Search failed"}, secure=False)
                    return
                self._json(200, {"captures": hits, "count": len(hits)})
                return
            self._json(404, {"error": "not found"}, secure=False)

        def _guard(self) -> bool:
            if api_key is not None:
                got = self.headers.get("X-API-Key")
                if not got:
                    self._json(401, {"error": "missing API key"}, secure=False)
                    return False
                if got != api_key:
                    self._json(401, {"error": "invalid API key"}, secure=False)
                    return False
            if not limiter.allow(self.client_address[0]):
                self._json(429, {"error": "rate limit exceeded"}, secure=False)
                return False
            return True

        def do_POST(self) -> None:
            if self.path == "/msearch":
                # ES `_msearch`: NDJSON header/body line pairs, one
                # response per pair; per-item failures are isolated in
                # the item (status 500 inline) exactly as ES does —
                # the batch itself still returns 200.
                if not self._guard():
                    return
                try:
                    n = int(self.headers.get("Content-Length") or 0)
                    lines = [
                        ln for ln in
                        (self.rfile.read(n) or b"").decode().splitlines()
                        if ln.strip()
                    ]
                    if len(lines) % 2:
                        raise ValueError
                    pairs = []
                    for i in range(0, len(lines), 2):
                        head = json.loads(lines[i])
                        body = json.loads(lines[i + 1])
                        if not isinstance(head, dict) or not isinstance(body, dict):
                            raise ValueError
                        idx = head.get("index", "articles")
                        if not isinstance(idx, str):
                            raise ValueError
                        pairs.append((idx, body))
                except (ValueError, TypeError, json.JSONDecodeError,
                        UnicodeDecodeError):
                    self._json(400, {"error": "Invalid request payload"},
                               secure=False)
                    return
                responses = []
                for idx, body in pairs:
                    try:
                        responses.append(backend.search_dsl(idx, body))
                    except KeyError:
                        responses.append(
                            {"error": f"unknown index: {idx}", "status": 400}
                        )
                    except Exception:
                        responses.append(
                            {"error": "Search failed", "status": 500}
                        )
                self._json(200, {"responses": responses})
                return
            if self.path == "/search/dsl":
                if not self._guard():
                    return
                try:
                    n = int(self.headers.get("Content-Length") or 0)
                    req = json.loads(self.rfile.read(n) or b"{}")
                    if not isinstance(req, dict):
                        raise ValueError
                    index = req.pop("index", "articles")
                    if not isinstance(index, str):
                        raise ValueError
                except (ValueError, TypeError, json.JSONDecodeError):
                    self._json(400, {"error": "Invalid request payload"},
                               secure=False)
                    return
                try:
                    resp = backend.search_dsl(index, req)
                except KeyError:
                    self._json(400, {"error": f"unknown index: {index}"},
                               secure=False)
                    return
                except Exception:
                    self._json(500, {"error": "Search failed"}, secure=False)
                    return
                self._json(200, resp)
                return
            if self.path == "/search/rank_eval":
                if not self._guard():
                    return
                try:
                    n = int(self.headers.get("Content-Length") or 0)
                    req = json.loads(self.rfile.read(n) or b"{}")
                    if not isinstance(req, dict):
                        raise ValueError
                    index = req.pop("index", "articles")
                    if not isinstance(index, str):
                        raise ValueError
                except (ValueError, TypeError, json.JSONDecodeError):
                    self._json(400, {"error": "Invalid request payload"},
                               secure=False)
                    return
                try:
                    resp = backend.rank_eval(index, req)
                except KeyError:
                    self._json(400, {"error": f"unknown index: {index}"},
                               secure=False)
                    return
                except Exception:
                    self._json(500, {"error": "Search failed"}, secure=False)
                    return
                self._json(200, resp)
                return
            if self.path == "/mget":
                if not self._guard():
                    return
                try:
                    n = int(self.headers.get("Content-Length") or 0)
                    req = json.loads(self.rfile.read(n) or b"{}")
                    index = req.get("index", "articles")
                    ids = req.get("ids")
                    if not isinstance(index, str) or not isinstance(ids, list):
                        raise ValueError
                except (ValueError, TypeError, json.JSONDecodeError, AttributeError):
                    self._json(400, {"error": "Invalid request payload"},
                               secure=False)
                    return
                try:
                    docs = backend.mget(index, ids)
                except KeyError:
                    self._json(400, {"error": f"unknown index: {index}"},
                               secure=False)
                    return
                except Exception:
                    self._json(500, {"error": "Search failed"}, secure=False)
                    return
                self._json(200, {"docs": docs})
                return
            if self.path == "/percolate":
                if not self._guard():
                    return
                try:
                    n = int(self.headers.get("Content-Length") or 0)
                    req = json.loads(self.rfile.read(n) or b"{}")
                    if not isinstance(req, dict):
                        raise ValueError
                    index = req.pop("index", "articles")
                    if not isinstance(index, str) or not isinstance(
                        req.get("queries"), list
                    ):
                        raise ValueError
                    for q_ in req["queries"]:
                        if not isinstance(q_, dict) or "id" not in q_ \
                                or "query" not in q_ \
                                or q_.get("operator", "or") not in ("or", "and"):
                            raise ValueError
                except (ValueError, TypeError, json.JSONDecodeError):
                    self._json(400, {"error": "Invalid request payload"},
                               secure=False)
                    return
                try:
                    resp = backend.percolate_docs(index, req)
                except KeyError:
                    self._json(400, {"error": f"unknown index: {index}"},
                               secure=False)
                    return
                except Exception:
                    self._json(500, {"error": "Search failed"}, secure=False)
                    return
                self._json(200, resp)
                return
            if self.path == "/termvectors":
                if not self._guard():
                    return
                try:
                    n = int(self.headers.get("Content-Length") or 0)
                    req = json.loads(self.rfile.read(n) or b"{}")
                    index = req.get("index", "articles")
                    ids = req.get("ids")
                    if not isinstance(index, str) or not isinstance(ids, list):
                        raise ValueError
                except (ValueError, TypeError, json.JSONDecodeError, AttributeError):
                    self._json(400, {"error": "Invalid request payload"},
                               secure=False)
                    return
                try:
                    resp = backend.termvectors(index, ids)
                except KeyError:
                    self._json(400, {"error": f"unknown index: {index}"},
                               secure=False)
                    return
                except Exception:
                    self._json(500, {"error": "Search failed"}, secure=False)
                    return
                self._json(200, resp)
                return
            if self.path != "/search":
                self._json(404, {"error": "not found"}, secure=False)
                return
            if not self._guard():
                return
            # field coercion lives INSIDE the try: {"size": "abc"} or a
            # non-string query/index must map to 400, not an uncaught
            # handler-thread exception (api.go:95-106)
            try:
                n = int(self.headers.get("Content-Length") or 0)
                req = json.loads(self.rfile.read(n) or b"{}")
                if not isinstance(req, dict):
                    raise ValueError
                query = req.get("query") or ""
                if not isinstance(query, str):
                    raise ValueError
                index = req.get("index") or "articles"
                if not isinstance(index, str):
                    raise ValueError
                size = max(int(req.get("size") or 0), 0) or DEFAULT_SEARCH_SIZE
            except (ValueError, TypeError, json.JSONDecodeError):
                self._json(400, {"error": "Invalid request payload"}, secure=False)
                return
            if not query:
                self._json(400, {"error": "Query cannot be empty"}, secure=False)
                return
            try:
                results, total = backend.search(index, query, size)
            except KeyError:
                self._json(400, {"error": f"unknown index: {index}"}, secure=False)
                return
            except Exception:
                self._json(500, {"error": "Search failed"}, secure=False)
                return
            self._json(200, {"results": results, "total": total})

    return Handler


def serve(
    backend: SearchBackend,
    host: str = "127.0.0.1",
    port: int = 0,
    api_key: str | None = None,
    rate_limit: int = 0,
) -> ThreadingHTTPServer:
    """Start the API server on a background thread; returns the server
    (``server.server_address`` carries the bound port when port=0).
    Caller shuts down with ``server.shutdown()``."""
    limiter = _RateLimiter(rate_limit)
    srv = ThreadingHTTPServer((host, port), make_handler(backend, api_key, limiter))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv


__all__ = ["SearchBackend", "serve", "make_handler", "DEFAULT_SEARCH_SIZE"]
