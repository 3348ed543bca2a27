"""HTTP search API façade (reference internal/api/api.go +
middleware/security.go): /search semantics, error paths, API-key and
rate-limit middleware, CORS preflight — driven over a live server on a
loopback port."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from gocrawl_spark import httpd


@pytest.fixture(scope="module")
def corpus_df(spark):
    rows = [
        ("a1", "spark shuffles data across the cluster for every join"),
        ("a2", "the politeness budget limits fetches per host"),
        ("a3", "spark plans are optimized by catalyst before execution"),
        ("a4", "bloom filters answer maybe or definitely not"),
        ("a5", "spark executors run tasks over partitioned data"),
    ]
    return spark.createDataFrame(rows, "id string, body string")


@pytest.fixture(scope="module")
def server(corpus_df):
    backend = httpd.SearchBackend({"articles": (corpus_df, "body")})
    srv = httpd.serve(backend, port=0)
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _post(base, path, payload, headers=None):
    req = urllib.request.Request(
        base + path,
        data=json.dumps(payload).encode() if not isinstance(payload, bytes) else payload,
        headers={"Content-Type": "application/json", **(headers or {})},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return resp.status, json.loads(resp.read()), dict(resp.headers)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}"), dict(e.headers)


def test_health(server):
    with urllib.request.urlopen(server + "/health") as resp:
        assert resp.status == 200
        assert json.loads(resp.read()) == {"status": "ok"}


def test_search_results_and_total(server):
    code, body, headers = _post(server, "/search", {"query": "spark", "index": "articles", "size": 2})
    assert code == 200
    assert len(body["results"]) == 2
    assert body["total"] == 3  # total counts ALL matches, not the page (api.go:134-147)
    assert body["results"][0]["id"] == "a1"
    assert all("content" in r and "score" in r for r in body["results"])
    # reference security headers on success (security.go:151-159)
    assert headers.get("X-Content-Type-Options") == "nosniff"


def test_search_default_size_and_default_index(server):
    code, body, _ = _post(server, "/search", {"query": "spark"})
    assert code == 200
    assert body["total"] == 3 and len(body["results"]) == 3


def test_search_error_paths(server):
    code, body, _ = _post(server, "/search", {"query": "", "index": "articles"})
    assert code == 400 and body["error"] == "Query cannot be empty"
    code, body, _ = _post(server, "/search", b"{not json")
    assert code == 400 and body["error"] == "Invalid request payload"
    code, body, _ = _post(server, "/search", {"query": "x", "index": "nope"})
    assert code == 400 and "unknown index" in body["error"]


def test_api_key_middleware(corpus_df):
    backend = httpd.SearchBackend({"articles": (corpus_df, "body")})
    srv = httpd.serve(backend, port=0, api_key="sekrit")
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        code, body, _ = _post(base, "/search", {"query": "spark"})
        assert code == 401 and body["error"] == "missing API key"
        code, body, _ = _post(base, "/search", {"query": "spark"}, {"X-API-Key": "wrong"})
        assert code == 401 and body["error"] == "invalid API key"
        code, body, _ = _post(base, "/search", {"query": "spark"}, {"X-API-Key": "sekrit"})
        assert code == 200 and body["total"] == 3
    finally:
        srv.shutdown()


def test_rate_limit_middleware(corpus_df):
    backend = httpd.SearchBackend({"articles": (corpus_df, "body")})
    srv = httpd.serve(backend, port=0, rate_limit=2)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        assert _post(base, "/search", {"query": "spark"})[0] == 200
        assert _post(base, "/search", {"query": "spark"})[0] == 200
        code, body, _ = _post(base, "/search", {"query": "spark"})
        assert code == 429 and body["error"] == "rate limit exceeded"
    finally:
        srv.shutdown()


def test_cors_preflight(server):
    req = urllib.request.Request(
        server + "/search", method="OPTIONS", headers={"Origin": "http://x.test"}
    )
    with urllib.request.urlopen(req) as resp:
        assert resp.status == 204
        assert resp.headers["Access-Control-Allow-Origin"] == "http://x.test"
        assert "X-API-Key" in resp.headers["Access-Control-Allow-Headers"]


def test_backend_from_warehouse(spark, tmp_path, corpus_df):
    """A server started while a publish is staging NAME._tmp serves
    only the complete tables. Loading a table runs two Spark jobs, the
    parquet schema read and the index build, and no per-table count."""
    from gocrawl_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("articles", corpus_df.schema)
    wh.upsert("articles", corpus_df, key="id")
    corpus_df.write.parquet(str(tmp_path / "wh" / "pages._tmp"))
    sc = spark.sparkContext
    sc.setJobGroup("load-backend", "from_warehouse")
    try:
        backend = httpd.SearchBackend.from_warehouse(spark, str(tmp_path / "wh"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(backend.tables) == ["articles"]
    assert len(sc.statusTracker().getJobIdsForGroup("load-backend")) == 2
    results, total = backend.search("articles", "spark", 10)
    assert total == 3 and [r["id"] for r in results] == ["a1", "a3", "a5"]


def test_warehouse_unmatchable_index_and_failed_reload(spark, tmp_path, corpus_df, caplog):
    """Indices without an id or a text column (`index create` with the
    default mapping has no id; `events` has no body/content) do not keep
    the server from starting: /search answers the other tables, the DSL
    endpoint answers `events`, and only /search on those two fails. A
    table replaced by one the build cannot read is tried once per
    publish: the last complete snapshot keeps answering /search and the
    next publish is picked up."""
    import logging
    import shutil

    from gocrawl_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.upsert("articles", corpus_df)
    assert wh.create_index("logs")
    assert wh.create_index("events", {"properties": {
        "id": {"type": "keyword"}, "message": {"type": "text"}}})
    srv = httpd.serve(httpd.SearchBackend.from_warehouse(spark, wh.root), port=0)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        code, body, _ = _post(base, "/search", {"query": "spark"})
        assert code == 200 and body["total"] == 3
        code, body, _ = _post(base, "/search/dsl", {
            "index": "events", "query": {"match": {"message": "spark"}}})
        assert code == 200 and body["total"] == 0
        for index in ("logs", "events"):
            assert _post(base, "/search", {"query": "spark", "index": index})[0] == 500

        path = wh._path("articles")
        shutil.rmtree(path)
        spark.createDataFrame([("b1", ["spark"])], "id string, body array<string>") \
            .write.parquet(path)
        with caplog.at_level(logging.ERROR, logger=httpd.__name__):
            for _ in range(3):
                code, body, _ = _post(base, "/search", {"query": "spark"})
                assert code == 200 and body["total"] == 3
        assert [r.getMessage() for r in caplog.records] == [
            "reloading index articles failed"]

        wh.drop_table("articles")
        wh.upsert("articles", corpus_df.filter("id != 'a5'"))
        code, body, _ = _post(base, "/search", {"query": "spark"})
        assert code == 200 and [r["id"] for r in body["results"]] == ["a1", "a3"]
    finally:
        srv.shutdown()


def test_bad_field_types_return_400(server):
    """ADVICE: coercion inside the 400 try — bad size/query/index types
    must yield a JSON 400, not a dropped connection."""
    for payload in (
        {"query": "x", "size": "abc"},
        {"query": 5},
        {"query": "x", "index": ["articles"]},
    ):
        code, body, _ = _post(server, "/search", payload)
        assert code == 400 and body["error"] == "Invalid request payload"


def test_rate_limiter_evicts_expired_clients():
    """The sweep drops clients whose whole window expired (the
    reference's Cleanup ticker analogue)."""
    rl = httpd._RateLimiter(2, window_s=0.05)
    assert rl.allow("1.2.3.4") and rl.allow("5.6.7.8")
    import time as _t

    _t.sleep(0.12)
    assert rl.allow("9.9.9.9")  # triggers the sweep
    assert set(rl._hits) == {"9.9.9.9"}


def test_search_dsl_endpoint(server):
    """POST /search/dsl: the storage layer's arbitrary-DSL
    passthrough over HTTP — bool query, sort + search_after keyset
    paging, and a global-scope agg in one request."""
    body = {
        "index": "articles",
        "query": {"match": {"body": "spark"}},
        "sort": [{"id": "asc"}],
        "size": 2,
    }
    code, resp, _ = _post(server, "/search/dsl", body)
    assert code == 200
    assert [h["id"] for h in resp["hits"]] == ["a1", "a3"]
    assert resp["total"] == 3
    # keyset page 2 continues, no overlap
    code, page2, _ = _post(server, "/search/dsl",
                           {**body, "search_after": ["a3"]})
    assert code == 200 and [h["id"] for h in page2["hits"]] == ["a5"]
    # aggs ride the same request (global escapes the query scope)
    code, withagg, _ = _post(server, "/search/dsl", {
        "index": "articles",
        "query": {"match": {"body": "politeness"}},
        "aggs": {"g": {"global": {}, "aggs": {
            "n": {"value_count": {"field": "id"}}}}},
    })
    assert code == 200 and withagg["total"] == 1
    assert withagg["aggregations"][0]["n"] == 5
    # error paths
    code, resp, _ = _post(server, "/search/dsl", {"index": "nope",
                                                  "query": {"match_all": {}}})
    assert code == 400 and "unknown index" in resp["error"]
    code, resp, _ = _post(server, "/search/dsl", b"{not json")
    assert code == 400


def _get(base, path):
    try:
        with urllib.request.urlopen(base + path) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


def test_mget_endpoint(server):
    code, body, _ = _post(server, "/mget",
                          {"index": "articles", "ids": ["a1", "nope", "a4"]})
    assert code == 200
    docs = body["docs"]
    assert [d["id"] for d in docs] == ["a1", "nope", "a4"]  # request order
    assert docs[0]["found"] and "doc" in docs[0]
    assert docs[1] == {"id": "nope", "found": False}
    assert docs[2]["doc"]["body"].startswith("bloom filters")
    # bad payloads
    assert _post(server, "/mget", {"ids": "a1"})[0] == 400
    assert _post(server, "/mget", {"index": "zz", "ids": []})[0] == 400


def test_cdx_endpoint(spark, corpus_df, tmp_path):
    """GET /cdx over a WARC sidecar index attached to the backend."""
    from gocrawl_spark import warc
    from datetime import datetime

    rows = [(f"https://ex.com/p{i}", datetime(2023, 1, 1 + i),
             f"<html>{i}</html>".encode()) for i in range(4)]
    corpus = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary")
    warc.write_warc(corpus, str(tmp_path / "a"), cdx_dir=str(tmp_path / "c"))
    backend = httpd.SearchBackend(
        {"articles": (corpus_df, "body")},
        cdx=warc.read_cdx(spark, str(tmp_path / "c")))
    srv = httpd.serve(backend, port=0)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        code, body = _get(base, "/cdx?prefix=com,ex)")
        assert code == 200 and body["count"] == 4
        assert body["captures"][0]["surt"] == "com,ex)/p0"
        assert body["captures"][0]["length"] == len("<html>0</html>")
        code, body = _get(base, "/cdx?prefix=com,ex)&latest=1")
        assert code == 200 and body["count"] == 4
        assert all("n_captures" in c for c in body["captures"])
        assert _get(base, "/cdx")[0] == 400
        assert _get(base, "/cdx?prefix=zz")[1]["count"] == 0
    finally:
        srv.shutdown()
    # a backend without an index answers 404
    b2 = httpd.SearchBackend({"articles": (corpus_df, "body")})
    srv2 = httpd.serve(b2, port=0)
    try:
        assert _get(f"http://127.0.0.1:{srv2.server_address[1]}",
                    "/cdx?prefix=x")[0] == 404
    finally:
        srv2.shutdown()


def test_percolate_endpoint(server):
    code, body, _ = _post(server, "/percolate", {
        "index": "articles",
        "queries": [
            {"id": "q_and", "query": "spark data", "operator": "and"},
            {"id": "q_or", "query": "politeness catalyst"},
        ],
    })
    assert code == 200
    got = {(m["query_id"], m["id"]): m["n_matched"] for m in body["matches"]}
    # AND: both terms — a1 ("spark ... data") and a5 ("spark ... data")
    assert sorted(k[1] for k in got if k[0] == "q_and") == ["a1", "a5"]
    assert got[("q_and", "a1")] == 2
    # OR (default operator): either term — a2 (politeness), a3 (catalyst)
    assert sorted(k[1] for k in got if k[0] == "q_or") == ["a2", "a3"]
    # malformed registrations are a 400, not a 500
    for bad in (
        {"queries": [{"query": "x"}]},               # missing id
        {"queries": [{"id": "q", "query": "x", "operator": "not"}]},
        {"queries": "x"},
    ):
        code, body, _ = _post(server, "/percolate", {"index": "articles", **bad})
        assert code == 400
    code, _, _ = _post(server, "/percolate", {"index": "nope", "queries": []})
    assert code == 400


def test_termvectors_endpoint(server):
    code, body, _ = _post(server, "/termvectors", {
        "index": "articles", "ids": ["a4", "missing"],
    })
    assert code == 200
    docs = {d["id"]: d for d in body["docs"]}
    assert list(docs) == ["a4", "missing"]
    assert docs["missing"]["found"] is False
    a4 = docs["a4"]
    assert a4["found"] is True
    terms = a4["term_vectors"]["terms"]
    # "bloom filters answer maybe or definitely not"
    assert terms["bloom"]["term_freq"] == 1 and terms["bloom"]["doc_freq"] == 1
    # corpus-wide stats: "spark" absent from a4, "or" appears once here
    assert "spark" not in terms
    assert terms["or"] == {"term_freq": 1, "doc_freq": 1, "ttf": 1}
    code, _, _ = _post(server, "/termvectors", {"index": "articles", "ids": "a4"})
    assert code == 400


def test_msearch_endpoint(server):
    nd = "\n".join([
        json.dumps({"index": "articles"}),
        json.dumps({"query": {"match": {"body": "spark"}}, "size": 2}),
        json.dumps({}),  # default index
        json.dumps({"query": {"match": {"body": "politeness"}}}),
        json.dumps({"index": "nope"}),
        json.dumps({"query": {"match_all": {}}}),
    ]) + "\n"
    code, body, _ = _post(server, "/msearch", nd.encode())
    assert code == 200
    rs = body["responses"]
    assert len(rs) == 3
    assert rs[0]["total"] >= 1
    assert len(rs[0]["hits"]) <= 2
    assert rs[1]["total"] >= 1
    # per-item failure is isolated, batch still 200 (ES semantics)
    assert rs[2]["status"] == 400 and "unknown index" in rs[2]["error"]
    # odd line count → 400 for the whole batch
    code, _, _ = _post(server, "/msearch", b'{"index": "articles"}\n')
    assert code == 400


def test_metrics_endpoint(server, spark, corpus_df):
    """GET /metrics without a run attached returns the zeroed counter
    shape; with per-round metric rows it rolls them up into the
    reference's counter fields (metrics.go:9-46)."""
    with urllib.request.urlopen(server + "/metrics") as resp:
        assert resp.status == 200
        body = json.loads(resp.read())
    assert body["processed_count"] == 0 and body["rounds"] == 0
    assert body["by_metric"] == {}

    mdf = spark.createDataFrame(
        [
            (0, "popped", 10), (0, "fetched", 8), (0, "retried", 1),
            (0, "skip:too_short", 2),
            (1, "popped", 5), (1, "fetched", 5), (1, "skip:no_title", 1),
        ],
        "round int, metric string, value long",
    )
    backend = httpd.SearchBackend(
        {"articles": (corpus_df, "body")}, metrics=mdf
    )
    srv = httpd.serve(backend, port=0)
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        with urllib.request.urlopen(base + "/metrics") as resp:
            got = json.loads(resp.read())
    finally:
        srv.shutdown()
    assert got["processed_count"] == 13
    assert got["successful_requests"] == 13
    assert got["error_count"] == 3
    assert got["failed_requests"] == 1
    assert got["rate_limited_requests"] == 1   # 15 popped − 13 − 1
    assert got["rounds"] == 2
    assert got["by_metric"]["fetched"] == 13


_PARITY_ROWS = [
    ("p3", "Spark SPARK spark’s Café ÜBER 42 x_y wi-fi O'Brien's"),
    ("p1", "spark café 42 42 über"),
    ("p0", "spark café"),
    ("p4", None),
    ("p2", "o'brien's other Wi-Fi; naïve ２０２４ spark’s"),
    ("p5", "nothing to see"),
]


def test_search_parity_with_spark_match(spark):
    """/search, served from the in-memory MatchIndex, answers exactly
    what the Spark `match` plan answers: search.match_topk for the hits
    and the score > 0 count of search.match_scores for the total, over
    text with case, non-ASCII letters and digits, both apostrophes,
    hyphens and underscores. Numbers reach the client as JSON numbers
    (a numpy scalar would leak through json.dumps(default=str) as a
    string)."""
    from gocrawl_spark import search

    df = spark.createDataFrame(_PARITY_ROWS, "id string, body string")
    srv = httpd.serve(httpd.SearchBackend({"articles": (df, "body")}), port=0)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    text = dict(_PARITY_ROWS)
    queries = [
        ("spark", 2),  # ties at score 1 break by id; page < hit count
        ("spark spark café", 10),  # a repeated query term counts twice
        ("SPARK’S o'brien's wi fi x_y", 10),
        ("42 ２０２４ über naïve zzzz", 50),  # size > hit count
        ("zzzz", 10),  # zero hits
    ]
    try:
        for q, size in queries:
            code, body, _ = _post(base, "/search", {"query": q, "size": size})
            assert code == 200
            want = search.match_topk(df, q, text_col="body", k=size).collect()
            total = (search.match_scores(df, q, text_col="body")
                     .filter("score > 0").count())
            assert [(r["id"], r["score"]) for r in body["results"]] == [
                (r["id"], r["score"]) for r in want
            ], q
            assert type(body["total"]) is int and body["total"] == total, q
            for r in body["results"]:
                assert type(r["score"]) is float and r["content"] == text[r["id"]]
        code, body, _ = _post(base, "/search", {"query": "!!!"})
        assert (code, body) == (200, {"results": [], "total": 0})
    finally:
        srv.shutdown()


def test_live_republish_is_picked_up_whole(spark, tmp_path):
    """A publish into the served warehouse replaces the table
    directory. The backend notices (one stat per request), builds the
    new snapshot on the side and swaps it in: /search sees the added
    and the changed doc, /search/dsl reads the new table instead of
    failing on the deleted files, and while the publish runs (8 clients
    keep querying throughout) every response is the old snapshot's
    answer or the new one's — never an error, never a mix."""
    import sys
    import threading
    import time

    from gocrawl_spark.catalog import Warehouse

    old = [("d1", "spark crawler"), ("d2", "bloom filter"), ("d3", "spark bloom spark")]
    new = [("d1", "spark crawler"), ("d2", "bloom filter spark spark spark"),
           ("d3", "spark bloom spark"), ("d4", "spark")]
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.upsert("articles", spark.createDataFrame(old, "id string, body string"))
    srv = httpd.serve(httpd.SearchBackend.from_warehouse(spark, wh.root), port=0)
    base = f"http://127.0.0.1:{srv.server_address[1]}"

    def answer(rows, *scored):  # every hit fits one default-size page
        text = dict(rows)
        return {"results": [{"id": i, "score": sc, "content": text[i]}
                            for i, sc in scored], "total": len(scored)}

    want = {
        "old": answer(old, ("d3", 2.0), ("d1", 1.0)),
        "new": answer(new, ("d2", 3.0), ("d3", 2.0), ("d1", 1.0), ("d4", 1.0)),
    }
    try:
        assert _post(base, "/search", {"query": "spark"})[1] == want["old"]
        got, errors = [], []
        published = threading.Event()

        def client():
            # at least 20 requests each, and on until the publish is done
            n = 0
            while n < 20 or not published.is_set():
                n += 1
                try:
                    code, body, _ = _post(base, "/search", {"query": "spark"})
                    got.append(body if code == 200 else code)
                except Exception as e:  # a dropped connection is a failure too
                    errors.append(repr(e))
                time.sleep(0.02)

        threads = [threading.Thread(target=client, daemon=True) for _ in range(8)]
        switch = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)  # interleave the handler threads finely
        try:
            for t in threads:
                t.start()
            wh.upsert("articles", spark.createDataFrame(
                [("d2", new[1][1]), ("d4", "spark")], "id string, body string"))
        finally:
            # a failed publish must end the clients too, not leave them looping
            published.set()
            for t in threads:
                t.join(timeout=120)
            sys.setswitchinterval(switch)
        assert not any(t.is_alive() for t in threads)
        assert not errors and len(got) >= 160
        assert all(b in (want["old"], want["new"]) for b in got)
        assert _post(base, "/search", {"query": "spark"})[1] == want["new"]
        code, body, _ = _post(base, "/search/dsl", {
            "query": {"match": {"body": "spark"}}, "sort": [{"id": "asc"}]})
        assert code == 200 and body["total"] == 4
        assert [h["id"] for h in body["hits"]] == ["d1", "d2", "d3", "d4"]
    finally:
        srv.shutdown()
