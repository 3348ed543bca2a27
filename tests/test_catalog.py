"""Index-management surface (S5-S8, A3/A4): DDL, upsert, point ops."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from gocrawl_spark.catalog import Warehouse
from gocrawl_spark.schema import ARTICLE


@pytest.fixture()
def wh(spark):
    return Warehouse(spark, tempfile.mkdtemp(prefix="wh_"))


def test_ddl_lifecycle(wh):
    assert not wh.table_exists("articles")
    wh.ensure_article_index()
    wh.ensure_page_index()
    assert wh.table_exists("articles") and wh.table_exists("pages")
    wh.ensure_article_index()  # idempotent
    # parquet round-trip normalizes nullability; names+types must hold
    assert [(f.name, f.dataType) for f in wh.table("articles").schema.fields] == [
        (f.name, f.dataType) for f in ARTICLE.fields
    ]
    assert [n for n, _ in wh.list_tables()] == ["articles", "pages"]
    wh.drop_table("pages")
    assert not wh.table_exists("pages")
    with pytest.raises(ValueError):
        wh.create_table("../evil", ARTICLE)


def test_upsert_is_idempotent_by_id(spark, wh):
    wh.create_table("docs", spark.createDataFrame([], "id string, body string").schema)
    v1 = spark.createDataFrame([("a", "one"), ("b", "two")], "id string, body string")
    wh.upsert("docs", v1)
    assert wh.count("docs") == 2
    # same id overwrites (ES doc-id semantics), new id appends
    v2 = spark.createDataFrame([("b", "TWO"), ("c", "three")], "id string, body string")
    wh.upsert("docs", v2)
    rows = {r.id: r.body for r in wh.table("docs").collect()}
    assert rows == {"a": "one", "b": "TWO", "c": "three"}


def test_point_get_delete_count(spark, wh):
    df = spark.createDataFrame(
        [("x", "hello"), ("y", "world")], "id string, body string"
    )
    wh.upsert("d2", df)
    assert wh.get("d2", "x").body == "hello"
    assert wh.get("d2", "zzz") is None
    wh.delete("d2", "x")
    assert wh.get("d2", "x") is None
    assert wh.count("d2") == 1
    assert wh.count("d2", F.col("body").contains("wor")) == 1


def test_crawl_publish_idempotent(spark, sf_dir, wh):
    """S5 end-to-end: crawl → publish → re-publish is a no-op upsert."""
    from gocrawl_spark import synth
    from gocrawl_spark.rounds import CrawlConfig, CrawlRun

    run_dir = tempfile.mkdtemp(prefix="pubcrawl_")
    cfg = CrawlConfig(max_depth=1, round_wall_s=10.0, max_rounds=2)
    crawl = CrawlRun(
        spark, synth.corpus_from_documents(spark, sf_dir), synth.seed_urls(500, k=8), run_dir, cfg
    )
    crawl.run(resume=False)
    crawl.publish(wh)
    n_art, n_page = wh.count("articles"), wh.count("pages")
    assert n_art == crawl.articles().count() > 0
    crawl.publish(wh)  # idempotent by doc id
    assert wh.count("articles") == n_art
    assert wh.count("pages") == n_page


def test_get_mapping_shape(spark, wh):
    """S6 GetMapping (storage.go:542-570): ES get-mapping response
    shape with the type correspondence (string→text, timestamp→date,
    array→element type, struct→nested properties)."""
    wh.ensure_article_index("articles")
    m = wh.get_mapping("articles")
    props = m["articles"]["mappings"]["properties"]
    assert props["title"] == {"type": "text"}
    assert props["word_count"]["type"] in ("integer", "long")
    assert props["published_date"] == {"type": "date"}
    assert props["tags"] == {"type": "text"}  # array<string> → element type


def test_update_mapping_additive_and_rejects_changes(spark, wh):
    """S6 UpdateMapping (storage.go:573-598): new properties become
    null-filled columns; an existing field's type cannot change."""
    df = spark.createDataFrame([("a", 1)], "id string, n long")
    wh.upsert("t", df, key="id")
    wh.update_mapping("t", {"properties": {"score": {"type": "double"}}})
    got = wh.table("t")
    assert dict(got.dtypes)["score"] == "double"
    row = got.collect()[0]
    assert row["id"] == "a" and row["score"] is None
    # same mapping again: no-op, not an error (ES PutMapping semantics)
    wh.update_mapping("t", {"properties": {"score": {"type": "double"}}})
    with pytest.raises(ValueError, match="cannot be changed"):
        wh.update_mapping("t", {"properties": {"n": {"type": "text"}}})
    with pytest.raises(ValueError, match="unsupported"):
        wh.update_mapping("t", {"properties": {"x": {"type": "geo_shape"}}})


def test_index_health_and_cat_indices(spark, wh):
    """A4 detail (storage.go:600-630 + cmd/index/list.go:47-184):
    health green/yellow, ingestion-status mapping, real size bytes."""
    wh.ensure_article_index("articles")  # empty → yellow/Degraded
    wh.upsert("docs", spark.createDataFrame([("a", "x")], "id string, body string"))
    assert wh.get_index_health("articles") == "yellow"
    assert wh.get_index_health("docs") == "green"
    assert Warehouse.ingestion_status("green") == "Active"
    assert Warehouse.ingestion_status("red") == "Failed"
    # a write in progress stages NAME._tmp before its rename: not a table
    wh.table("docs").write.parquet(os.path.join(wh.root, "docs._tmp"))
    assert wh.table_names() == ["articles", "docs"]
    assert [n for n, _ in wh.list_tables()] == ["articles", "docs"]
    cat = {r["index"]: r for r in wh.cat_indices()}
    assert sorted(cat) == ["articles", "docs"]
    assert cat["docs"]["status"] == "Active" and cat["docs"]["docs"] == 1
    assert cat["articles"]["status"] == "Degraded"
    assert cat["docs"]["size_bytes"] > 0 and cat["docs"]["files"] >= 1
    with pytest.raises(KeyError):
        wh.get_index_health("nope")


def test_cat_indices_from_footers(spark, wh):
    """`_cat/indices` reads each table's data-file footers once and runs
    no Spark job; a table whose footer cannot be read is red."""
    wh.ensure_article_index("articles")
    wh.upsert("docs", spark.createDataFrame([("a", "x"), ("b", "y")], "id string, body string"))
    os.makedirs(os.path.join(wh.root, "broken"))
    with open(os.path.join(wh.root, "broken", "part-00000.parquet"), "wb") as f:
        f.write(b"not parquet")
    sc = spark.sparkContext
    sc.setJobGroup("cat-indices", "cat_indices")
    try:
        cat = {r["index"]: r for r in wh.cat_indices()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("cat-indices")) == 0
    assert (cat["docs"]["health"], cat["docs"]["docs"], cat["docs"]["columns"]) == ("green", 2, 2)
    assert (cat["articles"]["health"], cat["articles"]["docs"]) == ("yellow", 0)
    assert cat["articles"]["columns"] == len(ARTICLE.fields)
    assert (cat["broken"]["health"], cat["broken"]["status"]) == ("red", "Failed")
    assert cat["broken"]["docs"] == cat["broken"]["columns"] == 0


def test_export_jsonl(spark, wh, tmp_path):
    """JSONL export: the training-data delivery format — full dump and
    mapped projection ({"body": "text", "source": "url"})."""
    import json

    rows = [("a1", "Title A", "Body text A", "https://s/a"),
            ("b2", "Title B", "Body text B", "https://s/b")]
    df = spark.createDataFrame(rows, "id string, title string, body string, source string")
    wh.create_table("docs", df.schema)
    wh.upsert("docs", df)

    out_full = str(tmp_path / "full")
    assert wh.export_jsonl("docs", out_full) == 2
    back = {r["id"]: r for r in spark.read.json(out_full).collect()}
    assert back["a1"]["body"] == "Body text A"

    out_map = str(tmp_path / "mapped")
    wh.export_jsonl("docs", out_map, mapping={"body": "text", "source": "url"})
    import glob as _g
    lines = []
    for f in sorted(set(_g.glob(out_map + "/part-*.json"))):
        with open(f) as fh:
            lines += [json.loads(l) for l in fh if l.strip()]
    assert sorted(l["url"] for l in lines) == ["https://s/a", "https://s/b"]
    assert all(set(l) == {"text", "url"} for l in lines)


def test_create_index_default_mapping(spark):
    """`index create` parity (cmd/index/create.go): DefaultMapping
    schema when none given, no-op returning False when it exists."""
    wh = Warehouse(spark, tempfile.mkdtemp(prefix="wh_create_"))
    assert wh.create_index("articles_v2") is True
    assert wh.create_index("articles_v2") is False
    props = wh.get_mapping("articles_v2")["articles_v2"]["mappings"]["properties"]
    assert set(props) == {
        "title", "content", "url", "source", "published_at", "created_at"
    }
    assert props["published_at"] == {"type": "date"}
    assert props["title"] == {"type": "text"}
    # custom mapping path + unsupported type rejection
    assert wh.create_index("tiny", {"properties": {"k": {"type": "keyword"}}})
    assert wh.table("tiny").schema.fieldNames() == ["k"]
    with pytest.raises(ValueError):
        wh.create_index("bad", {"properties": {"x": {"type": "geo_shape"}}})


def test_index_aliases(spark, tmp_path):
    """ES alias semantics: reads union members (null-filled sparse
    fields), writes route through single-member aliases only."""
    from gocrawl_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    a = spark.createDataFrame([("a1", "x")], "id string, body string")
    b = spark.createDataFrame([("b1", "y", 3)],
                              "id string, body string, extra int")
    wh.upsert("news", a)
    wh.upsert("blogs", b)

    wh.put_alias("content", "news")
    wh.put_alias("content", "blogs")
    assert wh.resolve("content") == ["news", "blogs"]
    assert wh.resolve("news") == ["news"]
    rows = {r["id"]: r for r in wh.table("content").collect()}
    assert set(rows) == {"a1", "b1"}
    assert rows["a1"]["extra"] is None  # sparse field null-fills
    assert wh.count("content") == 2
    assert wh.get("content", "b1")["body"] == "y"

    # writes: multi-member alias rejected; single-member routes through
    with pytest.raises(ValueError):
        wh.upsert("content", a)
    wh.delete_alias("content", "blogs")
    wh.upsert("content", spark.createDataFrame(
        [("a2", "z")], "id string, body string"))
    assert wh.count("news") == 2  # landed in the member index

    # hygiene: alias can't shadow a table; members must exist
    with pytest.raises(ValueError):
        wh.put_alias("news", "blogs")
    with pytest.raises(KeyError):
        wh.put_alias("x", "missing")
    wh.delete_alias("content")
    assert wh.resolve("content") == ["content"]


def test_partial_document_update(spark, wh):
    """Warehouse.update = ES's partial-document Update (reference
    DocumentManager.Update, indexing.go:18-19): provided columns
    replace (explicit NULL sets NULL), absent columns and unmatched
    docs keep stored values; missing keys raise unless doc_as_upsert."""
    base = spark.createDataFrame(
        [("d1", "t1", "en", 10), ("d2", "t2", "de", 20), ("d3", "t3", "fr", 30)],
        "id string, title string, lang string, n int",
    )
    wh.upsert("docs", base)
    n = wh.update(
        "docs",
        spark.createDataFrame(
            [("d1", "T1!", None), ("d3", "T3!", "es")],
            "id string, title string, lang string",
        ),
    )
    assert n == 2
    rows = {r["id"]: r for r in wh.table("docs").collect()}
    assert rows["d1"]["title"] == "T1!" and rows["d1"]["lang"] is None
    assert rows["d1"]["n"] == 10          # absent column kept
    assert rows["d2"] == ("d2", "t2", "de", 20)  # unmatched untouched
    assert rows["d3"]["title"] == "T3!" and rows["d3"]["lang"] == "es"

    # missing doc: document_missing_exception unless doc_as_upsert
    patch_new = spark.createDataFrame([("d9", "T9")], "id string, title string")
    with pytest.raises(ValueError, match="missing"):
        wh.update("docs", patch_new)
    wh.update("docs", patch_new, upsert=True)
    rows = {r["id"]: r for r in wh.table("docs").collect()}
    assert rows["d9"]["title"] == "T9" and rows["d9"]["lang"] is None

    # a batch repeating a key has no defined "last" row (a DataFrame is
    # unordered) and would fan the stored doc out: rejected, naming the
    # keys, table untouched
    dup = spark.createDataFrame(
        [("d1", "a"), ("d1", "b"), ("d2", "c"), ("d2", "d")],
        "id string, title string",
    )
    with pytest.raises(ValueError, match=r"duplicate keys.*\['d1', 'd2'\]"):
        wh.update("docs", dup, upsert=True)
    assert wh.count("docs") == 4

    # schema hygiene + alias routing
    with pytest.raises(ValueError, match="unknown columns"):
        wh.update("docs", spark.createDataFrame([("d1", 1)], "id string, bogus int"))
    with pytest.raises(ValueError, match="needs the 'id'"):
        wh.update("docs", spark.createDataFrame([("x",)], "title string"))
    wh.put_alias("write_docs", "docs")
    wh.update("write_docs", spark.createDataFrame(
        [("d2", "via-alias")], "id string, title string"))
    assert wh.get("docs", "d2")["title"] == "via-alias"
