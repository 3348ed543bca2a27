"""Index-management surface (S5-S8, A3/A4) over a parquet warehouse.

gocrawl's Elasticsearch index lifecycle maps to table DDL + row-level
ops:

| reference | here |
|---|---|
| CreateIndex/DeleteIndex/IndexExists/ListIndices (internal/storage/storage.go:418-539) | create/drop/exists/list over warehouse dirs |
| EnsureArticleIndex/EnsurePageIndex + canonical mappings (internal/storage/elasticsearch_index_manager.go:36-63, mappings/) | ensure_* with the §1.1 StructTypes |
| IndexDocument upsert by doc id, refresh=true (storage.go:85-139) | upsert(): dedupe keep-latest per key, read-your-writes |
| GetDocument/DeleteDocument (storage.go:156-209) | get()/delete() point ops |
| doc counts / cat indices (storage.go:313-361,633-662) | count()/list_tables() |

In production each table is an Iceberg table and upsert/delete are
`MERGE INTO`/`DELETE FROM` snapshot commits; the parquet
read-modify-overwrite here is the same semantics at local scale
(exercised behind the identical API, so swapping the catalog
implementation touches nothing else).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from gocrawl_spark.schema import ARTICLE, PAGE

# Spark ↔ ES field-type correspondence for the S6 mapping surface
_ES_FROM_SPARK = {
    "string": "text",
    "long": "long",
    "int": "integer",
    "short": "short",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "timestamp": "date",
    "date": "date",
    "binary": "binary",
}
_SPARK_FROM_ES = {
    "text": "string",
    "keyword": "string",
    "long": "long",
    "integer": "int",
    "short": "short",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "date": "timestamp",
    "binary": "binary",
}


# cmd/index/create.go:18-41 DefaultMapping — the schema `index create`
# gives a new index when the caller supplies none
DEFAULT_MAPPING = {
    "mappings": {
        "properties": {
            "title": {"type": "text"},
            "content": {"type": "text"},
            "url": {"type": "keyword"},
            "source": {"type": "keyword"},
            "published_at": {"type": "date"},
            "created_at": {"type": "date"},
        }
    }
}


def _field_mapping(dt) -> dict:
    """One schema field → its ES-mapping property dict. Arrays map to
    their element type (ES fields are implicitly multi-valued); structs
    map to nested ``properties``."""
    from pyspark.sql.types import ArrayType
    from pyspark.sql.types import StructType as _ST

    if isinstance(dt, _ST):
        return {"properties": {f.name: _field_mapping(f.dataType) for f in dt.fields}}
    if isinstance(dt, ArrayType):
        return _field_mapping(dt.elementType)
    s = dt.simpleString()
    return {"type": _ES_FROM_SPARK.get(s, s)}


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"bad table name: {name!r}")
        return os.path.join(self.root, name)

    # ------------------------------------------------------------- DDL (S6)
    def create_table(
        self, name: str, schema: StructType, if_not_exists: bool = True
    ) -> None:
        p = self._path(name)
        if os.path.isdir(p):
            if if_not_exists:
                return
            raise ValueError(f"table exists: {name}")
        self.spark.createDataFrame([], schema).write.parquet(p)

    def drop_table(self, name: str) -> None:
        shutil.rmtree(self._path(name), ignore_errors=True)

    def table_exists(self, name: str) -> bool:
        return os.path.isdir(self._path(name))

    def table_names(self) -> list[str]:
        """Table names, sorted. A ``NAME._tmp`` directory is a write in
        progress (upsert/update/delete stage there, then rename), not a
        table."""
        return [
            d for d in sorted(os.listdir(self.root))
            if os.path.isdir(os.path.join(self.root, d)) and not d.endswith("._tmp")
        ]

    def list_tables(self) -> list[tuple[str, int]]:
        """A4: (name, doc count) like `_cat/indices`."""
        return [(d, self.table(d).count()) for d in self.table_names()]

    # ------------------------------------------------------------ aliases
    _ALIASES_FILE = ".aliases.json"

    def aliases(self) -> dict:
        """alias → member index list (ES _aliases view). Stored as a
        dot-file in the warehouse root (table names may not start with
        '.', so no collision)."""
        p = os.path.join(self.root, self._ALIASES_FILE)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _save_aliases(self, a: dict) -> None:
        p = os.path.join(self.root, self._ALIASES_FILE)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(a, f, sort_keys=True)
        os.replace(tmp, p)

    def put_alias(self, alias: str, index: str) -> None:
        """ES PUT _alias: point `alias` at `index` (additive — an
        alias over several indices reads as their union, like ES
        multi-index search)."""
        if not alias or alias.startswith(".") or "/" in alias:
            raise ValueError(f"bad alias name: {alias!r}")
        if self.table_exists(alias):
            raise ValueError(f"alias collides with index: {alias}")
        if not self.table_exists(index):
            raise KeyError(index)
        a = self.aliases()
        members = a.setdefault(alias, [])
        if index not in members:
            members.append(index)
        self._save_aliases(a)

    def delete_alias(self, alias: str, index: "str | None" = None) -> None:
        """ES DELETE _alias: drop one member, or the whole alias."""
        a = self.aliases()
        if alias not in a:
            raise KeyError(alias)
        if index is None:
            del a[alias]
        else:
            a[alias] = [m for m in a[alias] if m != index]
            if not a[alias]:
                del a[alias]
        self._save_aliases(a)

    def resolve(self, name: str) -> list[str]:
        """alias → member indices; a concrete index resolves to
        itself."""
        return list(self.aliases().get(name, [name]))

    def get_index_health(self, name: str) -> str:
        """A4 health (GetIndexHealth, storage.go:600-630): green =
        readable with data files; yellow = exists but empty (created,
        nothing indexed beyond the schema stub); red = dir present but
        unreadable as a table."""
        p = self._path(name)
        if not os.path.isdir(p):
            raise KeyError(name)
        try:
            has_rows = bool(self.table(name).take(1))
        except Exception:
            return "red"
        return "green" if has_rows else "yellow"

    @staticmethod
    def ingestion_status(health: str) -> str:
        """cmd/index/list.go:173-184 mapping."""
        return {"green": "Active", "yellow": "Degraded", "red": "Failed"}.get(
            health, "Unknown"
        )

    def cat_indices(self) -> list[dict]:
        """A4 detail (`_cat/indices` + the list-command rendering,
        cmd/index/list.go:47-130): per index — health, ingestion
        status, doc count, size on disk (real bytes, where the
        reference renders N/A), file count, and a schema summary."""
        out = []
        for d in self.table_names():
            p = os.path.join(self.root, d)
            size = files = 0
            for root, _, names in os.walk(p):
                for n in names:
                    if not n.startswith(("_", ".")):
                        files += 1
                    size += os.path.getsize(os.path.join(root, n))
            health = self.get_index_health(d)
            row = {
                "index": d,
                "health": health,
                "status": self.ingestion_status(health),
                "docs": self.table(d).count() if health != "red" else 0,
                "size_bytes": size,
                "files": files,
                "columns": len(self.table(d).columns) if health != "red" else 0,
            }
            out.append(row)
        return out

    # -------------------------------------------------------- mappings (S6)
    def create_index(self, name: str, mapping: dict | None = None) -> bool:
        """`index create` (cmd/index/create.go:73-102): create NAME
        from an ES mapping dict — DefaultMapping when none given —
        and no-op returning False when the index already exists (the
        reference logs "Index already exists" and returns nil)."""
        from pyspark.sql.types import StructType

        if self.table_exists(name):
            return False
        props = (
            (mapping or DEFAULT_MAPPING).get("mappings", {}).get("properties")
            or (mapping or DEFAULT_MAPPING).get("properties")
            or {}
        )
        cols = []
        for fname, spec in props.items():
            es_t = spec.get("type", "text")
            spark_t = _SPARK_FROM_ES.get(es_t)
            if spark_t is None:
                raise ValueError(f"unsupported mapping type for [{fname}]: {es_t!r}")
            cols.append(f"{fname} {spark_t}")
        self.create_table(name, StructType.fromDDL(", ".join(cols)))
        return True

    def get_mapping(self, name: str) -> dict:
        """S6 GetMapping (storage.go:542-570): the table schema rendered
        as the ES get-mapping response shape
        ``{index: {"mappings": {"properties": {...}}}}``."""
        schema = self.table(name).schema
        return {
            name: {
                "mappings": {
                    "properties": {
                        f.name: _field_mapping(f.dataType) for f in schema.fields
                    }
                }
            }
        }

    def update_mapping(self, name: str, mapping: dict) -> None:
        """S6 UpdateMapping (storage.go:573-598) with ES PutMapping
        semantics: ADDITIVE only. New properties become new null-filled
        columns; changing an existing field's type is rejected like
        ES's "mapper cannot be changed". The local parquet rewrite is
        Iceberg's metadata-only ``ALTER TABLE ADD COLUMNS`` at scale —
        no data files move there."""
        props = (
            mapping.get("properties")
            or mapping.get("mappings", {}).get("properties")
            or {}
        )
        current = self.get_mapping(name)[name]["mappings"]["properties"]
        additions = []
        for fname, spec in props.items():
            if fname in current:
                if spec != current[fname]:
                    raise ValueError(
                        f"mapper for [{fname}] cannot be changed: "
                        f"{current[fname]} -> {spec}"
                    )
                continue
            es_t = spec.get("type", "text")
            spark_t = _SPARK_FROM_ES.get(es_t)
            if spark_t is None:
                raise ValueError(f"unsupported mapping type for [{fname}]: {es_t!r}")
            additions.append((fname, spark_t))
        if not additions:
            return
        df = self.table(name)
        for fname, t in additions:
            df = df.withColumn(fname, F.lit(None).cast(t))
        p = self._path(name)
        tmp = p + "._tmp"
        df.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(p, ignore_errors=True)
        os.rename(tmp, p)

    # ------------------------------------------------- canonical tables (S7)
    def ensure_article_index(self, name: str = "articles") -> None:
        self.create_table(name, ARTICLE, if_not_exists=True)

    def ensure_page_index(self, name: str = "pages") -> None:
        self.create_table(name, PAGE, if_not_exists=True)

    # ------------------------------------------------------------ rows (S5)
    def table(self, name: str) -> DataFrame:
        members = self.aliases().get(name)
        if members:
            # multi-index alias reads as the union (ES multi-index
            # search); schemas may differ per index — missing columns
            # null-fill like ES's sparse doc fields
            dfs = [self.spark.read.parquet(self._path(m)) for m in members]
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d, allowMissingColumns=True)
            return out
        return self.spark.read.parquet(self._path(name))

    def upsert(self, name: str, df: DataFrame, key: str = "id") -> None:
        """Doc-id upsert: incoming rows overwrite same-key rows,
        read-your-writes (the refresh=true contract). MERGE INTO
        analogue: keep-latest-per-key with incoming preferred."""
        members = self.aliases().get(name)
        if members is not None:
            if len(members) != 1:
                raise ValueError(
                    f"cannot write through multi-index alias: {name}"
                )
            name = members[0]  # ES single-member write alias
        p = self._path(name)
        current = self.table(name) if os.path.isdir(p) else None
        incoming = df.withColumn("_gen", F.lit(1))
        merged = (
            incoming
            if current is None
            else current.withColumn("_gen", F.lit(0)).unionByName(incoming)
        )
        w = Window.partitionBy(key).orderBy(F.desc("_gen"))
        out = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_gen")
        )
        tmp = p + "._tmp"
        out.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(p, ignore_errors=True)
        os.rename(tmp, p)

    def update(
        self, name: str, df: DataFrame, key: str = "id", upsert: bool = False
    ) -> int:
        """ES partial-document update (reference DocumentManager.Update,
        /root/reference/internal/api/indexing.go:18-19 — distinct from
        Index/upsert): merge the INCOMING COLUMNS into the existing
        doc; columns absent from ``df`` keep their stored values (an
        explicitly provided NULL cell sets NULL, ES's partial-doc
        rule). A key with no stored doc raises (ES
        document_missing_exception) unless ``upsert=True``
        (doc_as_upsert: the partial doc inserts, absent columns NULL).
        Returns the number of incoming rows applied. A batch that
        repeats a key raises: a DataFrame has no row order, so there is
        no "last" patch to keep, and the join would fan the stored doc
        out into one row per patch.

        Plan: one key-equi join of the store against the (small)
        update batch + per-column coalesce-by-hit — the Iceberg
        ``MERGE INTO ... WHEN MATCHED THEN UPDATE SET col = ...``
        with an explicit column list, vs upsert's ``UPDATE SET *``."""
        members = self.aliases().get(name)
        if members is not None:
            if len(members) != 1:
                raise ValueError(
                    f"cannot write through multi-index alias: {name}"
                )
            name = members[0]
        stored = self.table(name)
        extra = [c for c in df.columns if c not in stored.columns]
        if extra:
            raise ValueError(f"unknown columns in partial update: {extra}")
        if key not in df.columns:
            raise ValueError(f"partial update needs the {key!r} column")
        n_inc, n_keyed, n_keys = df.agg(
            F.count(F.lit(1)), F.count(key), F.countDistinct(key)
        ).first()
        if n_keyed != n_keys:
            dups = [
                r[key] for r in
                df.groupBy(key).count().filter("count > 1").orderBy(key)
                .limit(5).collect()
            ]
            raise ValueError(f"duplicate keys in partial update batch: {dups}")
        if not upsert:
            missing = df.select(key).join(
                stored.select(key), key, "left_anti"
            )
            miss_rows = [r[key] for r in missing.limit(5).collect()]
            if miss_rows:
                raise ValueError(
                    f"document(s) missing for partial update: {miss_rows}"
                    " (pass upsert=True for doc_as_upsert)"
                )
        inc = df.withColumn("_hit", F.lit(1))
        how = "full_outer" if upsert else "left"
        joined = stored.alias("s").join(
            inc.alias("i"), F.col(f"s.{key}") == F.col(f"i.{key}"), how
        )
        cols = []
        for c in stored.columns:
            if c == key:
                cols.append(
                    F.coalesce(F.col(f"s.{key}"), F.col(f"i.{key}")).alias(key)
                )
            elif c in df.columns:
                cols.append(
                    F.when(F.col("i._hit") == 1, F.col(f"i.{c}"))
                    .otherwise(F.col(f"s.{c}"))
                    .alias(c)
                )
            else:
                cols.append(F.col(f"s.{c}").alias(c))
        out = joined.select(*cols)
        p = self._path(name)
        tmp = p + "._tmp"
        out.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(p, ignore_errors=True)
        os.rename(tmp, p)
        return n_inc

    def get(self, name: str, doc_id: str, key: str = "id"):
        """S8 point lookup; returns Row or None."""
        rows = self.table(name).filter(F.col(key) == doc_id).limit(1).collect()
        return rows[0] if rows else None

    def delete(self, name: str, doc_id: str, key: str = "id") -> None:
        """S8 row-level delete (Iceberg `DELETE FROM` analogue)."""
        members = self.aliases().get(name)
        if members is not None:
            if len(members) != 1:
                raise ValueError(
                    f"cannot write through multi-index alias: {name}"
                )
            name = members[0]
        p = self._path(name)
        out = self.table(name).filter(F.col(key) != doc_id)
        tmp = p + "._tmp"
        out.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(p, ignore_errors=True)
        os.rename(tmp, p)

    # ---------------------------------------------------------- aggs (A1/A3)
    def count(self, name: str, predicate=None) -> int:
        df = self.table(name)
        return (df.filter(predicate) if predicate is not None else df).count()

    # -------------------------------------------------------------- export
    def export_jsonl(
        self, name: str, path: str, mapping: "dict[str, str] | None" = None
    ) -> int:
        """Emit an index as JSONL shards — the training-data delivery
        format (one JSON object per line, one file per partition,
        written by the executors; the driver never sees a row).
        ``mapping`` selects + renames on the way out, e.g.
        {"body": "text", "source": "url"}; None dumps every column.
        Timestamps serialize ISO-8601 (Spark's JSON writer default).
        Returns the exported row count."""
        from pyspark.sql import functions as F

        df = self.table(name)
        if mapping:
            df = df.select([F.col(k).alias(v) for k, v in mapping.items()])
        df.write.mode("overwrite").json(path)
        return self.spark.read.json(path).count()
