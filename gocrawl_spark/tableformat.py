"""Table-format seam: the crawl lineage's round-commit protocol behind
one interface, so the sandbox's parquet-directory layout and a real
Iceberg catalog are interchangeable (docs/ICEBERG.md maps every call
onto Iceberg operations; BASELINE.json's north rule names Iceberg
snapshot tables as the production state store).

Two in-repo implementations, behaviorally equivalent and covered by
the same parameterized resume e2e tests (tests/test_crawl_e2e.py):

- :class:`ManifestLast` — today's layout: each round's state lands
  under ``rounds/round=NNNN/`` and a ``MANIFEST.json`` marker is
  written LAST; a crash between writes leaves no marker, so the round
  does not exist. Commit visibility = marker-file existence.

- :class:`SnapshotLog` — the Iceberg-SHAPED twin: every commit
  appends an immutable ``metadata/vN.metadata.json`` snapshot record
  (round number, payload, parent pointer) and then atomically swaps
  the ``metadata/version-hint.text`` pointer (``os.replace``) — the
  exact commit model of an Iceberg table (new metadata file, then the
  catalog's atomic current-metadata pointer swap). A metadata file
  the pointer never reached is invisible, same crash semantics as the
  missing manifest. ``expire`` drops snapshot records older than a
  version while keeping the current chain — Iceberg's
  ``expire_snapshots``.

Both protocols answer the only three questions the crawl driver asks:
is round r committed, what is the last committed round, and commit
round r with this payload. Everything else in rounds.py (delta-dir
unions, compaction, bloom/cuckoo folds) is pure data-file layout and
maps onto Iceberg data/manifest files unchanged. Row counts come from
the data files' footers (:func:`record_count`), the analogue of the
``record_count`` an Iceberg manifest keeps per data file.
"""

from __future__ import annotations

import json
import os


class ManifestLast:
    """MANIFEST.json-written-last commit protocol (the parquet-dir
    analogue of an Iceberg snapshot commit; rounds.py's historical
    behavior, unchanged)."""

    name = "manifest"

    def __init__(self, run_dir: str):
        self.run_dir = run_dir

    def _marker(self, rnd: int) -> str:
        return os.path.join(
            self.run_dir, "rounds", f"round={rnd:04d}", "MANIFEST.json"
        )

    def commit(self, rnd: int, payload: dict) -> None:
        os.makedirs(os.path.dirname(self._marker(rnd)), exist_ok=True)
        with open(self._marker(rnd), "w") as f:
            json.dump(payload, f, default=str)

    def is_committed(self, rnd: int) -> bool:
        return os.path.exists(self._marker(rnd))

    def last_committed(self) -> int | None:
        base = os.path.join(self.run_dir, "rounds")
        if not os.path.isdir(base):
            return None
        rounds = [
            int(d.split("=")[1])
            for d in os.listdir(base)
            if d.startswith("round=")
            and os.path.exists(os.path.join(base, d, "MANIFEST.json"))
        ]
        return max(rounds) if rounds else None

    def read_payload(self, rnd: int) -> dict | None:
        if not self.is_committed(rnd):
            return None
        with open(self._marker(rnd)) as f:
            return json.load(f)


class SnapshotLog:
    """Iceberg-shaped snapshot-log commit protocol: append-only
    ``metadata/vN.metadata.json`` records + an atomically swapped
    ``version-hint.text`` current pointer. In production the pointer
    swap is the catalog's compare-and-swap on the table's metadata
    location; ``os.replace`` is the single-filesystem stand-in with
    the same all-or-nothing visibility."""

    name = "snapshot"

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.meta_dir = os.path.join(run_dir, "metadata")

    def _hint(self) -> str:
        return os.path.join(self.meta_dir, "version-hint.text")

    def _mfile(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version}.metadata.json")

    def current_version(self) -> int | None:
        try:
            with open(self._hint()) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return None

    def _chain(self) -> list[dict]:
        """Committed snapshot records, oldest→newest, following parent
        pointers back from the current version (expired ancestors are
        simply absent — the chain stops there, as after Iceberg
        snapshot expiration)."""
        v = self.current_version()
        out: list[dict] = []
        while v is not None and v >= 1:
            try:
                with open(self._mfile(v)) as f:
                    rec = json.load(f)
            except OSError:
                break  # expired ancestor: history ends here
            out.append(rec)
            v = rec.get("parent")
        out.reverse()
        return out

    def commit(self, rnd: int, payload: dict) -> None:
        os.makedirs(self.meta_dir, exist_ok=True)
        cur = self.current_version()
        v = 1 if cur is None else cur + 1
        rec = {
            "snapshot_id": v,
            "round": int(rnd),
            "parent": cur,
            "payload": json.loads(json.dumps(payload, default=str)),
        }
        with open(self._mfile(v), "w") as f:
            json.dump(rec, f)
        tmp = self._hint() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._hint())  # the atomic pointer swap

    def _rounds(self) -> set[int]:
        return {rec["round"] for rec in self._chain()}

    def is_committed(self, rnd: int) -> bool:
        return rnd in self._rounds()

    def last_committed(self) -> int | None:
        rounds = self._rounds()
        return max(rounds) if rounds else None

    def read_payload(self, rnd: int) -> dict | None:
        for rec in reversed(self._chain()):
            if rec["round"] == rnd:
                return rec["payload"]
        return None

    def expire(self, keep_last: int = 2) -> int:
        """Iceberg ``expire_snapshots``: drop metadata records older
        than the last ``keep_last`` snapshots (the data-file deletes
        are compaction's job, as in rounds.CrawlRun.compact). Returns
        the number of records removed."""
        chain = self._chain()
        drop = chain[:-keep_last] if keep_last > 0 else chain
        removed = 0
        for rec in drop:
            try:
                os.remove(self._mfile(rec["snapshot_id"]))
                removed += 1
            except OSError:
                pass
        return removed


PROTOCOLS = {"manifest": ManifestLast, "snapshot": SnapshotLog}


def make_protocol(name: str, run_dir: str):
    try:
        return PROTOCOLS[name](run_dir)
    except KeyError:
        raise ValueError(
            f"unknown table_format {name!r}; one of {sorted(PROTOCOLS)}"
        ) from None


def detect_last_committed(run_dir: str) -> int | None:
    """Last committed round under EITHER protocol (module-level helper
    for callers that only hold a run_dir)."""
    best = None
    for cls in PROTOCOLS.values():
        got = cls(run_dir).last_committed()
        if got is not None and (best is None or got > best):
            best = got
    return best


def committed_protocols(run_dir: str) -> list[str]:
    """Names of the protocols that hold at least one committed round."""
    return [n for n, cls in PROTOCOLS.items() if cls(run_dir).last_committed() is not None]


# ---------------------------------------------------------------------------
# Data-file statistics. Iceberg answers a table's row count from the
# ``record_count`` its manifests keep per data file, without a scan; a
# parquet footer carries the same figure (``num_rows``), so the driver
# reads it here instead of running a count job. Spark also records the
# schema it wrote in every footer, which is what its own schema
# inference reads back — taking it from the footer skips that job too.
# ---------------------------------------------------------------------------

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def data_files(path: str) -> list[str]:
    """A table directory's parquet data files, sorted. Names starting
    with ``_`` or ``.`` (``_SUCCESS``, ``.crc``, ``_temporary``) are not
    data, as for Spark's file index."""
    out = []
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        out.extend(os.path.join(root, n) for n in names if not n.startswith(("_", ".")))
    return sorted(out)


def record_count(path: str) -> int:
    """Rows in a table directory, summed from its data files' footers."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in data_files(path))


def spark_schema(path: str):
    """The Spark schema recorded in the footer of a table directory's
    first data file (Spark's writer and :func:`overwrite_table` both
    record it)."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    files = data_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet data file under {path}")
    raw = (pq.read_metadata(files[0]).metadata or {}).get(_SPARK_SCHEMA_KEY)
    if raw is None:
        raise ValueError(f"{files[0]} records no Spark schema")
    return StructType.fromJson(json.loads(raw))


def overwrite_table(path: str, rows: list, schema) -> None:
    """Replace a table directory's contents with one parquet file of
    ``rows`` (tuples in ``schema``'s field order), written by the driver
    as ``mode("overwrite")`` would, without a Spark job. The footer
    records ``schema`` the way Spark's writer does, so Spark reads the
    file back with exactly that schema. The file is staged in
    ``PATH._tmp`` and then moved in place of the directory, so a crash
    never leaves a half-written file in it; a resumed round rewrites
    the directory whole."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema).with_metadata({_SPARK_SCHEMA_KEY: schema.json()})
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=arrow)
    tmp = path + "._tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "part-00000.snappy.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
