"""Atomic, snapshot-versioned parquet tables (Iceberg-like semantics).

The sandbox image ships no Iceberg/Delta jars, so resumable state
(SURVEY.md §7.1: frontier / url_seen / documents / lineage) is kept in
a minimal snapshot layer with the same *semantics* the design needs
from Iceberg:

* **atomic commit** — data files land first, then a single JSON
  manifest is published via ``os.replace`` (atomic on POSIX). Readers
  only ever see the table as-of a published manifest; a killed writer
  leaves garbage data files but never a torn table.
* **append / overwrite / merge-insert** — append adds a data dir to
  the manifest's cumulative list; MERGE INTO (insert-if-absent, the
  reference's sink-side dedup D5/D6, ``suricata.py:126-195``) is an
  anti-join + append.
* **time travel / rollback** — every manifest is retained; resume
  after a kill re-pins each state table to the snapshot ids recorded
  in the last complete lineage row (SURVEY.md §7.2 M5).

On a real cluster this module is swapped for Iceberg catalog tables;
the engine code only uses the four methods of :class:`SnapshotTable`,
so the swap is mechanical.

Layout::

    <root>/<name>/data/snap-<id>-<uuid>/part-*.parquet
    <root>/<name>/_manifest/<id:08d>.json   # {"id", "parent", "dirs": [...]}
    <root>/<name>/_manifest/CURRENT         # text: latest id

Manifest ``dirs`` are relative to ``<root>/<name>`` (an adopted dir of
a sibling table reads ``../<other>/data/...``), so a copied or moved
state root reads its own files. Absolute entries, as older manifests
hold, are read as they are.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from news_crawler_spark.tables.local import local_frame


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str, name: str, schema: T.StructType):
        self.spark = spark
        self.name = name
        self.schema = schema
        self.dir = os.path.join(root, name)
        self.data_dir = os.path.join(self.dir, "data")
        self.manifest_dir = os.path.join(self.dir, "_manifest")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------
    def current_snapshot(self) -> int:
        """Latest committed snapshot id; -1 for an empty table."""
        cur = os.path.join(self.manifest_dir, "CURRENT")
        if not os.path.exists(cur):
            return -1
        with open(cur) as f:
            return int(f.read().strip())

    def _manifest(self, snapshot_id: int) -> dict:
        with open(os.path.join(self.manifest_dir, f"{snapshot_id:08d}.json")) as f:
            return json.load(f)

    def _publish(self, manifest: dict) -> int:
        """Atomically publish a manifest and advance CURRENT."""
        sid = manifest["id"]
        path = os.path.join(self.manifest_dir, f"{sid:08d}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, path)
        cur_tmp = os.path.join(self.manifest_dir, f"CURRENT.tmp-{uuid.uuid4().hex}")
        with open(cur_tmp, "w") as f:
            f.write(str(sid))
        os.replace(cur_tmp, os.path.join(self.manifest_dir, "CURRENT"))
        return sid

    def _entry(self, path: str) -> str:
        """Manifest form of a data dir: relative to the table dir."""
        return os.path.relpath(path, self.dir)

    def _write_data(self, df: DataFrame, sid: int) -> str:
        d = os.path.join(self.data_dir, f"snap-{sid:08d}-{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(d)
        return self._entry(d)

    # -- operations ------------------------------------------------------
    def append(self, df: DataFrame) -> int:
        """Atomic append; returns the new snapshot id."""
        parent = self.current_snapshot()
        sid = parent + 1
        d = self._write_data(df, sid)
        dirs = self._manifest(parent)["dirs"] if parent >= 0 else []
        return self._publish({"id": sid, "parent": parent, "dirs": [*dirs, d]})

    def append_dir(self, path: str | list[str]) -> int:
        """Adopt one or more already-written parquet directories as a
        single append — zero-copy commit (the round's staging write IS
        the data file; Iceberg's add_files analog). Files may carry
        extra columns; reads project this table's schema."""
        paths = [path] if isinstance(path, str) else list(path)
        parent = self.current_snapshot()
        sid = parent + 1
        dirs = self._manifest(parent)["dirs"] if parent >= 0 else []
        return self._publish({"id": sid, "parent": parent,
                              "dirs": [*dirs, *map(self._entry, paths)]})

    _PA_TYPES = {
        "integer": "int32", "long": "int64", "string": "string",
        "double": "float64", "boolean": "bool_",
    }

    def append_rows(self, rows: list[tuple]) -> int:
        """Atomic append of a handful of driver-local rows WITHOUT a
        Spark job: the data file is written by pyarrow on the driver,
        then the manifest publishes as usual. This is what a real
        Iceberg driver does for metadata-sized commits — a lineage row
        per crawl round is one record, and scheduling a distributed
        write for it costs more than the write (one full job + task
        round trip per round, pure fixed overhead at any cluster
        size). Readers see the same table: ``read()`` projects the
        declared schema over the parquet file regardless of writer.
        Only flat int/long/string/double/bool schemas supported (the
        lineage shapes)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        fields = []
        for f in self.schema.fields:
            tname = f.dataType.typeName()
            if tname not in self._PA_TYPES:
                raise TypeError(
                    f"append_rows supports flat scalar schemas only; "
                    f"{f.name} is {tname}")
            fields.append(pa.field(f.name, getattr(pa, self._PA_TYPES[tname])()))
        pa_schema = pa.schema(fields)
        for r in rows:
            if len(r) != len(fields):
                raise ValueError(
                    f"append_rows row arity {len(r)} != schema arity "
                    f"{len(fields)} (extra values would be silently "
                    f"dropped)")
        cols = list(zip(*rows)) if rows else [[] for _ in fields]
        table = pa.table(
            {f.name: list(c) for f, c in zip(pa_schema, cols)},
            schema=pa_schema)
        parent = self.current_snapshot()
        sid = parent + 1
        d = os.path.join(self.data_dir, f"snap-{sid:08d}-{uuid.uuid4().hex[:8]}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))
        dirs = self._manifest(parent)["dirs"] if parent >= 0 else []
        return self._publish({"id": sid, "parent": parent,
                              "dirs": [*dirs, self._entry(d)]})

    def overwrite(self, df: DataFrame) -> int:
        parent = self.current_snapshot()
        sid = parent + 1
        d = self._write_data(df, sid)
        return self._publish({"id": sid, "parent": parent, "dirs": [d]})

    def merge_insert(self, df: DataFrame, key: str | list[str]) -> int:
        """MERGE INTO ... WHEN NOT MATCHED THEN INSERT (reference D5/D6).

        Rows of ``df`` whose key is absent from the current snapshot are
        appended; existing rows are untouched. Key-dup rows within
        ``df`` itself are first-wins-deduplicated by the caller.
        """
        keys = [key] if isinstance(key, str) else list(key)
        existing = self.read()
        novel = df.join(existing.select(*keys), on=keys, how="left_anti")
        return self.append(novel)

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """Table as-of a snapshot (default: current). An empty table is
        a driver-local empty relation (tables/local.py): it runs no
        Python tasks and the optimizer prunes joins against it."""
        sid = self.current_snapshot() if snapshot_id is None else snapshot_id
        dirs = self._manifest(sid)["dirs"] if sid >= 0 else []
        return self._scan(dirs)

    def read_snapshot_delta(self, snapshot_id: int | None = None) -> DataFrame:
        """Only the rows added by a snapshot (default: current) —
        the append's data dirs minus the parent's."""
        sid = self.current_snapshot() if snapshot_id is None else snapshot_id
        if sid < 0:
            return self._scan([])
        m = self._manifest(sid)
        parent_dirs = set(self._manifest(m["parent"])["dirs"]) if m["parent"] >= 0 else set()
        return self._scan([d for d in m["dirs"] if d not in parent_dirs])

    def _scan(self, entries: list[str]) -> DataFrame:
        if not entries:
            return local_frame(self.spark, [], self.schema)
        # os.path.join keeps an absolute entry as it is
        paths = [os.path.normpath(os.path.join(self.dir, e)) for e in entries]
        return self.spark.read.schema(self.schema).parquet(*paths)

    def rollback(self, snapshot_id: int) -> None:
        """Re-pin CURRENT to an earlier snapshot (resume path)."""
        if snapshot_id < 0:
            cur = os.path.join(self.manifest_dir, "CURRENT")
            if os.path.exists(cur):
                os.remove(cur)
            return
        # publish a CURRENT pointing at the old manifest (no new data)
        tmp = os.path.join(self.manifest_dir, f"CURRENT.tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(snapshot_id))
        os.replace(tmp, os.path.join(self.manifest_dir, "CURRENT"))
