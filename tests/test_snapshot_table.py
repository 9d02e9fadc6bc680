"""SnapshotTable: atomic append/overwrite/merge/time-travel/rollback."""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from news_crawler_spark.tables import SnapshotTable

SCHEMA = T.StructType(
    [T.StructField("k", T.LongType(), False), T.StructField("v", T.StringType(), False)]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_append_and_read(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path), "t", SCHEMA)
    assert t.current_snapshot() == -1
    assert t.read().count() == 0
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    assert t.current_snapshot() == 1
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]


def test_time_travel_and_rollback(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path), "t", SCHEMA)
    t.append(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    assert t.read(snapshot_id=0).count() == 1
    t.rollback(0)
    assert t.read().count() == 1
    # appends after rollback branch from the pinned snapshot
    t.append(_df(spark, [(9, "z")]))
    assert sorted(r.k for r in t.read().collect()) == [1, 9]


def test_overwrite(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path), "t", SCHEMA)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.overwrite(_df(spark, [(7, "q")]))
    assert [r.k for r in t.read().collect()] == [7]
    assert t.read(snapshot_id=0).count() == 2  # history retained


def test_merge_insert_is_idempotent(spark, tmp_path):
    """MERGE INTO insert-if-absent — the reference's sink-side dedup
    (D5/D6, suricata.py:126-195: re-running block() adds nothing)."""
    t = SnapshotTable(spark, str(tmp_path), "t", SCHEMA)
    t.merge_insert(_df(spark, [(1, "a"), (2, "b")]), key="k")
    t.merge_insert(_df(spark, [(2, "B"), (3, "c")]), key="k")
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}  # existing row untouched
    t.merge_insert(_df(spark, [(2, "B"), (3, "c")]), key="k")
    assert t.read().count() == 3


def test_append_rows_driver_side(spark, tmp_path):
    """append_rows writes the data file on the driver (no Spark job)
    but commits through the same manifest protocol: interleaves with
    distributed appends, honors rollback, and read() returns the
    declared Spark schema over the pyarrow-written file."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("round", T.IntegerType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("tag", T.StringType(), False),
        T.StructField("rate", T.DoubleType(), False),
        T.StructField("ok", T.BooleanType(), False),
    ])
    t = SnapshotTable(spark, str(tmp_path), "lin", schema)
    t.append_rows([(0, 10, "a", 1.5, True)])
    t.append_rows([(1, 20, "b", 2.5, False)])
    t.append(spark.createDataFrame([(2, 30, "c", 3.5, True)], schema))
    got = {r.round: (r.n, r.tag, r.rate, r.ok)
           for r in t.read().collect()}
    assert got == {0: (10, "a", 1.5, True), 1: (20, "b", 2.5, False),
                   2: (30, "c", 3.5, True)}
    assert [f.dataType for f in t.read().schema.fields] == \
        [f.dataType for f in schema.fields]
    t.rollback(1)
    assert t.read().count() == 2

    import pytest as _pytest
    nested = T.StructType(
        [T.StructField("xs", T.ArrayType(T.LongType()), True)])
    t2 = SnapshotTable(spark, str(tmp_path), "bad", nested)
    with _pytest.raises(TypeError):
        t2.append_rows([([1, 2],)])


def test_observation_on_empty_read_reports_zero(spark, tmp_path):
    """An Observation over an empty table's read (the crawl's round-0
    and zero-work shapes) still reports its metrics: the empty local
    relation's action completes and fills ``n = 0`` promptly."""
    t = SnapshotTable(spark, str(tmp_path), "t", SCHEMA)
    obs = Observation()
    got = {}

    def run():
        t.read().observe(obs, F.count(F.lit(1)).alias("n")).count()
        got.update(obs.get)

    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(timeout=120)
    assert not th.is_alive(), "Observation on an empty read did not complete"
    assert got == {"n": 0}


def test_manifests_hold_relative_dirs_and_read_absolute_ones(spark, tmp_path):
    """New manifest entries are relative to the table dir; entries an
    older writer stored as absolute paths still read, and appends on
    top of them keep both forms working."""
    t = SnapshotTable(spark, str(tmp_path), "t", SCHEMA)
    t.append(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    assert not any(os.path.isabs(d) for d in t._manifest(1)["dirs"])
    for sid in (0, 1):  # rewrite as absolute-path manifests
        path = os.path.join(t.manifest_dir, f"{sid:08d}.json")
        with open(path) as f:
            m = json.load(f)
        m["dirs"] = [os.path.join(t.dir, d) for d in m["dirs"]]
        with open(path, "w") as f:
            json.dump(m, f)

    t = SnapshotTable(spark, str(tmp_path), "t", SCHEMA)
    assert sorted(r.k for r in t.read().collect()) == [1, 2]
    assert [r.k for r in t.read_snapshot_delta().collect()] == [2]
    t.append(_df(spark, [(3, "c")]))
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]
    assert [r.k for r in t.read_snapshot_delta().collect()] == [3]
    assert [os.path.isabs(d) for d in t._manifest(2)["dirs"]] == \
        [True, True, False]
