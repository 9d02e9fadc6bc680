"""Source-format readers and the foreachBatch snapshot sink."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from news_crawler_spark.sources.readers import (
    read_documents_jsonl,
    read_seeds_csv,
)
from news_crawler_spark.tables import SnapshotTable

SF_DIR = "/root/testdata/sf0.001"


def test_read_seeds_csv(spark, tmp_path):
    p = tmp_path / "seeds.csv"
    p.write_text("url,priority\nhttp://a.test/p0,0.9\nhttp://b.test/p0,\n")
    got = {r.url: r.priority for r in read_seeds_csv(spark, str(p)).collect()}
    assert got == {"http://a.test/p0": 0.9, "http://b.test/p0": 1.0}


def test_read_documents_jsonl(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text('{"doc_id": 1, "text": "hello world", "lang": "en", '
                 '"source": "s", "n_chars": 11}\n')
    r = read_documents_jsonl(spark, str(p)).collect()[0]
    assert (r.doc_id, r.text, r.n_chars) == (1, "hello world", 11)


def test_foreach_batch_snapshot_sink(spark, tmp_path):
    from news_crawler_spark.streaming.events import EVENTS_SCHEMA
    from news_crawler_spark.streaming.sink import snapshot_table_sink

    src = str(tmp_path / "src")
    events = spark.read.parquet(f"{SF_DIR}/events.parquet").limit(100)
    events.coalesce(1).write.parquet(src)

    out_schema = T.StructType(
        [T.StructField("event_type", T.StringType(), True),
         T.StructField("n", T.LongType(), False),
         T.StructField("epoch", T.LongType(), True)]
    )
    table = SnapshotTable(spark, str(tmp_path), "agg_sink", out_schema)
    stream = (spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(src)
              .groupBy("event_type").agg(F.count("*").alias("n")))
    q = (stream.writeStream.outputMode("complete")
         .foreachBatch(snapshot_table_sink(table))
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    batch_counts = {r.event_type: r.n for r in
                    events.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    got = {r.event_type: r.n for r in table.read().collect()}
    assert got == batch_counts

    # replayed epoch is a no-op (idempotent sink)
    snapshot_table_sink(table)(table.read().drop("epoch"), 0)
    assert table.read().count() == len(batch_counts)


def test_orc_roundtrip(spark, tmp_path):
    from news_crawler_spark.sources.readers import read_documents_orc

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text", "lang", "source", "n_chars")
    p = str(tmp_path / "docs_orc")
    docs.write.orc(p)
    got = read_documents_orc(spark, p)
    assert got.count() == docs.count()
    assert {r.doc_id for r in got.limit(50).collect()} <= \
        {r.doc_id for r in docs.collect()}
