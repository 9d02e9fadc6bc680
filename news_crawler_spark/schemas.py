"""Explicit StructType schemas for every engine table.

The reference declares fixed schemas via dataclasses/pydantic
(reference ``src/secbot/fetchers/news.py:71-82``, ``config.py:33-177``);
we declare fixed StructTypes — never ``inferSchema`` (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import types as T

# -- canonical input/output: interleaved text+media documents -----------
# BASELINE.json input_hint: documents(doc_id, spans:array<struct<...>>).
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),      # text|link|media|date|title
        T.StructField("text", T.StringType(), False),      # '' for pure media
        T.StructField("media_ref", T.StringType(), False), # href/src, '' otherwise
        T.StructField("offset", T.IntegerType(), False),   # strictly increasing
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN, False), False),
    ]
)

# -- crawl state tables (SURVEY.md §7.1) ---------------------------------
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),     # xxhash64: partitioning key
        T.StructField("url_sha", T.StringType(), False),    # sha2-256: exact seen key (P9)
        T.StructField("host", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("priority", T.DoubleType(), False),   # freshness x host budget input
        T.StructField("discovered_round", T.IntegerType(), False),
        T.StructField("attempt", T.IntegerType(), False),
        T.StructField("not_before", T.IntegerType(), False),  # round gate for retries (T4)
    ]
)

URL_SEEN = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url_sha", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("seen_round", T.IntegerType(), False),
    ]
)

# one row per scheduled fetch: its disposition drives every downstream
# view (url_seen = ok rows, dead = dead rows, crawl_log = all rows) —
# a single append + a single anti-join read per round instead of three
RESOLVED = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url_sha", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("seq", T.IntegerType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("attempt", T.IntegerType(), False),  # consumed slot
        T.StructField("status", T.IntegerType(), False),
        T.StructField("disposition", T.StringType(), False),  # ok|dead|retry
    ]
)

HOSTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("crawl_delay", T.DoubleType(), False),  # politeness (T3)
        T.StructField("budget", T.IntegerType(), False),      # max fetches/round
        T.StructField("disallow", T.ArrayType(T.StringType(), False), False),  # robots
    ]
)

# fetch results within a round, before state appends
FETCHED = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url_sha", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("discovered_round", T.IntegerType(), False),
        T.StructField("attempt", T.IntegerType(), False),
        T.StructField("seq", T.IntegerType(), False),        # per-host fetch order
        T.StructField("status", T.IntegerType(), False),     # 200|404|503|-1 (T5)
        T.StructField("title", T.StringType(), True),
        T.StructField("published", T.TimestampType(), True),
        T.StructField("spans", T.ArrayType(SPAN, False), True),
    ]
)

# the round's staging layout: FETCHED plus the derived doc_id and the
# disposition partition column. Declared explicitly so the staging
# read never schema-infers — a zero-row round leaves only _SUCCESS and
# inference would throw UNABLE_TO_INFER_SCHEMA.
STAGED = T.StructType(
    [
        *FETCHED.fields,
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("disposition", T.StringType(), False),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("scheduled", T.LongType(), False),
        T.StructField("fetched_ok", T.LongType(), False),
        T.StructField("errors", T.LongType(), False),
        T.StructField("new_urls", T.LongType(), False),
        T.StructField("frontier_snapshot", T.IntegerType(), False),
        T.StructField("resolved_snapshot", T.IntegerType(), False),
        T.StructField("documents_snapshot", T.IntegerType(), False),
        # keeps its name for on-disk compatibility; holds the url-seen
        # digest (older rows: "<url-seen digest>:<bloom shard digest>")
        T.StructField("bloom_digest", T.StringType(), False),
        T.StructField("committed_at", T.StringType(), False),
    ]
)

# synthetic web fixture (FIXTURES.md §2)
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("fetch_ms", T.IntegerType(), False),
        T.StructField("title", T.StringType(), False),
        T.StructField("published", T.TimestampType(), True),
        T.StructField("spans", T.ArrayType(SPAN, False), False),
    ]
)

EXPECTED_CRAWL = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("seq", T.IntegerType(), False),
        T.StructField("url", T.StringType(), False),
    ]
)
