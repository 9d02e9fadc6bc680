"""MinHash and SimHash built as one SQL parse per wide expression
(operators/dedup.py) equal the Column-by-Column build they replaced,
for both hash functions. The Column-by-Column build is kept here as
the reference; the ``xxhash64`` paths have no DuckDB oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from news_crawler_spark.operators.dedup import (
    SIMHASH_BITS,
    _MH_DOMAIN,
    _shingle_rows,
    minhash_band_table,
    minhash_signatures,
    simhash_band_values,
)

_BASE = ("the quick brown fox jumps over the lazy dog near the river "
         "bank while herons wade through reeds ")
DOCS = [
    (1, _BASE + "alpha ending"),
    (2, _BASE + "omega ending"),
    (3, "completely unrelated text about query optimizers and shuffles"),
    (4, "two words"),
    (5, "one"),
    (6, None),
    (7, "  Mixed   CASE and   extra   whitespace   survives normalizing  "),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _ref_signatures(df, num_hashes, shingle_n, hash_fn):
    sh = _shingle_rows(df, "text", "doc_id", shingle_n, distinct=False)
    if hash_fn == "xxhash64":
        hashed = sh.select(
            "doc_id",
            F.pmod(F.xxhash64("shingle"), F.lit(_MH_DOMAIN)).alias("_h1"),
            (F.pmod(F.xxhash64(F.lit("h2"), F.col("shingle")),
                    F.lit(_MH_DOMAIN)) + 1).alias("_h2"),
        )
    else:
        digest = F.sha2(F.col("shingle"), 256)
        hashed = sh.select(
            "doc_id",
            F.pmod(F.conv(F.substring(digest, 1, 15), 16, 10).cast("long"),
                   F.lit(_MH_DOMAIN)).alias("_h1"),
            (F.pmod(F.conv(F.substring(digest, 16, 15), 16, 10).cast("long"),
                    F.lit(_MH_DOMAIN)) + 1).alias("_h2"),
        )
    mins = hashed.groupBy("doc_id").agg(*[
        F.min(F.col("_h1") + F.lit(j) * F.col("_h2")).alias(f"_m{j}")
        for j in range(num_hashes)
    ])
    return mins.select(
        F.col("doc_id"),
        F.array(*[F.col(f"_m{j}") for j in range(num_hashes)]).alias("sig"))


def _ref_band_table(sigs, num_hashes, bands):
    r = num_hashes // bands
    return sigs.select(
        "doc_id",
        F.posexplode(F.array(*[
            F.concat_ws(",", F.slice(F.col("sig"), b * r + 1, r))
            for b in range(bands)
        ])).alias("band_id", "band_hash"))


def _ref_simhash(df, band_bits, hash_fn):
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    tok = df.select("doc_id", F.explode(toks).alias("_tok"))
    if hash_fn == "xxhash64":
        full = F.xxhash64("_tok")
        mask = F.lit((1 << 32) - 1)
        hashed = tok.select(
            "doc_id", full.bitwiseAND(mask).alias("_hl"),
            F.shiftright(full, 32).bitwiseAND(mask).alias("_hh"))
    else:
        digest = F.sha2(F.col("_tok"), 256)
        hashed = tok.select(
            "doc_id",
            F.conv(F.substring(digest, 1, 8), 16, 10).cast("long").alias("_hl"),
            F.conv(F.substring(digest, 9, 8), 16, 10).cast("long").alias("_hh"))
    votes = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(F.shiftright(F.col("_hl" if b < 32 else "_hh"), b % 32)
                .bitwiseAND(F.lit(1))).alias(f"_s{b}")
          for b in range(SIMHASH_BITS)])

    def band_val(k):
        return F.expr(" + ".join(
            f"(case when 2 * _s{k * band_bits + j} > _n "
            f"then {1 << j} else 0 end)" for j in range(band_bits)))

    return votes.select(
        "doc_id",
        F.posexplode(F.array(*[band_val(k)
                               for k in range(SIMHASH_BITS // band_bits)]))
        .alias("band_id", "band_val"))


def _same(got, want):
    assert got.schema == want.schema
    rows = sorted(got.collect())
    assert rows and rows == sorted(want.collect())


@pytest.mark.parametrize("hash_fn", ["sha2", "xxhash64"])
@pytest.mark.parametrize("num_hashes,bands,shingle_n", [(32, 8, 3), (12, 4, 1)])
def test_minhash_matches_column_by_column_build(spark, hash_fn, num_hashes,
                                                bands, shingle_n):
    df = _docs(spark)
    sigs = minhash_signatures(df, "text", "doc_id", num_hashes, shingle_n, hash_fn)
    ref = _ref_signatures(df, num_hashes, shingle_n, hash_fn)
    _same(sigs, ref)
    _same(minhash_band_table(sigs, num_hashes, bands, "doc_id"),
          _ref_band_table(ref, num_hashes, bands))


@pytest.mark.parametrize("hash_fn", ["sha2", "xxhash64"])
@pytest.mark.parametrize("band_bits", [16, 8])
def test_simhash_matches_column_by_column_build(spark, hash_fn, band_bits):
    df = _docs(spark)
    _same(simhash_band_values(df, "text", "doc_id", band_bits, hash_fn),
          _ref_simhash(df, band_bits, hash_fn))
