"""Partitioned bloom filter over the resolved-slot set (SURVEY.md §7.2 M4).

A standalone library module: the crawl engine does not use it. Its
users are the tests and the benchmark's ``bloom.*`` probes.

The scale-critical join is ``frontier ⟂ resolved`` (10^10 rows both
sides). A bloom pre-filter answers "definitely not resolved" for
pending rows, so an exact anti-join would only see bloom-positives.
Correctness stays exact: the bloom is only a router — negatives are
*provably* unresolved (no false negatives), positives are re-checked
exactly. The engine ran it as such a router until an interleaved A/B
on the benchmark's crawl_backlog workload showed the exact slot
anti-join alone no slower, with lower memory and a faster resume.

Layout: ``n_shards`` independent filters keyed by
``shard_id = slot_hash mod n_shards``; each shard is a numpy bit
array built/probed vectorized (no per-row Python). In the sandbox the
shard set is broadcast (MBs); at 10^10 scale (~12.5 GB total at
10 bits/key) the same blobs live as a table co-partitioned with the
frontier buckets and each probe task loads only its shard — the
probe function below is shard-local either way.

Bloom over cuckoo, deliberately: a cuckoo filter buys deletion and
slightly better space at high load factors, but the URL-seen set is
append-only (URLs are never un-seen), inserts here are vectorized
numpy scatter (cuckoo kick-out loops are per-element), and regrow is
a rebuild either way — so the bloom's simplicity wins. The shard
interface (add/probe/digest/snapshot) is filter-agnostic if that
trade ever flips.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

K_HASHES = 7
BITS_PER_KEY = 12


def slot_hash_col() -> F.Column:
    """The 64-bit scheduling-slot key: xxhash64(url_hash, attempt)."""
    return F.xxhash64(F.col("url_hash"), F.col("attempt"))


def _positions(keys: np.ndarray, m_bits: int) -> np.ndarray:
    """(len(keys), K_HASHES) bit positions via double hashing."""
    h = keys.astype(np.uint64)
    h1 = h * np.uint64(0x9E3779B97F4A7C15)
    h1 ^= h1 >> np.uint64(29)
    h2 = (h * np.uint64(0xBF58476D1CE4E5B9)) | np.uint64(1)
    i = np.arange(K_HASHES, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


class BloomShards:
    """Driver-held shard set with vectorized add/probe and auto-regrow."""

    def __init__(self, n_shards: int = 16, capacity: int = 1 << 20):
        self.n_shards = n_shards
        self.capacity = capacity  # keys per shard before regrow
        self.m_bits = capacity * BITS_PER_KEY
        self.bits = [np.zeros(self.m_bits // 8, dtype=np.uint8)
                     for _ in range(n_shards)]
        self.counts = [0] * n_shards
        self._key_xor = 0  # order-insensitive key-set digest state
        self._key_n = 0

    def add(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        keys = keys.astype(np.int64)
        self._key_xor ^= int(np.bitwise_xor.reduce(keys.astype(np.uint64)))
        self._key_n += len(keys)
        shard_of = (keys % self.n_shards + self.n_shards) % self.n_shards
        for s in range(self.n_shards):
            ks = keys[shard_of == s]
            if len(ks) == 0:
                continue
            pos = _positions(ks, self.m_bits).ravel()
            np.bitwise_or.at(self.bits[s], pos >> 3,
                             np.uint8(1) << (pos & 7).astype(np.uint8))
            self.counts[s] += len(ks)

    def needs_regrow(self) -> bool:
        return max(self.counts) > self.capacity

    def digest(self) -> str:
        """Digest of the absorbed KEY SET (xor+count), not the bit
        arrays — invariant under regrow, so a resume-time rebuild from
        the resolved table must reproduce it exactly."""
        return hashlib.sha256(
            f"{self._key_xor}|{self._key_n}|{self.n_shards}".encode()
        ).hexdigest()[:16]

    def absorb_blobs(self, rows) -> None:
        """OR distributed-built shard blobs (see :func:`build_shard_blobs`)
        into this shard set. Blob m_bits must equal this set's m_bits."""
        for r in rows:
            blob = np.frombuffer(r["bits"], dtype=np.uint8)
            if len(blob) != len(self.bits[r["shard_id"]]):
                raise ValueError("shard blob size mismatch (m_bits changed?)")
            np.bitwise_or(self.bits[r["shard_id"]], blob,
                          out=self.bits[r["shard_id"]])
            self.counts[r["shard_id"]] += int(r["count"])
            self._key_xor ^= int(np.uint64(np.int64(r["key_xor"])))
            self._key_n += int(r["count"])

    def snapshot(self) -> dict:
        """Pickle-friendly payload for broadcast."""
        return {"n_shards": self.n_shards, "m_bits": self.m_bits,
                "bits": self.bits}


def build_shard_blobs(df: DataFrame, n_shards: int, m_bits: int) -> list:
    """Distributed shard build: groupBy ``shard_id`` → applyInPandas
    builds each shard's bit array executor-side; only the blobs
    (n_shards × m_bits/8 bytes) reach the driver — never the keys.

    At 10^10 resolved slots the old driver-side path collected ~80 GB
    of slot hashes through ``toPandas``; this build shuffles keys once
    by shard and ships back fixed-size blobs. ``df`` needs
    url_hash + attempt columns.
    """
    from pyspark.sql import types as T

    keyed = df.select(slot_hash_col().alias("h")).withColumn(
        "shard_id", F.pmod(F.col("h"), F.lit(n_shards)).cast("int"))

    out_schema = T.StructType([
        T.StructField("shard_id", T.IntegerType(), False),
        T.StructField("bits", T.BinaryType(), False),
        T.StructField("count", T.LongType(), False),
        T.StructField("key_xor", T.LongType(), False),
    ])

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf["h"].to_numpy().astype(np.int64)
        bits = np.zeros(m_bits // 8, dtype=np.uint8)
        pos = _positions(keys, m_bits).ravel()
        np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        xor = np.int64(np.bitwise_xor.reduce(keys.astype(np.uint64)))
        return pd.DataFrame({
            "shard_id": [int(pdf["shard_id"].iloc[0])],
            "bits": [bits.tobytes()],
            "count": [len(keys)],
            "key_xor": [xor],
        })

    return [r.asDict() for r in
            keyed.groupBy("shard_id").applyInPandas(build, out_schema).collect()]


def probe_negative_mask(snap: dict, keys: np.ndarray) -> np.ndarray:
    """True where the key is DEFINITELY absent (vectorized, shard-local)."""
    if len(keys) == 0:
        return np.zeros(0, dtype=bool)
    keys = keys.astype(np.int64)
    n_shards, m_bits, bits = snap["n_shards"], snap["m_bits"], snap["bits"]
    shard_of = (keys % n_shards + n_shards) % n_shards
    positive = np.ones(len(keys), dtype=bool)
    for s in np.unique(shard_of):
        idx = np.nonzero(shard_of == s)[0]
        pos = _positions(keys[idx], m_bits)  # (n, K)
        b = bits[s]
        hit = (b[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
        positive[idx] = hit.all(axis=1)
    return ~positive


def split_by_bloom(pending0: DataFrame, snap_broadcast) -> DataFrame:
    """Adds a ``bloom_neg`` column: True → definitely unresolved.

    ``pending0`` needs url_hash + attempt. The probe is a vectorized
    pandas UDF over the 8-byte slot key ONLY — the previous
    mapInPandas form shipped every frontier column through the
    JVM→Python→JVM Arrow round trip (~30x the bytes; measured as the
    round-rate collapse the moment the bloom path activated
    mid-crawl). The wide row never leaves the JVM now (guide §4.1:
    pass only the columns the function needs).
    """

    @F.pandas_udf("boolean")
    def _probe(slots: pd.Series) -> pd.Series:
        snap = snap_broadcast.value
        return pd.Series(probe_negative_mask(snap, slots.to_numpy()))

    return pending0.withColumn("bloom_neg", _probe(slot_hash_col()))
