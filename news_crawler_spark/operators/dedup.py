"""Deduplication operators, exact → fuzzy, built for corpus scale.

Exact/first-wins mirror the reference (D1 ``news.py:154-163``,
D2 ``scheduler.py:42-89``, D3/D4 set semantics); MinHash-LSH, SimHash
and n-gram Jaccard are the training-data near-dup family the engine
adds on top (a crawler that feeds a training pipeline dedups what it
fetched).

Scale shape: everything reduces to groupBy/join on a *derived key*
(fingerprint, band hash, simhash band) so Spark shuffles each doc a
constant number of times — never all-pairs. Only `ngram_jaccard_pairs`
is quadratic per shingle-group and is meant for verification of LSH
candidates, not full-corpus sweeps.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from news_crawler_spark.functions.textstats import fingerprint


def first_wins_dedup(df: DataFrame, key_cols: list[str],
                     order_cols: list) -> DataFrame:
    """D1: order-stable first-wins dedup (reference news.py:154-163).

    ``dropDuplicates`` after a sort is NOT order-stable in a parallel
    engine — this is the deterministic window-rank form with explicit
    tiebreaks (SURVEY.md §7.4).
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by normalized-text fingerprint: one keeper per
    duplicate group (lowest id), plus the group size."""
    with_fp = df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    return with_fp.groupBy("fp").agg(
        F.min(id_col).alias("keep_id"),
        F.count("*").alias("group_size"),
    )


def _token_shingles(text_col: str, n: int) -> F.Column:
    """Distinct n-gram shingles over whitespace tokens as one array
    expression. NOTE: inside a HOF lambda the token split re-evaluates
    per element — prefer :func:`_shingle_rows` on hot paths."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n_sh = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    shingles = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    # a doc shorter than n tokens contributes its whole text as one shingle
    return F.array_distinct(
        F.when(n_sh > 0, shingles).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def _shingle_rows(df: DataFrame, text_col: str, id_col: str, n: int,
                  distinct: bool = True) -> DataFrame:
    """(id, shingle) rows — zero shuffles before the caller's own
    aggregation.

    The token array is materialized ONCE per doc behind a Generate
    barrier (explode of a 1-element struct array — CollapseProject
    cannot re-inline the split into the per-shingle lambda, the
    HOF-recompute trap that made the naive array form ~10x slower at
    300-token docs), then shingles come from one ``transform`` over
    slice positions. This replaced a window-lead form that shuffled
    and sorted EVERY token row by doc id before the first shingle
    existed; now the only exchange in a shingle→hash→aggregate
    pipeline is the caller's own groupBy — which partial-aggregates
    map-side, so at corpus scale the shuffle carries per-doc
    signatures, never token rows.

    ``distinct=False`` returns the shingle multiset (duplicates kept):
    correct and cheaper for duplicate-insensitive consumers (a min
    over doc-constant hash expressions — minhash signatures), which
    skip the distinct's aggregation entirely.

    A doc shorter than ``n`` tokens contributes its whole text as one
    shingle (same contract as before).
    """
    from news_crawler_spark.operators.par import spread_scan

    # the tokenize→shingle→hash work below happens before any
    # exchange; widen a narrow (small-file) scan first so it
    # parallelizes — no-op at real input sizes, and every downstream
    # aggregate here is exact-integer / per-doc, so results are
    # partition-invariant
    df = spread_scan(df)
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    if n == 1:
        out = df.select(F.col(id_col), F.explode(toks).alias("shingle"))
        return out.dropDuplicates() if distinct else out
    staged = df.select(
        F.col(id_col),
        F.explode(F.array(F.struct(toks.alias("t")))).alias("_tk"))
    tarr = F.col("_tk").getField("t")
    # NULL text → NULL token array: the old posexplode form emitted no
    # rows for such docs; keep that contract
    staged = staged.filter(tarr.isNotNull())
    # shingle i = tokens[i..i+n-1] joined — built as a zip_with chain
    # over n shifted slices of the staged token array (measured ~25%
    # faster than both the window-lead form and a transform-over-
    # positions with per-element slice; one parse, no py4j chatter)
    n_sh = f"(size(_tk.t) - {n - 1})"
    chain = f"slice(_tk.t, 1, {n_sh})"
    for i in range(2, n + 1):
        chain = (f"zip_with({chain}, slice(_tk.t, {i}, {n_sh}), "
                 "(a, b) -> concat(a, ' ', b))")
    out = staged.select(
        F.col(id_col),
        F.expr(
            f"explode(case when {n_sh} > 0 then {chain} "
            "else array(concat_ws(' ', _tk.t)) end)").alias("shingle"))
    return out.dropDuplicates() if distinct else out


# double-hashing domain: h1,h2 in [0, 2^31) so h1 + j*h2 stays well
# inside long range (no ANSI overflow) for any practical num_hashes
_MH_DOMAIN = 1 << 31


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 32,
                       shingle_n: int = 3,
                       hash_fn: str = "sha2") -> DataFrame:
    """MinHash signature per doc via double hashing:
    sig[j] = min over shingles of (h1(s) + j*h2(s)).

    ``hash_fn`` picks the shingle hash:

    - ``"sha2"`` (default): h1/h2 are 60-bit substrings of
      sha256(shingle) pmod 2^31 — any engine (the DuckDB correctness
      oracle included) can replay
      ``('0x'||substr(sha256(s),1,15))::BIGINT``, so the whole
      near-dup pipeline is value-checkable, not rows-only.
    - ``"xxhash64"``: the production fast path for 100 TB sweeps —
      same join/agg shape, ~6x cheaper per hashed shingle (measured:
      0.2 s vs 1.2 s per 30 M strings, warm codegen; at sandbox doc
      lengths the band join dominates so end-to-end is a wash, but at
      real corpus doc lengths the shingle hash is a leading term),
      identical banding statistics (planted-pair unit runs both ways),
      just not replayable outside Spark.

    Shape chosen for scale AND to defeat CollapseProject: shingles are
    *exploded* to rows (a Generate barrier — the expensive shingle
    construction runs exactly once; an inline transform-over-j lambda
    would recompute it num_hashes times, a measured 10x slowdown),
    each shingle is hashed once, and the signature is a groupBy
    aggregation — partial min runs map-side, so the shuffle carries
    only num_hashes longs per doc regardless of text size.
    """
    # multiset shingles (distinct=False): the per-doc min below is
    # duplicate-insensitive, so the distinct's aggregation pass is
    # pure cost — and without it the ONLY exchange in this whole
    # signature pipeline is the groupBy, which partial-aggregates to
    # num_hashes longs per doc map-side before shuffling
    sh = _shingle_rows(df, text_col, id_col, shingle_n, distinct=False)
    # every wide expression below is ONE SQL string — one parse and one
    # py4j call, where a Column-by-Column build pays a py4j round trip
    # per F.* call (~100 per batch at 32 hashes)
    if hash_fn == "xxhash64":
        h1, h2 = "xxhash64(shingle)", "xxhash64('h2', shingle)"
    else:
        h1, h2 = (f"cast(conv(substring(sha2(shingle, 256), {pos}, 15), 16, 10)"
                  " as bigint)" for pos in (1, 16))
    hashed = sh.select(
        F.col(id_col),
        F.expr(f"pmod({h1}, {_MH_DOMAIN})").alias("_h1"),
        F.expr(f"pmod({h2}, {_MH_DOMAIN}) + 1").alias("_h2"),
    )
    return hashed.groupBy(id_col).agg(F.expr(
        "array(" + ", ".join(f"min(_h1 + {j} * _h2)"
                             for j in range(num_hashes)) + ")").alias("sig"))


def minhash_band_table(sigs: DataFrame, num_hashes: int = 32,
                       bands: int = 8, id_col: str = "doc_id") -> DataFrame:
    """(id, band_id, band_hash) from a signature table. The band key
    is the signature slice itself (joined as a string) —
    engine-agnostic, so the oracle can replay it; at truly huge band
    tables swap in a fixed-width hash of the same string."""
    r = num_hashes // bands
    # sig arrives as a bound attribute (the aggregate's output), so the
    # per-band slices don't recompute the signature; one SQL parse
    slices = ", ".join(f"concat_ws(',', slice(sig, {b * r + 1}, {r}))"
                       for b in range(bands))
    return sigs.select(
        F.col(id_col),
        F.expr(f"posexplode(array({slices}))").alias("band_id", "band_hash"),
    )


def band_pairs(band: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Bucket self-join of a (id, band_id, band_hash) table →
    distinct candidate pairs (id_a < id_b)."""
    a = band.select(F.col(id_col).alias("id_a"), "band_id", "band_hash")
    b = band.select(F.col(id_col).alias("id_b"), "band_id", "band_hash")
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", num_hashes: int = 32,
                           bands: int = 8, shingle_n: int = 3,
                           hash_fn: str = "sha2") -> DataFrame:
    """MinHash + LSH banding → candidate near-dup pairs (id_a < id_b).

    shingle → minhash → band-key → bucket self-join. Docs land in
    ``bands`` buckets each, so the shuffle is O(docs × bands); only
    same-bucket docs are paired. Jaccard-verify candidates with
    :func:`ngram_jaccard_pairs` when exactness matters, or estimate
    cheaply from signature agreement (minhash signatures estimate
    Jaccard unbiasedly — see the ``minhash_jaccard_est`` contract
    query).
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n,
                              hash_fn=hash_fn)
    band = minhash_band_table(sigs, num_hashes, bands, id_col)
    # self-join branches don't share work in Spark (no common-subplan
    # reuse across join sides) — materialize the band table so
    # signatures compute once, not once per side (measured 4 scans
    # without this). localCheckpoint, NOT persist: persist pinned one
    # cache entry per call for the life of the session (a long-running
    # driver accumulates them until eviction pressure); checkpoint
    # blocks are released by the ContextCleaner once the result is
    # GC'd (same rationale as topk.global_row_number).
    band = band.localCheckpoint(eager=True)
    return band_pairs(band, id_col)


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    explode → self-join on shingle → |∩| per pair → |∪| via sizes.
    Quadratic within a shingle bucket — use after LSH candidate
    generation at scale, or on bounded subsets.
    """
    # used by sizes + both join sides; localCheckpoint over persist —
    # released on GC, no per-call pinned-cache accumulation
    sh = _shingle_rows(df, text_col, id_col, shingle_n).localCheckpoint(eager=True)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    # threshold on the UNROUNDED similarity; round only in the final
    # projection — rounding first would admit borderline pairs (e.g.
    # 0.4999997 at threshold 0.5) the exact-SQL oracle rejects
    j = (F.col("n_inter").cast("double")
         / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .filter(j >= threshold)
        .select("id_a", "id_b", F.round(j, 6).alias("jaccard"))
    )


SIMHASH_BITS = 64


def simhash_band_values(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        band_bits: int = 16,
                        hash_fn: str = "sha2") -> DataFrame:
    """(id, band_id, band_val) — the banded 64-bit SimHash, entirely
    native (zero Python on the data plane).

    Classic SimHash: each token votes ±1 on every bit of its 64-bit
    hash; the document's bit b is 1 iff the vote sum is positive. Here
    the token hash is two 32-bit halves of sha256 (replayable by any
    engine — the DuckDB oracle included), the vote is a 64-column
    map-side-partial SUM aggregation (one shuffle of 64 longs per doc,
    independent of document length), and the band values are built
    directly from the votes — the packed 64-bit word never exists, so
    no unsigned-shift semantics can diverge between engines.

    Replaces a per-token Python loop (blake2b per token inside a
    pandas_udf) that dominated at corpus scale.
    """
    from news_crawler_spark.operators.par import spread_scan

    n_bands = SIMHASH_BITS // band_bits
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # widen narrow scans before the serial tokenize+hash+partial-agg
    # chain (no-op at real scale; the bit-sum aggregates are integers)
    tok = spread_scan(df).select(F.col(id_col), F.explode(toks).alias("_tok"))
    if hash_fn == "xxhash64":
        # production fast path: two 32-bit halves of one xxhash64
        hl = "xxhash64(_tok) & 4294967295"
        hh = "shiftright(xxhash64(_tok), 32) & 4294967295"
    else:
        hl, hh = (f"cast(conv(substring(sha2(_tok, 256), {pos}, 8), 16, 10)"
                  " as bigint)" for pos in (1, 9))
    hashed = tok.select(F.col(id_col), F.expr(hl).alias("_hl"),
                        F.expr(hh).alias("_hh"))
    # vote sum for bit b over n tokens is 2*popcount_b - n exactly
    # (integers), so aggregate the raw bit sums plus one count instead
    # of 64 CASE WHEN ±1 votes — the per-row aggregate update drops a
    # conditional per bit, and the band test becomes 2*s_b > n. Values
    # are integer-identical to the ±1 formulation. The 64 sums and the
    # band values are one SQL parse each (py4j economy: a Column-by-
    # Column build pays a py4j round trip per F.* call)
    votes = hashed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.expr("array(" + ", ".join(
            f"sum(shiftright({'_hl' if b < 32 else '_hh'}, {b % 32}) & 1)"
            for b in range(SIMHASH_BITS)) + ")").alias("_s"))

    def band_val(k: int) -> str:
        # bit j set iff the bit-j vote sum is positive: 2*s > n
        return " + ".join(
            f"(case when 2 * _s[{k * band_bits + j}] > _n "
            f"then {1 << j} else 0 end)"
            for j in range(band_bits))

    bands = ", ".join(band_val(k) for k in range(n_bands))
    return votes.select(
        F.col(id_col),
        F.expr(f"posexplode(array({bands}))").alias("band_id", "band_val"),
    )


def simhash_buckets(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", band_bits: int = 16,
                    hash_fn: str = "sha2") -> DataFrame:
    """SimHash near-dup candidates: docs sharing any 16-bit band of
    their 64-bit simhash (Hamming-distance blocking)."""
    # the banded signature must not recompute per join side;
    # localCheckpoint over persist — released on GC, no per-call
    # pinned-cache accumulation across a long-lived session
    banded = simhash_band_values(df, text_col, id_col, band_bits,
                                 hash_fn=hash_fn).localCheckpoint(eager=True)
    a = banded.select(F.col(id_col).alias("id_a"), "band_id", "band_val")
    b = banded.select(F.col(id_col).alias("id_b"), "band_id", "band_val")
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )


def winnowing_fingerprints(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 3,
                           w: int = 5, hash_fn: str = "sha2") -> DataFrame:
    """Winnowing document sketch (Schleimer et al., SIGMOD 2003):
    hash every positional k-gram, keep the MIN hash of each sliding
    window of ``w`` grams → a ~2/(w+1)-density fingerprint set that
    GUARANTEES any shared run of ≥ w+k-1 tokens between two documents
    shares at least one fingerprint. This detects *containment*
    (quotes, boilerplate, partial copies) that whole-document MinHash
    misses — the other half of corpus dedup.

    All native: one Generate (posexplode), lead() k-grams, a sliding
    row-window min, distinct — one shuffle on the doc id. Hashes are
    sha256-substring-derived so the DuckDB oracle replays them
    value-exactly.
    """
    from news_crawler_spark.operators.par import spread_scan

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tok = spread_scan(df).select(
        F.col(id_col), F.posexplode(toks).alias("_pos", "_tok"))
    wl = Window.partitionBy(id_col).orderBy("_pos")
    parts = [F.col("_tok")] + [F.lead("_tok", i).over(wl) for i in range(1, k)]
    grams = (
        tok.select(F.col(id_col), F.concat_ws(" ", *parts).alias("_g"),
                   F.lead("_tok", k - 1).over(wl).alias("_last"), "_pos")
        .filter(F.col("_last").isNotNull())
        .select(
            id_col,
            F.row_number().over(wl).alias("_rn"),
            (F.pmod(F.xxhash64("_g"), F.lit(_MH_DOMAIN))
             if hash_fn == "xxhash64" else
             F.conv(F.substring(F.sha2(F.col("_g"), 256), 1, 8), 16, 10)
             .cast("long") % F.lit(_MH_DOMAIN)).alias("_h"),
        )
    )
    wmin = (Window.partitionBy(id_col).orderBy("_rn")
            .rowsBetween(-(w - 1), 0))
    return (
        grams.withColumn("fp", F.min("_h").over(wmin))
        .filter(F.col("_rn") >= w)  # full windows only
        .select(id_col, "fp")
        .dropDuplicates()
    )
