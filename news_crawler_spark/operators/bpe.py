"""Distributed BPE merge learning (Sennrich et al. 2016) — the
tokenizer-training step of an LLM data pipeline, over the word
frequency table instead of raw text (the standard trick: BPE
statistics only need (word, count), which is one map-side-combinable
groupBy over the corpus — at 100 TB the word table is orders of
magnitude smaller than the text).

Per merge step: (1) adjacent-symbol pair counts — a zip of the symbol
array with its own tail, exploded, weighted by word count, one
partial-agg groupBy; (2) the argmax pair (count desc, pair asc — an
integer-count argmax, so there is NO floating-point anywhere in this
operator) comes to the driver as a 1-row collect and is applied as a
LITERAL string replacement, the same replayable-trajectory contract
kmeans_fit/hits_scores use.

Symbol representation: each symbol is wrapped in parens —
``lower`` → ``(l)(o)(w)(e)(r)`` — so the literal replacement
``(a)(b)`` → ``(ab)`` is boundary-exact and a left-to-right
non-overlapping scan (the semantics of both Java's and every SQL
engine's ``replace``) IS the greedy BPE merge pass: in
``(a)(a)(a)(a)`` the scanner consumes ``(a)(a)`` twice, yielding
``(aa)(aa)`` exactly like the serial algorithm. This is why the
wrapper exists: with space-separated symbols the replacement would
eat the shared delimiter and silently skip alternate merges.
Callers feed alphanumeric words (the corpus tokenizer already lowers
and strips punctuation), so parens can never collide with symbol
text.

At larger n_merges the running word table is checkpointed INSIDE the
training loop every 20 steps: the merge chain composes lazily (each
step's plan replays every prior replace over the source), so without
the periodic pin step k's two jobs each re-run k replaces — the
linear replay chain goes quadratic in total work. The checkpoint
resets the lineage to the materialized table; the trajectory is
unchanged (tests/test_bpe.py pins 25 merges with and without it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from news_crawler_spark.tables import local_frame

_SYM_RE = r"\\(([^)]*)\\)"  # regexp_extract_all pattern (escaped for expr)


def _symbols(col: str = "sym") -> F.Column:
    return F.expr(f"regexp_extract_all({col}, '{_SYM_RE}', 1)")


def bpe_train(words: DataFrame, n_merges: int = 3,
              checkpoint_every: int = 20) -> DataFrame:
    """Learn ``n_merges`` BPE merges from a (word, cnt) table.

    Returns the merge trajectory as a DataFrame (step:int, pair:string
    "left right", merged:string, pair_count:long, vocab_size:long) —
    vocab_size is the distinct-symbol count AFTER applying the step's
    merge. Integer counts + lexicographic tiebreaks make the whole
    trajectory a pure function of the input in any engine.

    ``checkpoint_every``: localCheckpoint the running word table every
    this many merges so the lazy replace chain can't go quadratic
    (module docstring); the trajectory is checkpoint-invariant.
    """
    spark = words.sparkSession
    # eager checkpoint of the (small, aggregated) word table: every
    # step runs two jobs (pair argmax + vocab count) and each would
    # otherwise re-tokenize the full corpus — the checkpoint makes all
    # downstream work proportional to |vocabulary|, not |corpus|
    # (localCheckpoint, not persist: blocks release with the df)
    cur = words.select(
        F.regexp_replace(F.col("word"), "(.)", "($1)").alias("sym"),
        F.col("cnt").cast("long").alias("cnt")).localCheckpoint(eager=True)

    out = []
    for step in range(1, n_merges + 1):
        arr = _symbols()
        pairs = F.zip_with(
            F.slice(arr, 1, F.size(arr) - 1),
            F.slice(arr, 2, F.size(arr) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b))
        pc = (cur.select(F.explode(pairs).alias("pair"), "cnt")
              .groupBy("pair").agg(F.sum("cnt").alias("c")))
        top = pc.orderBy(F.col("c").desc(), "pair").limit(1).collect()
        if not top:
            break
        pair, c = top[0]["pair"], int(top[0]["c"])
        left, right = pair.split(" ")
        cur = cur.select(
            F.replace(F.col("sym"),
                      F.lit(f"({left})({right})"),
                      F.lit(f"({left}{right})")).alias("sym"),
            "cnt")
        if checkpoint_every and step % checkpoint_every == 0:
            cur = cur.localCheckpoint(eager=True)
        vocab = (cur.select(F.explode(_symbols()).alias("s"))
                 .agg(F.countDistinct("s")).collect()[0][0])
        out.append((step, pair, left + right, c, int(vocab)))

    return local_frame(spark, out,
                       "step int, pair string, merged string, "
                       "pair_count long, vocab_size long")


def bpe_segment(df: DataFrame, merges: list[tuple[str, str]],
                word_col: str = "word",
                out_col: str = "pieces") -> DataFrame:
    """Apply a learned merge list to words → token pieces
    (array<string>), replaying the same literal greedy passes in merge
    order — the inference half of the tokenizer, zero shuffles."""
    sym = F.regexp_replace(F.col(word_col), "(.)", "($1)")
    for left, right in merges:
        sym = F.replace(sym, F.lit(f"({left})({right})"),
                        F.lit(f"({left}{right})"))
    pieces = F.expr(
        f"regexp_extract_all(sym_staged, '{_SYM_RE}', 1)")
    return (df.withColumn("sym_staged", sym)
            .withColumn(out_col, pieces)
            .drop("sym_staged"))
