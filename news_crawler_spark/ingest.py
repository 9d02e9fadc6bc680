"""Incremental content-dedup state across ingest batches.

The reference crawler keeps a cross-run URL-seen set so no URL is
fetched twice (``scheduler.py:42-89`` — reference behavior D2); a
training-data pipeline needs the same invariant lifted from URLs to
CONTENT: a document whose (normalized) text already entered the corpus
in any earlier batch must be flagged without rescanning, or even
re-shingling, the accumulated corpus.

:class:`DedupState` maintains that as two persisted derived-key tables
(:class:`~news_crawler_spark.tables.snapshot.SnapshotTable`, the
repo's Iceberg stand-in — atomic commit, time travel, rollback):

* ``fingerprints (fp, doc_id)`` — normalized-text sha256 per unique
  content, witness = the doc that first brought it in;
* ``bands (doc_id, band_id, band_hash)`` — MinHash LSH band keys of
  every non-exact-duplicate doc ingested so far.

Each :meth:`DedupState.ingest` classifies a batch with two equi-joins
against those tables — ``exact_dup`` (fingerprint present),
``near_dup`` (shares an LSH band), ``new`` — then commits the batch's
own derived keys plus a lineage row, atomically last, so a killed
ingest never tears state: :meth:`resume` re-pins every table to the
last complete lineage row, and re-submitting an already-committed
``batch_id`` replays its stored verdicts instead of re-ingesting.

Scale shape: the corpus never re-shingles (only the NEW batch's
non-exact docs compute signatures — exact dups skip shingling
entirely, the dominant term on dup-heavy recrawls); both verdict joins
key on derived values (fingerprint / band hash), so state grows with
unique content, not ingest volume, and the band join shuffles only the
batch side against an equi-keyed table. Per batch the lineage is read
once, one collect of ``(seq, batch_id)`` that serves both the replay
check and the commit row's ``seq``, and the commit row itself is
written on the driver; what is left on the driver between jobs is
DataFrame building, kept to a few py4j calls per wide expression (see
``operators/dedup.py`` and ``session.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from news_crawler_spark.operators.dedup import (
    fingerprint,
    minhash_band_table,
    minhash_signatures,
)
from news_crawler_spark.tables.snapshot import SnapshotTable

FINGERPRINTS = T.StructType([
    T.StructField("fp", T.StringType()),
    T.StructField("doc_id", T.LongType()),
])

BANDS = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("band_id", T.IntegerType()),
    T.StructField("band_hash", T.StringType()),
])

VERDICTS = T.StructType([
    T.StructField("batch_id", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("verdict", T.StringType()),
    T.StructField("matched_id", T.LongType()),
])

INGEST_LINEAGE = T.StructType([
    T.StructField("seq", T.LongType()),
    T.StructField("batch_id", T.StringType()),
    T.StructField("fp_snapshot", T.LongType()),
    T.StructField("band_snapshot", T.LongType()),
    T.StructField("verdict_snapshot", T.LongType()),
    T.StructField("n_docs", T.LongType()),
    T.StructField("n_exact", T.LongType()),
    T.StructField("n_near", T.LongType()),
    T.StructField("n_new", T.LongType()),
])


def _lineage_keys(lineage: SnapshotTable) -> tuple[set[str], int]:
    """Committed batch_ids (compaction markers included) and the next
    lineage ``seq``, from ONE read of ``lineage`` — a single collect of
    ``(seq, batch_id)``, at most one Spark job. An ingest takes its
    replay check and its commit row's seq from it: state has a single
    writer, so nothing commits between this read and that row."""
    rows = lineage.read().select("seq", "batch_id").collect()
    return ({r.batch_id for r in rows},
            max((int(r.seq) for r in rows), default=-1) + 1)


class DedupState:
    """Persisted fingerprint + MinHash-band dedup state (see module
    docstring). ``doc_id`` values must be globally unique across
    batches (the ingest key); batch-internal duplicates get their
    verdicts against PRIOR state only — deduping within one batch is
    the stateless operators' job (``exact_dedup`` /
    ``minhash_lsh_candidates``) and composes in front of this."""

    def __init__(self, spark: SparkSession, state_dir: str,
                 text_col: str = "text", id_col: str = "doc_id",
                 num_hashes: int = 32, bands: int = 8,
                 shingle_n: int = 3, hash_fn: str = "sha2"):
        self.spark = spark
        self.text_col = text_col
        self.id_col = id_col
        self.num_hashes = num_hashes
        self.bands_n = bands
        self.shingle_n = shingle_n
        self.hash_fn = hash_fn
        st = lambda name, schema: SnapshotTable(spark, state_dir, name, schema)  # noqa: E731
        self.fingerprints = st("fingerprints", FINGERPRINTS)
        self.bands = st("bands", BANDS)
        self.verdicts = st("verdicts", VERDICTS)
        self.lineage = st("ingest_lineage", INGEST_LINEAGE)

    # -- recovery ---------------------------------------------------------
    def resume(self) -> int:
        """Re-pin all state tables to the last complete lineage row
        (or to empty if no batch ever committed). Any appends from an
        ingest whose lineage row never landed are rolled back — the
        kill/resume invariant: no batch is ever half-ingested.
        Returns the number of committed batches."""
        rows = (self.lineage.read()
                .orderBy(F.col("seq").desc()).limit(1).collect())
        if not rows:
            for t in (self.fingerprints, self.bands, self.verdicts):
                t.rollback(-1)
            return 0
        last = rows[0]
        self.fingerprints.rollback(last.fp_snapshot)
        self.bands.rollback(last.band_snapshot)
        self.verdicts.rollback(last.verdict_snapshot)
        return len(self.committed_batches())

    def committed_batches(self) -> list[str]:
        """Ingest batch_ids in commit order. Compaction lineage rows
        (batch_id ``compact-<seq>``) are maintenance markers, not
        batches — excluded here so callers see only real ingests."""
        return [r.batch_id for r in
                self.lineage.read()
                .filter(~F.col("batch_id").startswith("compact-"))
                .orderBy("seq").collect()]

    # -- maintenance ------------------------------------------------------
    def compact(self) -> dict:
        """Rewrite the derived-key state for long-lived ingest (the
        Iceberg-maintenance analog of the crawl engine's
        compact_frontier):

        * ``bands`` collapses to ONE row per (band_id, band_hash)
          keeping the smallest doc_id — verdict-preserving, because a
          near-dup witness is the min doc_id over state matches and
          the min of per-key mins is that same min. Docs sharing a
          band key accumulate linearly with ingest volume; the
          compacted table grows only with UNIQUE band keys.
        * ``fingerprints`` rewrites into a single snapshot dir (row
          set unchanged — merge_insert already keeps one row per fp);
          this is small-file coalescing, one data dir instead of one
          per batch.

        Both rewrites are atomic snapshot overwrites; old snapshots
        stay readable. The compaction itself COMMITS: a lineage row
        (batch_id ``compact-<seq>``, zero counts) pins the
        post-compaction snapshot ids, so resume() — which every CLI
        invocation runs first — lands ON the compacted state instead
        of silently rolling it back to the pre-compaction snapshots
        (without this, state would grow unboundedly despite
        compaction). A crash between the overwrites and the lineage
        row loses only the compaction — rolled back by resume(),
        re-compacting is always safe. Returns before/after band-row
        counts."""
        before = self.bands.read().count()
        self.bands.overwrite(
            self.bands.read()
            .groupBy("band_id", "band_hash")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id", "band_id", "band_hash"))
        self.fingerprints.overwrite(self.fingerprints.read())
        after = self.bands.read().count()
        _, seq = _lineage_keys(self.lineage)
        self.lineage.append_rows(
            [(seq, f"compact-{seq}",
              self.fingerprints.current_snapshot(),
              self.bands.current_snapshot(),
              self.verdicts.current_snapshot(),
              0, 0, 0, 0)])
        return {"bands_before": before, "bands_after": after}

    # -- streaming --------------------------------------------------------
    def ingest_stream(self, stream: DataFrame, checkpoint_dir: str,
                      batch_prefix: str = "stream", *,
                      available_now: bool = True):
        """Run the same ingest as a Structured Streaming sink.

        Each micro-batch is classified and committed through
        :meth:`ingest` with ``batch_id = f"{batch_prefix}-{epoch}"``.
        Exactly-once composes from the two halves: Spark's streaming
        checkpoint (``checkpoint_dir``) guarantees an epoch is
        *re-delivered* after a crash rather than lost, and ingest's
        batch_id idempotence turns that redelivery into a no-op replay
        of the committed verdicts — the standard
        foreachBatch-plus-idempotent-sink contract, same as the crawl
        engine's lineage-last commit (SURVEY.md §2.12 T6).

        ``available_now=True`` drains what's currently readable and
        stops (the batch-orchestrated mode a backfill uses); pass
        False for a continuously running micro-batch query. Returns
        the StreamingQuery handle — callers own awaitTermination.
        """

        def _sink(batch_df: DataFrame, epoch_id: int) -> None:
            self.ingest(batch_df, f"{batch_prefix}-{epoch_id}")

        writer = (stream.writeStream
                  .foreachBatch(_sink)
                  .option("checkpointLocation", checkpoint_dir)
                  .queryName(f"dedup_ingest_{batch_prefix}"))
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- ingest -----------------------------------------------------------
    def ingest(self, batch: DataFrame, batch_id: str) -> DataFrame:
        """Classify ``batch`` against the accumulated state, commit its
        derived keys + verdicts, and return the verdict rows
        (doc_id, verdict, matched_id).

        ``batch_id`` must not use the reserved ``compact-`` prefix
        (compaction lineage markers live there — a colliding id would
        hit the idempotence check and silently skip the batch).

        Idempotent on ``batch_id``: a batch that already has a lineage
        row is NOT re-ingested — its committed verdicts are returned
        (the at-most-once contract a retrying orchestrator needs).
        """
        if batch_id.startswith("compact-"):
            raise ValueError(
                f"batch_id {batch_id!r} uses the reserved 'compact-' "
                "marker namespace — it would collide with compaction "
                "lineage rows and be silently skipped")
        committed, seq = _lineage_keys(self.lineage)
        if batch_id in committed:
            return (self.verdicts.read()
                    .filter(F.col("batch_id") == batch_id)
                    .select("doc_id", "verdict", "matched_id"))

        id_c, txt = self.id_col, self.text_col
        # widen a narrow (small-file) batch scan once for the whole
        # ingest: the sha256 fingerprint and the shingle/minhash chain
        # below are compute-before-exchange work (no-op at real batch
        # sizes; all downstream aggregates are exact-integer/min)
        from news_crawler_spark.operators.par import spread_scan

        batch = spread_scan(batch)
        # eager localCheckpoint: batch_fp feeds the exact join AND the
        # merge_insert, new_bands (below) feeds the near join AND the
        # bands append — without pinning, each second consumer re-runs
        # the whole fingerprint/shingle/minhash DAG (measured: doubles
        # ingest cost on a mostly-new batch). NULL text fingerprints to
        # NULL: such docs carry no content to dedup on — they verdict
        # 'new' every time (a NULL key never equi-joins) and are kept
        # OUT of the fingerprint state below so state still grows only
        # with unique content.
        batch_fp = batch.select(
            F.col(id_c).alias("doc_id"),
            fingerprint(txt).alias("fp")).localCheckpoint(eager=True)
        exact = (batch_fp
                 .join(self.fingerprints.read()
                       .select("fp", F.col("doc_id").alias("_efid")),
                       "fp", "left")
                 .select("doc_id", "fp", "_efid"))
        # only non-exact docs shingle: an exact dup's signature is by
        # construction identical to its witness's — recomputing it is
        # pure waste, and on recrawl-heavy ingests it's most of the work
        non_exact = (batch.withColumnRenamed(id_c, "doc_id")
                     .join(exact.filter(F.col("_efid").isNotNull())
                           .select("doc_id"), "doc_id", "left_anti"))
        new_bands = minhash_band_table(
            minhash_signatures(non_exact, txt, "doc_id",
                               self.num_hashes, self.shingle_n,
                               self.hash_fn),
            self.num_hashes, self.bands_n, "doc_id"
        ).localCheckpoint(eager=True)
        near = (new_bands
                .join(self.bands.read()
                      .select(F.col("doc_id").alias("_nfid"),
                              "band_id", "band_hash"),
                      ["band_id", "band_hash"])
                .groupBy("doc_id").agg(F.min("_nfid").alias("_nfid")))
        from pyspark.sql import Observation

        obs = Observation()
        verdict_rows = (
            exact.join(near, "doc_id", "left")
            .select(
                F.lit(batch_id).alias("batch_id"),
                "doc_id",
                F.when(F.col("_efid").isNotNull(), "exact_dup")
                .when(F.col("_nfid").isNotNull(), "near_dup")
                .otherwise("new").alias("verdict"),
                F.coalesce("_efid", "_nfid").alias("matched_id"),
            )
            # lineage counts ride the pinning checkpoint job as an
            # Observation — the separate groupBy('verdict') count
            # action was one extra job per batch
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("verdict") == "exact_dup", 1))
                .alias("n_exact"),
                F.count(F.when(F.col("verdict") == "near_dup", 1))
                .alias("n_near"),
            )
            # pin: the commit below appends these rows AND derives the
            # lineage counts from them; localCheckpoint guarantees both
            # see one evaluation (and frees via ContextCleaner, no
            # CacheManager pin)
            .localCheckpoint(eager=True)
        )
        m = obs.get
        n_docs = int(m["n"])
        counts = {"exact_dup": int(m["n_exact"]),
                  "near_dup": int(m["n_near"])}
        counts["new"] = n_docs - counts["exact_dup"] - counts["near_dup"]

        # -- commit: data tables first, lineage row last (atomicity) --
        # the three appends hit independent tables and read only
        # checkpointed inputs (plus each table's own immutable current
        # snapshot), so they overlap as concurrent jobs on a pool; the
        # lineage row below remains the single commit marker. Each
        # submitted call is wrapped with inheritable_thread_target so
        # its jobs carry the caller's job group and local properties
        # (a pool thread's JVM twin starts with none, and
        # sc.cancelJobGroup could not reach them)
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        def run_in(pool, fn, *args):
            return pool.submit(inheritable_thread_target(self.spark)(fn),
                               *args)

        # first batch to carry a fingerprint wins; within the batch the
        # smallest doc_id is the witness (deterministic)
        # NULL fps stay out of state: a NULL key never anti-joins, so
        # every batch would append another (NULL, doc_id) row forever —
        # breaking compact()'s one-row-per-fp invariant
        with ThreadPoolExecutor(max_workers=3) as pool:
            futs = [
                run_in(pool, self.verdicts.append, verdict_rows),
                run_in(
                    pool, self.fingerprints.merge_insert,
                    batch_fp.filter(F.col("fp").isNotNull())
                    .groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
                    .select("fp", "doc_id"),
                    "fp"),
                run_in(pool, self.bands.append,
                       new_bands.select("doc_id", "band_id", "band_hash")),
            ]
            for f in futs:
                f.result()
        # driver-side 1-row commit marker — no Spark job (see
        # SnapshotTable.append_rows)
        self.lineage.append_rows(
            [(seq, batch_id,
              self.fingerprints.current_snapshot(),
              self.bands.current_snapshot(),
              self.verdicts.current_snapshot(),
              n_docs,
              counts.get("exact_dup", 0),
              counts.get("near_dup", 0),
              counts.get("new", 0))])
        return verdict_rows.select("doc_id", "verdict", "matched_id")


PARAGRAPHS = T.StructType([
    T.StructField("fp", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("pos", T.IntegerType()),
])

PARA_VERDICTS = T.StructType([
    T.StructField("batch_id", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_paras", T.LongType()),
    T.StructField("n_new", T.LongType()),
    T.StructField("new_frac", T.DoubleType()),
])

PARA_LINEAGE = T.StructType([
    T.StructField("seq", T.LongType()),
    T.StructField("batch_id", T.StringType()),
    T.StructField("para_snapshot", T.LongType()),
    T.StructField("verdict_snapshot", T.LongType()),
    T.StructField("n_docs", T.LongType()),
    T.StructField("n_paras", T.LongType()),
    T.StructField("n_new", T.LongType()),
])


class ParagraphState:
    """Persisted PARAGRAPH-granularity dedup state across ingest
    batches: :class:`DedupState`'s cross-run content-seen invariant
    pushed below the document, the incremental twin of the batch
    operator ``operators/paragraphs.paragraph_dedup`` (RefinedWeb /
    Dolma sub-document pass). A paragraph that entered the corpus in
    ANY earlier batch — a nav blurb, a subscribe box, a syndicated
    body — is recognized by its sha256 fingerprint without rescanning
    the corpus, and each incoming doc reports how much of it is
    genuinely fresh content (``new_frac``), the signal recrawl-heavy
    pipelines gate storage and training inclusion on.

    State is ONE table ``paragraphs (fp, doc_id, pos)`` — exactly one
    row per unique paragraph, witness = first occurrence — kept
    one-row-per-key by merge_insert, so hot boilerplate paragraphs
    stay single state rows and the verdict join never skews. Same
    commit protocol as DedupState: data tables first, lineage row
    last (driver-side, no Spark job), :meth:`resume` re-pins to the
    last complete lineage row, and a replayed ``batch_id`` returns
    its committed verdicts instead of re-ingesting.

    First-wins is GLOBAL across batches and WITHIN the batch: an
    occurrence is new iff its fingerprint misses the state table and
    it is the batch's earliest occurrence (min doc_id*POS_BASE+pos) of
    that fingerprint — bit-identical to running the batch operator
    over the concatenation of every batch in ingest order.
    """

    def __init__(self, spark: SparkSession, state_dir: str,
                 text_col: str = "text", id_col: str = "doc_id",
                 sep: str = "\n\n"):
        self.spark = spark
        self.text_col = text_col
        self.id_col = id_col
        self.sep = sep
        st = lambda name, schema: SnapshotTable(spark, state_dir, name, schema)  # noqa: E731
        self.paragraphs = st("paragraphs", PARAGRAPHS)
        self.verdicts = st("para_verdicts", PARA_VERDICTS)
        self.lineage = st("para_lineage", PARA_LINEAGE)

    # -- recovery ---------------------------------------------------------
    def resume(self) -> int:
        """Re-pin state to the last complete lineage row (kill/resume:
        a torn ingest's appends roll back). Returns committed-batch
        count."""
        rows = (self.lineage.read()
                .orderBy(F.col("seq").desc()).limit(1).collect())
        if not rows:
            for t in (self.paragraphs, self.verdicts):
                t.rollback(-1)
            return 0
        last = rows[0]
        self.paragraphs.rollback(last.para_snapshot)
        self.verdicts.rollback(last.verdict_snapshot)
        return len(self.committed_batches())

    def committed_batches(self) -> list[str]:
        """Ingest batch_ids in commit order (compaction markers,
        batch_id ``compact-<seq>``, excluded — see DedupState)."""
        return [r.batch_id for r in
                self.lineage.read()
                .filter(~F.col("batch_id").startswith("compact-"))
                .orderBy("seq").collect()]

    # -- maintenance ------------------------------------------------------
    def compact(self) -> dict:
        """Small-file coalescing: merge_insert appends one data dir per
        batch; rewrite the (unchanged) row set into a single snapshot
        dir. Commits a ``compact-<seq>`` lineage row so resume() pins
        to the compacted snapshot (same rationale as
        DedupState.compact). Atomic overwrite; always safe to re-run."""
        n = self.paragraphs.read().count()
        self.paragraphs.overwrite(self.paragraphs.read())
        _, seq = _lineage_keys(self.lineage)
        self.lineage.append_rows(
            [(seq, f"compact-{seq}",
              self.paragraphs.current_snapshot(),
              self.verdicts.current_snapshot(),
              0, 0, 0)])
        return {"paragraph_rows": n}

    # -- streaming --------------------------------------------------------
    def ingest_stream(self, stream: DataFrame, checkpoint_dir: str,
                      batch_prefix: str = "stream", *,
                      available_now: bool = True):
        """Paragraph-granularity ingest as a Structured Streaming sink
        — the same foreachBatch + idempotent-batch-id exactly-once
        contract as :meth:`DedupState.ingest_stream` (see there for
        the redelivery/replay argument)."""

        def _sink(batch_df: DataFrame, epoch_id: int) -> None:
            self.ingest(batch_df, f"{batch_prefix}-{epoch_id}")

        writer = (stream.writeStream
                  .foreachBatch(_sink)
                  .option("checkpointLocation", checkpoint_dir)
                  .queryName(f"para_ingest_{batch_prefix}"))
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- ingest -----------------------------------------------------------
    def ingest(self, batch: DataFrame, batch_id: str) -> DataFrame:
        """Classify ``batch`` and return per-doc verdict rows
        ``(doc_id, n_paras, n_new, new_frac)``; commits the batch's
        new paragraph witnesses atomically. Idempotent on
        ``batch_id``; the ``compact-`` prefix is reserved for
        compaction markers (see DedupState.ingest)."""
        from news_crawler_spark.operators.paragraphs import paragraph_rows

        if batch_id.startswith("compact-"):
            raise ValueError(
                f"batch_id {batch_id!r} uses the reserved 'compact-' "
                "marker namespace — it would collide with compaction "
                "lineage rows and be silently skipped")
        committed, seq = _lineage_keys(self.lineage)
        if batch_id in committed:
            return (self.verdicts.read()
                    .filter(F.col("batch_id") == batch_id)
                    .select("doc_id", "n_paras", "n_new", "new_frac"))

        # pin: rows feed the witness agg, the state join, AND the
        # state append — without the checkpoint each consumer re-runs
        # the split/sha DAG (same rationale as DedupState.ingest)
        rows = paragraph_rows(
            batch, self.text_col, self.id_col, self.sep
        ).withColumnRenamed(self.id_col, "doc_id").localCheckpoint(eager=True)
        wit = rows.groupBy("fp").agg(F.min("okey").alias("wkey"))
        state = self.paragraphs.read().select(
            "fp", F.lit(True).alias("_seen"))
        flagged = (
            rows.join(wit, "fp")
            .join(state, "fp", "left")
            .select(
                "doc_id", "pos", "fp",
                (F.col("_seen").isNull()
                 & (F.col("okey") == F.col("wkey"))).alias("is_new"))
            .localCheckpoint(eager=True)
        )
        verdict_rows = (
            flagged.groupBy("doc_id").agg(
                F.count("*").alias("n_paras"),
                F.sum(F.col("is_new").cast("long")).alias("n_new"))
            .select(
                F.lit(batch_id).alias("batch_id"),
                "doc_id", "n_paras", "n_new",
                F.round(F.col("n_new") / F.col("n_paras"), 6)
                .alias("new_frac"))
            .localCheckpoint(eager=True)
        )
        totals = verdict_rows.agg(
            F.count("*").alias("nd"),
            F.coalesce(F.sum("n_paras"), F.lit(0)).alias("np"),
            F.coalesce(F.sum("n_new"), F.lit(0)).alias("nn")).collect()[0]

        # -- commit: data first, lineage last ------------------------------
        self.verdicts.append(verdict_rows)
        self.paragraphs.merge_insert(
            flagged.filter(F.col("is_new"))
            .select("fp", "doc_id", "pos"),
            "fp")
        self.lineage.append_rows(
            [(seq, batch_id,
              self.paragraphs.current_snapshot(),
              self.verdicts.current_snapshot(),
              int(totals.nd), int(totals.np), int(totals.nn))])
        return verdict_rows.select("doc_id", "n_paras", "n_new", "new_frac")
