"""CrawlEngine: the per-round DAG + resumable state (SURVEY.md §3.4, §7).

One round = one declarative DataFrame DAG::

    frontier scan → latest-attempt → anti-join resolved (seen ∪ dead)
      → robots + budget gate (broadcast hosts)
      → per-host priority top-k, one window          (selection)
      → url_hash repartition → fetch/parse UDF       (Python, one task per core)
      → link extraction (native) → first-wins anti-join vs frontier
      → state appends: frontier, documents, resolved
      → lineage row                                    (commit marker)

State tables (all append-only snapshot tables):

* ``frontier``  — every URL ever discovered, plus retry rows (T4);
* ``resolved``  — one row per scheduled fetch with its disposition
  (``ok`` → the URL-seen set D2, ``dead`` → 404/exhausted, ``retry``);
  url_seen / dead / crawl_log are *views* of this one table, so a
  round commits three appends total, not five;
* ``documents`` — parsed span sequences of fetched-ok pages;
* ``lineage``   — the commit marker (counters + snapshot ids + the
  url-seen digest).

Exactly-once per URL: the lineage row for round r is appended *after*
every state append; resume pins each table to the snapshot ids of the
last complete lineage row, so a job killed mid-round replays only the
unfinished round and no URL twice (SURVEY.md §7.4 — a deliberate
upgrade over the reference's mark-before-send at-most-once,
``scheduler.py:60-89``).

The reference's daily-cron loop (``scheduler.py:92-111``) maps to the
driver calling :meth:`run_round` per round; batch rounds, not
Structured Streaming, because frontier feedback (this round's links
are next round's input) is a cyclic dataflow streaming cannot express.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from news_crawler_spark import schemas
from news_crawler_spark.crawl import frontier as frontier_ops
from news_crawler_spark.crawl.fetch import (
    Fetcher,
    enrich_candidates,
    extract_links,
    fetch_round,
)
from news_crawler_spark.tables import SnapshotTable, local_frame


def url_priority_col(seed: int, url_col: str = "url") -> F.Column:
    """Native twin of fixtures.sitegen.url_priority: first 15 hex chars
    (60 bits, long-safe) of sha256(f"{seed}|{url}|prio"), mod 1e5, / 1e5."""
    digest = F.sha2(F.concat_ws("|", F.lit(str(seed)), F.col(url_col), F.lit("prio")), 256)
    u60 = F.conv(F.substring(digest, 1, 15), 16, 10).cast("long")
    return (F.pmod(u60, F.lit(100000)).cast("double") / F.lit(100000.0))


class CrawlEngine:
    def __init__(self, spark: SparkSession, state_dir: str, hosts: DataFrame,
                 fetcher: Fetcher, seed: int = 42, max_attempts: int = 3,
                 retry_jitter_span: int = 0, compact_ratio: float = 4.0,
                 compact_min_resolved: int = 100_000,
                 archive_dir: str | None = None,
                 archive_compress: bool = False):
        self.spark = spark
        self._hosts_src = hosts
        self._hosts_local: DataFrame | None = None
        self.fetcher = fetcher
        self.seed = seed
        self.max_attempts = max_attempts
        self.retry_jitter_span = retry_jitter_span
        # auto-compaction (frontier is append-only; resolved slots
        # accumulate and every selection anti-join rescans them):
        # compact when the resolved rows sitting in the frontier exceed
        # compact_ratio x pending AND the compact_min_resolved floor —
        # the floor keeps short crawls from churning snapshots for
        # scans that were already cheap. compact_ratio=0 disables.
        self.compact_ratio = compact_ratio
        self.compact_min_resolved = compact_min_resolved
        # optional WET-style archive: each round's ok-fetches also land
        # as WARC conversion segments under archive_dir/round-NNNNNNNN.
        # Archives live OUTSIDE lineage on purpose — they are derived
        # data (replaying a round rewrites byte-identical records), so
        # kill/resume never needs to roll them back.
        # archive_compress=True writes .warc.gz segments (one gzip
        # member per record, pinned mtime — still deterministic).
        self.archive_dir = archive_dir
        self.archive_compress = archive_compress
        self.compactions = 0
        self._frontier_rows = 0          # rows in the frontier table
        self._resolved_in_frontier = 0   # ... of which already resolved
        st = lambda name, schema: SnapshotTable(spark, state_dir, name, schema)
        self.frontier = st("frontier", schemas.FRONTIER)
        self.resolved = st("resolved", schemas.RESOLVED)
        self.documents = st("documents", schemas.DOCUMENTS)
        self.lineage = st("lineage", schemas.LINEAGE)
        self.next_round = 0
        self._seen_xor = 0
        self._seen_n = 0
        self.last_timings: dict[str, float] = {}

    @property
    def hosts(self) -> DataFrame:
        """The hosts table (robots + politeness budgets) every round's
        selection joins, read from the caller's DataFrame once — on
        first use, so the constructor, :meth:`init` and :meth:`resume`
        submit no job for it — and kept as a driver-local relation.

        Callers build hosts from a list of rows: a Python RDD that each
        round's broadcast join would otherwise re-run as
        ``defaultParallelism`` Python tasks, each paying the Python
        worker's fixed start-up cost (see crawl/fetch.py). The local
        relation (tables/local.py) plans as ``LocalTableScan``, whose
        broadcast runs no Python. The broadcast join already collects
        hosts to the driver every round, so this holds no more there
        than before.
        Later changes to the source table are not seen: a new engine
        (``resume()``) picks them up.
        """
        if self._hosts_local is None:
            src = self._hosts_src
            self._hosts_local = local_frame(self.spark, src.toArrow(), src.schema)
        return self._hosts_local

    # -- views over resolved ----------------------------------------------
    def url_seen_df(self) -> DataFrame:
        """The URL-seen set (D2): fetched-ok URLs."""
        return (
            self.resolved.read().filter(F.col("disposition") == "ok")
            .select("url_hash", "url_sha", "url", F.col("round").alias("seen_round"))
        )

    def dead_df(self) -> DataFrame:
        """404s and retry-exhausted URLs (never refetched)."""
        return (
            self.resolved.read().filter(F.col("disposition") == "dead")
            .select("url_hash", "url_sha", "url", F.col("round").alias("seen_round"))
        )

    def crawl_log_df(self) -> DataFrame:
        """(round, host, seq, url) — the crawl-order invariant."""
        return self.resolved.read().select("round", "host", "seq", "url")

    def trap_report(self, ratio_threshold: float = 8.0,
                    min_urls: int = 20) -> DataFrame:
        """Trap signals over every URL the crawl has resolved
        (crawl/traps.py): path/template explosion per host. Detection
        only — the operator's contract — so the caller decides whether
        flagged hosts enter the exclusion rules (K4) or just lose
        budget; read-only over the resolved table."""
        from news_crawler_spark.crawl.traps import trap_signals

        urls = self.resolved.read().select(
            "host",
            F.coalesce(
                F.nullif(
                    F.regexp_extract("url", r"^https?://[^/]+(/.*)$", 1),
                    F.lit("")),
                F.lit("/"),
            ).alias("path"))
        return trap_signals(urls, ratio_threshold=ratio_threshold,
                            min_urls=min_urls)

    def plan_budgets(self, total_budget: int, floor: int = 1) -> DataFrame:
        """Advisory per-host slot plan for the next round
        (crawl/budget.py allocate_host_budget): pending frontier
        priority mass → largest-remainder split that sums to
        total_budget exactly. The ×1000 ceil quantizes the double
        priority sum so last-ulp aggregation-order noise can't flip a
        remainder rank. Advisory: selection still enforces the hosts
        table's hard caps; this plans how a global round budget SHOULD
        spread before those caps bite."""
        from news_crawler_spark.crawl.budget import allocate_host_budget

        mass = (self._pending(self.next_round)
                .select("host",
                        # quantize PER ROW, then sum longs: integer
                        # partial sums commute, so the plan is identical
                        # at any partitioning — a double F.sum here was
                        # aggregation-order dependent and ceil amplified
                        # last-ulp noise exactly at integer boundaries
                        F.round(F.col("priority") * 1000).cast("long")
                        .alias("_q"))
                .groupBy("host").agg(F.sum("_q").alias("mass")))
        return allocate_host_budget(mass, total_budget, floor=floor)

    def _archive_round(self, round_no: int, ok_rows: DataFrame) -> list[dict]:
        """WET-style WARC conversion archive of a round's ok-fetches
        (sources/warc.py): payload = the flattened span text (P3), one
        segment per partition under archive_dir/round-NNNNNNNN. The
        record date derives from the round number, not the clock, so a
        replayed round re-serializes byte-identical records."""
        from news_crawler_spark.operators.spanops import flatten_text
        from news_crawler_spark.sources.warc import write_warc

        date = (
            _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)
            + _dt.timedelta(seconds=round_no)
        ).strftime("%Y-%m-%dT%H:%M:%SZ")
        out = os.path.join(self.archive_dir, f"round-{round_no:08d}")
        # wipe any aborted attempt's segments first: a replay can stage
        # into a different partition count, and byte-identical rewrite
        # only holds per segment — stale part files from a wider
        # attempt would otherwise duplicate records on read
        import shutil as _shutil

        _shutil.rmtree(out, ignore_errors=True)
        flat = flatten_text(ok_rows.select("doc_id", "spans"))
        recs = flat.select(
            F.col("doc_id").alias("url"),
            F.lit(date).alias("warc_date"),
            F.lit("text/plain").alias("content_type"),
            F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
             .alias("payload"))
        return write_warc(recs, out, warc_type="conversion",
                          compress=self.archive_compress)

    # -- lifecycle --------------------------------------------------------
    def init(self, seeds: DataFrame) -> None:
        """Install the seed list (url, priority) as frontier round -1."""
        rows = seeds.select(
            "url",
            F.xxhash64("url").alias("url_hash"),
            F.sha2(F.col("url"), 256).alias("url_sha"),
            F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
            F.coalesce(
                F.nullif(F.regexp_extract("url", r"^https?://[^/]+(/.*)$", 1), F.lit("")),
                F.lit("/"),
            ).alias("path"),
            F.col("priority").cast("double"),
            F.lit(0).alias("discovered_round"),
            F.lit(0).alias("attempt"),
            F.lit(0).alias("not_before"),
        )
        self.frontier.append(rows)
        self._frontier_rows = self.frontier.read().count()
        self._commit_lineage(-1, 0, 0, 0, 0, "")
        self.next_round = 0

    def _commit_lineage(self, round_no: int, scheduled: int, ok: int,
                        errors: int, new_urls: int, seen_digest: str) -> None:
        # driver-side write (SnapshotTable.append_rows): one record per
        # round does not justify scheduling a Spark job — the job/task
        # round trip was a measurable per-round fixed cost that the
        # low-core bench level cannot amortize
        self.lineage.append_rows(
            [(round_no, scheduled, ok, errors, new_urls,
              self.frontier.current_snapshot(),
              self.resolved.current_snapshot(),
              self.documents.current_snapshot(),
              seen_digest,
              _dt.datetime.now(_dt.timezone.utc).isoformat())])

    def resume(self) -> int:
        """Pin all state tables to the last complete lineage row.

        Returns the next round to run. Any appends from a round whose
        lineage row never committed are rolled back (never replayed
        partially) — the kill/resume invariant of SURVEY.md §7.2 M5.
        Raises when the pinned resolved table disagrees with the
        lineage: its url-seen digest must equal the last row's and, as
        every scheduled slot resolves to exactly one row (ok, dead or
        retry), its row count must equal the rows' summed ``scheduled``.
        """
        rows = self.lineage.read().collect()
        if not rows:
            raise RuntimeError("resume() before init(): no lineage rows")
        last = max(rows, key=lambda row: row["round"])
        self.frontier.rollback(last.frontier_snapshot)
        self.resolved.rollback(last.resolved_snapshot)
        self.documents.rollback(last.documents_snapshot)
        n_resolved = self._rebuild_seen_digest()
        # older rows hold "<url-seen digest>:<filter digest>"
        committed = last.bloom_digest.split(":")[0]
        if ((committed and committed != self._seen_digest())
                or n_resolved != sum(row.scheduled for row in rows)):
            raise RuntimeError(
                "url-seen digest or resolved row count mismatch after rebuild "
                "— resolved table and lineage row disagree (torn state?)")
        # exact compaction counters (one count + one semi-join job,
        # resume-only — never per-round)
        self._frontier_rows = self.frontier.read().count()
        self._resolved_in_frontier = (
            self.frontier.read()
            .join(self.resolved.read().select("url_sha", "attempt"),
                  ["url_sha", "attempt"], "left_semi")
            .count()
        )
        self.next_round = last["round"] + 1
        return self.next_round

    # -- pending: the scale-critical slot anti-join (crawl/frontier.py) --
    def _pending(self, round_no: int) -> DataFrame:
        return frontier_ops.pending(self.frontier.read(), self.resolved.read(), round_no)

    def _retry_gap_col(self) -> F.Column:
        """Exponential backoff in round units (reference utils/retry.py:
        29-36: ``delay * backoff**attempt``, base 1, x2): a slot that
        failed attempt ``a`` (0-based) in round r retries no earlier
        than ``r + 2**a`` — gaps 1, 2, 4, ... Optional deterministic
        seeded jitter (reference's ``±jitter``) adds 0..span rounds,
        replayable by the Python oracle via the same sha256 derivation."""
        gap = F.expr("shiftleft(1, attempt)")
        if self.retry_jitter_span > 0:
            digest = F.sha2(F.concat_ws(
                "|", F.lit(str(self.seed)), F.col("url"),
                F.concat(F.lit("retry"), F.col("attempt").cast("string"))), 256)
            u60 = F.conv(F.substring(digest, 1, 15), 16, 10).cast("long")
            gap = gap + F.pmod(u60, F.lit(self.retry_jitter_span + 1))
        return gap

    # -- the round DAG ----------------------------------------------------
    def run_round(self, round_no: int | None = None) -> dict:
        r = self.next_round if round_no is None else round_no
        t0 = time.perf_counter()
        self._maybe_compact()
        selected = frontier_ops.select_candidates(self._pending(r), self.hosts)
        fetched = fetch_round(selected, self.fetcher)
        t = {"_select_build": round(time.perf_counter() - t0, 3)}

        # ONE pass over the fetch UDF: its output lands directly in a
        # disposition-partitioned staging parquet dir. Everything
        # downstream reads staged columns (spans pruned away unless
        # needed), and the ok-partition is adopted zero-copy as the
        # documents append — no memory-cache serialization of fat span
        # rows, no second spans write. Round counters ride the same
        # write as an Observation (CollectMetrics) — no second agg job.
        t1 = time.perf_counter()
        # attempt cap applies to EVERY non-ok/non-404 disposition: an
        # unknown status (e.g. 204 from a real fetcher) must exhaust
        # too, never retry unboundedly
        exhausted = F.col("attempt") + 1 >= self.max_attempts
        is_dead = (F.col("status") == 404) | (
            (F.col("status") != 200) & exhausted
        )
        disposition = (
            F.when(F.col("status") == 200, "ok")
            .when(is_dead, "dead")
            .otherwise("retry")
        )
        import uuid as _uuid

        from pyspark.sql import Observation

        staging = os.path.join(self.documents.data_dir,
                               f"staging-{r:08d}-{_uuid.uuid4().hex[:8]}")
        obs = Observation()
        # the staging files carry `round` and `disposition` as REGULAR
        # columns and partition on a COPY (`dispo`): the disposition
        # subdirs are then schema-complete flat parquet that the
        # resolved table ADOPTS as its round append (append_dir, a
        # driver-side manifest publish) — the former re-read + rewrite
        # of all scheduled rows into a second resolved data file was a
        # full extra Spark job per round
        (fetched
         .withColumn("doc_id", F.col("url"))
         .withColumn("disposition", disposition)
         .withColumn("round", F.lit(r))
         .withColumn("dispo", F.col("disposition"))
         .observe(
             obs,
             F.count(F.lit(1)).alias("n"),
             F.count(F.when(F.col("disposition") == "ok", 1)).alias("n_ok"),
             F.count(F.when(F.col("disposition") == "dead", 1)).alias("n_dead"),
             F.coalesce(
                 F.expr("bit_xor(case when disposition = 'ok' then url_hash end)"),
                 F.lit(0),
             ).alias("ok_xor"),
         )
         .write.partitionBy("dispo").parquet(staging))
        agg = obs.get
        scheduled, n_ok = agg["n"], agg["n_ok"]
        t["fetch_stage_write"] = round(time.perf_counter() - t1, 3)

        if scheduled == 0:
            # zero-work round (frontier exhausted / all hosts gated /
            # backoff gap): nothing staged, nothing to append — still a
            # legal round; lineage marks it so resume stays monotone
            import shutil as _shutil

            _shutil.rmtree(staging, ignore_errors=True)
            self._commit_lineage(r, 0, 0, 0, 0, self._seen_digest())
            self.next_round = r + 1
            self.last_timings = t
            return {"round": r, "scheduled": 0, "ok": 0, "errors": 0, "new_urls": 0}

        # explicit schema: never infer from staged files (a partition
        # dir may be absent — e.g. no retries this round)
        staged = (self.spark.read.schema(schemas.STAGED)
                  .option("basePath", staging).parquet(staging))

        self._seen_xor ^= int(agg["ok_xor"])
        self._seen_n += n_ok
        n_err = scheduled - n_ok

        # first-wins (D2): candidates never re-enter the frontier —
        # every previously discovered URL already has a frontier row.
        # The anti-join keys on the exact URL (same dedup semantics as
        # the former sha key, minus the hash); sha256/xxhash64/host
        # regexes run on the SURVIVORS only — in steady state nearly
        # every link is already known, so this skips hashing millions
        # of candidate strings per round (enrich_candidates contract).
        ok_rows = staged.filter(F.col("disposition") == "ok")
        candidates = (
            enrich_candidates(
                extract_links(ok_rows)
                .join(self.frontier.read().select("url"), "url", "left_anti"))
            .select(
                "url", "url_hash", "url_sha", "host", "path",
                url_priority_col(self.seed).alias("priority"),
                F.lit(r).alias("discovered_round"),
                F.lit(0).alias("attempt"),
                F.lit(0).alias("not_before"),
            )
        )
        retry_rows = staged.filter(F.col("disposition") == "retry").select(
            "url", "url_hash", "url_sha", "host", "path", "priority",
            "discovered_round",
            (F.col("attempt") + 1).alias("attempt"),
            (F.lit(r) + self._retry_gap_col()).cast("int").alias("not_before"),
        )

        # appends are independent (each atomic; the lineage row below is
        # the round's commit marker). The documents AND resolved appends
        # both adopt staged partitions zero-copy (the files carry
        # round/disposition as regular columns; reads project each
        # table's schema) — the resolved table's former 1-job re-read +
        # rewrite per round is now a driver-side manifest publish.
        # New-URL count rides the frontier append as an Observation — no
        # separate snapshot-delta count job.
        t1 = time.perf_counter()
        obs_frontier = Observation()
        # REBALANCE (AQE advisory-size repartition) before the write:
        # in the mid-crawl steady state nearly every candidate is
        # already known, so without it the append writes one
        # NEAR-EMPTY file per upstream task per round — and every
        # subsequent frontier.read() pays listing + footer reads for
        # all of them (measured as a late-round throughput decay that
        # hits the high-parallelism level hardest: more tasks → more
        # empty files). In discovery-heavy rounds the same hint splits
        # the write to advisory-sized files instead — the guide's §6
        # output-sizing recommendation, scale-adaptive by construction.
        frontier_append = (
            candidates.unionByName(retry_rows)
            .hint("rebalance")
            .observe(obs_frontier,
                     F.count(F.when(F.col("attempt") == 0, 1)).alias("n_new"))
        )
        self.frontier.append(frontier_append)
        ok_dir = os.path.join(staging, "dispo=ok")
        if os.path.isdir(ok_dir):
            self.documents.append_dir(ok_dir)
        self.resolved.append_dir(
            [p for d in ("ok", "dead", "retry")
             if os.path.isdir(p := os.path.join(staging, f"dispo={d}"))])
        t["state_appends"] = round(time.perf_counter() - t1, 3)

        if self.archive_dir is not None and os.path.isdir(ok_dir):
            t1 = time.perf_counter()
            self._archive_round(r, staged.filter(F.col("disposition") == "ok"))
            t["archive"] = round(time.perf_counter() - t1, 3)

        t1 = time.perf_counter()
        n_new = int(obs_frontier.get["n_new"])
        # compaction bookkeeping: each scheduled fetch resolves exactly
        # one frontier (url_sha, attempt) slot; the frontier gained the
        # new candidates plus one bumped-attempt row per retry
        n_retry = scheduled - n_ok - int(agg["n_dead"])
        self._resolved_in_frontier += scheduled
        self._frontier_rows += n_new + n_retry
        self._commit_lineage(r, scheduled, n_ok, n_err, n_new,
                             self._seen_digest())
        t["lineage"] = round(time.perf_counter() - t1, 3)
        self.next_round = r + 1
        self.last_timings = t
        return {"round": r, "scheduled": scheduled, "ok": n_ok,
                "errors": n_err, "new_urls": n_new}

    def compact_frontier(self) -> int:
        """Rewrite the frontier to pending-only rows (resolved slots
        dropped); returns the pending-row count. The frontier is
        append-only for cheap atomic rounds; on long crawls resolved
        rows accumulate and every selection anti-join rescans them —
        compaction keeps the scan proportional to actual pending work.
        Atomic: readers see either the old or the compacted snapshot,
        and a crash before the next lineage commit resumes against the
        still-present pre-compaction snapshot (rollback re-pins the
        manifest pointer; old snapshot dirs are never deleted).

        Called automatically by run_round via _maybe_compact when the
        resolved rows sitting in the frontier pass compact_ratio x
        pending (and the compact_min_resolved floor); callable
        explicitly for scheduled maintenance.

        Rediscovery nuance: after compaction the candidate first-wins
        anti-join no longer sees resolved URLs, so a re-discovered one
        may re-enter the frontier — harmless, because selection's
        (url_sha, attempt) anti-join vs resolved still blocks it from
        ever being scheduled (verified in tests); it is swept by the
        next compaction.
        """
        from pyspark.sql import Observation

        obs = Observation()
        pend = (
            self.frontier.read()
            .join(self.resolved.read().select("url_sha", "attempt"),
                  ["url_sha", "attempt"], "left_anti")
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        self.frontier.overwrite(pend)
        n = int(obs.get["n"])
        self._frontier_rows = n
        self._resolved_in_frontier = 0
        self.compactions += 1
        return n

    def _maybe_compact(self) -> None:
        """Ratio-triggered compaction (run_round entry hook). The
        counters are exact deltas maintained per round (no extra jobs):
        rediscovered-resolved rows re-entering post-compaction are the
        only drift — counted pending though unschedulable — which only
        delays the next compaction, never corrupts the crawl."""
        if not self.compact_ratio:
            return
        pending = max(1, self._frontier_rows - self._resolved_in_frontier)
        if (self._resolved_in_frontier >= self.compact_min_resolved
                and self._resolved_in_frontier >= self.compact_ratio * pending):
            self.compact_frontier()

    def _seen_digest(self) -> str:
        """Order-insensitive digest of url_seen for lineage audit,
        maintained incrementally (xor of url_hash + count) so no
        full-table rescan per round; resume() rebuilds it once."""
        return hashlib.sha256(
            f"{self._seen_xor}|{self._seen_n}".encode()).hexdigest()[:16]

    def _rebuild_seen_digest(self) -> int:
        """Rebuild the url-seen digest from the resolved table; returns
        the table's row count."""
        row = self.resolved.read().agg(
            F.coalesce(
                F.expr("bit_xor(case when disposition = 'ok' then url_hash end)"),
                F.lit(0)).alias("s"),
            F.count(F.when(F.col("disposition") == "ok", 1)).alias("n_ok"),
            F.count("*").alias("n"),
        ).collect()[0]
        self._seen_xor, self._seen_n = int(row["s"]), int(row["n_ok"])
        return int(row["n"])

    def run(self, n_rounds: int) -> list[dict]:
        return [self.run_round() for _ in range(n_rounds)]
