"""The benchmark's three workloads and their output checks.

Each workload is a closed loop driven from the main thread: the next
crawl round, ingest batch or query starts only after the previous one
has committed. :class:`Bench` holds what one run shares (session,
tracer, op counters, metrics); ``run_crawl`` and ``run_corpus`` do
set-up, warm-up, the measured window and the output checks, and in a
traced run also a traced window and the per-layer probes.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from collections.abc import Callable

import corpusgen
import probes
from tracing import Tracer

SETUP_REPEATS = 3

# crawl shapes (SiteConfig fields); README.md explains the sizes
BACKLOG_SHAPE = dict(n_hosts=48, base_pages=1500, hot_factor=4,
                     budgets=(30, 40, 34, 44), richness=2)
DISCOVERY_SHAPE = dict(n_hosts=240, base_pages=400, hot_factor=4,
                       budgets=(2, 3, 2, 3), richness=2)
# a floor on the measured rounds, so that a slower host does not switch
# the median from the middle of three rounds to the mean of two
MIN_ROUNDS = 3
# warm-up: the workload's hosts and budgets on a small web of another
# seed, so its rounds have the measured rounds' shape but touch none of
# the measured inputs
WARMUP_PAGES = 60
WARMUP_ROUNDS = 1
WARMUP_SEED_OFFSET = 1_000_003
# the small crawl the corpus workload's traced run probes
PROBE_CRAWL_SHAPE = dict(n_hosts=48, base_pages=200, hot_factor=4,
                         budgets=(2, 3, 2, 3), richness=2)
PROBE_CRAWL_ROUNDS = 3
SINGLE_CORE_ROUNDS = 2  # keeps a traced crawl_backlog run well inside 180 s

# corpus: the analytic tables stay fixed (seed 42, like the repository's
# read-only sf tables); the run seed picks which docs the mixed batch
# mutates and the batch row order. Warm-up reads tables of another seed.
CORPUS_TABLES = dict(seed=42, n_docs=2000, n_orders=5000, n_events=4000, n_vectors=500)
SMALL_TABLES = dict(seed=43, n_docs=600, n_orders=1500, n_events=1000, n_vectors=200)
# a spread of bench.py's BENCH_QUERIES over the operator modules whose
# warm pass fits a few seconds at local[4]
QUERIES = [
    "tpch_q1", "d1_first_wins_dedup", "frontier_topk_selection", "j1_antijoin",
    "salted_join_revenue", "dedup_minhash_lsh", "vocab_topk", "sim_cosine_topk",
]


def perf() -> float:
    return time.perf_counter()


class Bench:
    """State shared by one benchmark run."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool,
                 nproc: int, session_factory: Callable, t_process: float):
        self.work = work
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.nproc = nproc
        self.t_process = t_process
        self._session_factory = session_factory
        self.spark = None
        self.tracer = Tracer(run_id=f"seed{seed}", enabled=False)
        self.event_log_dir: str | None = None
        self.attempted = 0
        self.failed = 0
        self.last_s = 0.0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.recorded: dict = {}   # per-layer counts and ratios from probes
        self.context: dict = {}

    def start_session(self, traced: bool = False, cpus: int | None = None) -> None:
        """(Re)start the Spark session. A traced session writes an event
        log and its jobs are tagged with span ids."""
        if self.spark is not None:
            self.spark.stop()
        if traced and self.event_log_dir is None:
            self.event_log_dir = self.path("eventlog")
        t0 = perf()
        self.spark = self._session_factory(cpus or self.nproc,
                                           self.event_log_dir if traced else None)
        self.context.setdefault("session_start_s", perf() - t0)
        self.mark("session")
        self.tracer.enabled = traced
        self.tracer.sc = self.spark.sparkContext if traced else None

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def path(self, name: str) -> str:
        """A fresh, empty directory under the run's work dir."""
        p = os.path.join(self.work, name)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p

    def op(self, name: str, fn: Callable, check: Callable | None = None):
        """Run and count one op (round, resume, ingest batch or query).
        ``last_s`` is the op's wall time; ``check`` runs after it and
        returns a reason when the output is wrong. Returns None when the
        op raised or failed its check."""
        self.attempted += 1
        t0 = perf()
        try:
            out = fn()
        except Exception as exc:  # a failed op is counted and reported
            self.last_s = perf() - t0
            traceback.print_exc(file=sys.stderr)
            self.fail(f"{name}: {type(exc).__name__}: {exc}")
            return None
        self.last_s = perf() - t0
        why = check(out) if check is not None else None
        if why:
            self.fail(f"{name}: {why}")
            return None
        return out

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since process start."""
        self.context.setdefault("phase_end_s", {}).setdefault(phase, perf() - self.t_process)

    def fail(self, why: str) -> None:
        self.failed += 1
        self.errors.append(why[:400])
        print(f"perfbench: FAILED {why[:400]}", file=sys.stderr)


def _overhead(b: Bench, traced_cycles: list[float]) -> None:
    if traced_cycles and "cycle_s_p50" in b.e2e:
        traced = statistics.median(traced_cycles)
        b.recorded["trace.overhead_s"] = traced - b.e2e["cycle_s_p50"]
        b.recorded["trace.overhead_ratio"] = traced / b.e2e["cycle_s_p50"]


# ---------------------------------------------------------------------------
# crawl workloads
# ---------------------------------------------------------------------------

def _site(seed: int, shape: dict, discovery: bool):
    from news_crawler_spark.fixtures import SiteConfig

    return SiteConfig(seed=seed, n_seeds=shape["n_hosts"] if discovery else 4, **shape)


def _engine(spark, state_dir: str, cfg):
    from news_crawler_spark.crawl import CrawlEngine, SyntheticFetcher
    from news_crawler_spark.fixtures import host_rows
    from news_crawler_spark.schemas import HOSTS

    hosts = spark.createDataFrame(host_rows(cfg), HOSTS)
    return CrawlEngine(spark, state_dir, hosts,
                       SyntheticFetcher(cfg, parse_html=True), seed=cfg.seed)


def _seed_list(spark, cfg, discovery: bool):
    """Discovery: one page per host. Backlog: every page of the web."""
    from pyspark.sql import functions as F

    from news_crawler_spark.fixtures import seed_rows

    if discovery:
        return spark.createDataFrame(seed_rows(cfg), "url string, priority double")
    n = cfg.n_hosts
    host = (F.col("id") % n).cast("int")
    page = F.floor(F.col("id") / n).cast("long")
    url = F.format_string("http://h%04d.test/p%d", host, page)
    prio = F.pmod(F.xxhash64(F.lit(cfg.seed), url), F.lit(100000)) / F.lit(100000.0)
    return (spark.range(n * cfg.pages_on(0))
            .where((host == 0) | (page < cfg.base_pages))
            .select(url.alias("url"), prio.alias("priority")))


def _crawl_window(b: Bench, eng) -> tuple[list, list]:
    """Rounds until the run's seconds have passed and at least MIN_ROUNDS
    have run; returns (walls, stats)."""
    walls, stats = [], []
    t_end = perf() + b.seconds
    while perf() < t_end or len(walls) < MIN_ROUNDS:
        s = b.op("round", eng.run_round)
        if s is None:
            break
        walls.append(b.last_s)
        stats.append(s)
    return walls, stats


def _reopen_crawl(b: Bench, cfg, eng, state_dir: str) -> float:
    """A fresh CrawlEngine on ``eng``'s state + resume(); returns its
    seconds. resume() must return the next round and leave every table
    count unchanged."""
    before, expect = probes.crawl_counts(eng), eng.next_round
    fresh = _engine(b.spark, state_dir, cfg)
    if b.op("resume", fresh.resume, lambda r: None if r == expect
            else f"resume() returned {r}, expected {expect}") is not None:
        after = probes.crawl_counts(fresh)
        if after != before:
            b.fail(f"resume changed table counts: {before} -> {after}")
    return b.last_s


def _check_crawl(b: Bench, eng, cfg, stats: list[dict], discovery: bool) -> None:
    """Crawl-order invariants; discovery also replays CrawlOracle."""
    from pyspark.sql import functions as F

    resolved = eng.resolved.read()
    n_resolved, n_scheduled = resolved.count(), sum(s["scheduled"] for s in stats)
    if n_resolved != n_scheduled:
        b.fail(f"resolved rows {n_resolved} != scheduled {n_scheduled}")
    twice = resolved.groupBy("url_sha", "attempt").count().where("count > 1").count()
    if twice:
        b.fail(f"{twice} (url_sha, attempt) slots resolved more than once")
    bad = (resolved.groupBy("round", "host")
           .agg(F.count("*").alias("n"), F.min("seq").alias("lo"),
                F.max("seq").alias("hi"), F.countDistinct("seq").alias("d"))
           .join(eng.hosts.select("host", "budget"), "host")
           .where("lo != 1 or hi != n or d != n or n > budget").count())
    if bad:
        b.fail(f"{bad} (round, host) groups break seq 1..n <= budget")
    if not discovery:
        return
    from news_crawler_spark.fixtures import CrawlOracle

    want = CrawlOracle(cfg).run(eng.next_round)
    if sorted(tuple(r) for r in eng.crawl_log_df().collect()) != sorted(want.crawl_log):
        b.fail("crawl log differs from CrawlOracle")
    for name, df, ref in (("url_seen", eng.url_seen_df(), want.url_seen),
                          ("dead", eng.dead_df(), want.dead)):
        got = {r.url: r.seen_round for r in df.select("url", "seen_round").collect()}
        if got != ref:
            b.fail(f"{name} set differs from CrawlOracle ({len(got)} vs {len(ref)} urls)")


def _warmup_crawl(b: Bench, shape: dict, discovery: bool) -> None:
    """A small crawl of the workload's shape on another web (seed) in its
    own state dir: compiles the plans and starts the Python workers
    before anything is timed."""
    cfg = _site(b.seed + WARMUP_SEED_OFFSET, dict(shape, base_pages=WARMUP_PAGES),
                discovery)
    eng, _ = _setup_crawl(b, cfg, discovery, "warmup-crawl")
    for _ in range(WARMUP_ROUNDS):
        eng.run_round()


def _setup_crawl(b: Bench, cfg, discovery: bool, tag: str):
    """A fresh engine on a fresh state dir, seeded with ``init()``;
    returns (engine, state dir)."""
    state_dir = b.path(tag)
    eng = _engine(b.spark, state_dir, cfg)
    eng.init(_seed_list(b.spark, cfg, discovery))
    return eng, state_dir


def run_crawl(b: Bench, discovery: bool) -> None:
    shape = DISCOVERY_SHAPE if discovery else BACKLOG_SHAPE
    cfg = _site(b.seed, shape, discovery)
    _warmup_crawl(b, shape, discovery)
    b.mark("warmup")

    # set-up: engine + init(seed list), repeated; the last one is crawled
    setups = []
    for i in range(SETUP_REPEATS):
        t0 = perf()
        eng, state_dir = _setup_crawl(b, cfg, discovery, f"crawl-state-{i}")
        setups.append(perf() - t0)
    b.e2e["setup_s"] = statistics.median(setups)
    b.mark("setup")

    steal = probes.Steal()
    walls, stats = _crawl_window(b, eng)
    b.context["steal_pct"] = steal.pct()
    if not walls:
        return
    b.e2e["throughput"] = sum(s["scheduled"] for s in stats) / sum(walls)
    b.e2e["cycle_s_p50"] = statistics.median(walls)
    b.context["round_s"] = walls
    b.context["round_urls"] = [s["scheduled"] for s in stats]
    b.mark("window")

    b.e2e["resume_s"] = _reopen_crawl(b, cfg, eng, state_dir)
    b.mark("resume")
    _check_crawl(b, eng, cfg, stats, discovery)
    b.mark("check")
    if not b.trace:
        return

    # traced run: the same rounds again on a fresh engine, traced
    b.start_session(traced=True)
    eng, _ = _setup_crawl(b, cfg, discovery, "crawl-traced")
    t_walls, _ = traced_rounds(b, eng, len(walls))
    _overhead(b, t_walls)
    b.recorded.update(probes.crawl_layers(b, eng, cfg))
    corpus_probe(b)
    b.mark("traced")
    if not discovery:
        b.context["single_core_reference"] = _single_core(b, cfg, walls, stats)
        b.mark("single_core")


def _ok_ratio(b: Bench, stats: list[dict]) -> None:
    if stats:
        b.recorded["fetch.ok_ratio"] = (sum(s["ok"] for s in stats)
                                        / max(1, sum(s["scheduled"] for s in stats)))


def _single_core(b: Bench, cfg, walls: list, stats: list) -> dict:
    """crawl_backlog's first SINGLE_CORE_ROUNDS measured rounds again at
    local[1] on a fresh engine: context for BASELINE's N-vs-4N rule,
    never gated."""
    b.start_session(cpus=1)
    eng, _ = _setup_crawl(b, cfg, False, "crawl-local1")
    w1, s1 = [], []
    for _ in range(SINGLE_CORE_ROUNDS):
        t0 = perf()
        s1.append(eng.run_round())
        w1.append(perf() - t0)
    rate_1 = sum(s["scheduled"] for s in s1) / sum(w1)
    rate_n = (sum(s["scheduled"] for s in stats[:SINGLE_CORE_ROUNDS])
              / sum(walls[:SINGLE_CORE_ROUNDS]))
    return {"local1_urls_per_s": rate_1, "local1_round_s": w1,
            f"local{b.nproc}_urls_per_s": rate_n,
            "efficiency": rate_n / rate_1 / b.nproc}


# ---------------------------------------------------------------------------
# corpus workload
# ---------------------------------------------------------------------------

def _tables(b: Bench, spec: dict, tag: str) -> str:
    spec = dict(spec)
    return corpusgen.write_tables(b.path(f"tables-{tag}"), spec.pop("seed"), **spec)


def _batches(b: Bench, tables: str, tag: str) -> list[tuple[str, str, int]]:
    """Fresh / 100% recrawl / half-mutated ingest batches as parquet
    files; returns (name, path, expected exact-dup count). The seed
    picks the mutated half and the row order."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(tables, "documents.parquet"),
                         columns=["doc_id", "text"])
    n = docs.num_rows
    ids, text = docs["doc_id"].to_numpy(), docs["text"].to_pylist()
    rng = np.random.default_rng(b.seed)
    keep = np.zeros(n, dtype=bool)
    keep[rng.permutation(n)[: n // 2]] = True
    mixed = [t if k else t + " trailing recrawl delta token" for t, k in zip(text, keep)]
    out = b.path(f"batches-{tag}")
    batches = []
    for name, offset, texts, exact in (("fresh", 0, text, 0),
                                       ("recrawl", 10_000_000, text, n),
                                       ("mixed", 20_000_000, mixed, n // 2)):
        order = rng.permutation(n)
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(ids[order] + offset),
                                 "text": pa.array([texts[i] for i in order])}), path)
        batches.append((name, path, exact))
    return batches


def _verdict_check(st, name: str, n: int, exact: int):
    from pyspark.sql import functions as F

    rows = st.lineage.read().where(F.col("batch_id") == name).collect()
    if len(rows) != 1:
        return f"{len(rows)} lineage rows for batch {name}"
    if (rows[0].n_docs, rows[0].n_exact) != (n, exact):
        return (f"docs/exact_dup {rows[0].n_docs}/{rows[0].n_exact}, "
                f"expected {n}/{exact}")
    return None


def ingest_cycle(b: Bench, batches: list, n_docs: int, prefix: str = "ingest"):
    """The batches, in order, into a fresh DedupState, each checked against
    how it was built. Returns (docs ingested, seconds, state dir)."""
    from news_crawler_spark.ingest import DedupState

    state_dir = b.path(f"{prefix}-state")
    st = DedupState(b.spark, state_dir)
    docs = secs = 0.0
    for name, path, exact in batches:
        with b.tracer.span(f"{prefix}.{name}"):
            out = b.op(f"ingest:{name}",
                       lambda: st.ingest(b.spark.read.parquet(path), name),
                       lambda _: _verdict_check(st, name, n_docs, exact))
        if out is None:
            break
        docs, secs = docs + n_docs, secs + b.last_s
        b.context.setdefault(f"{prefix}_batch_s", {}).setdefault(name, []).append(b.last_s)
    return docs, secs, state_dir


def query_pass(b: Bench, tables: str, prefix: str = "query") -> list[float] | None:
    """One pass over QUERIES, each forced through the noop sink.
    Returns the query times, or None when a query failed."""
    import __spark_entry__ as entry

    registry = entry.queries()
    times = []
    for name in QUERIES:
        with b.tracer.span(f"{prefix}.{name}"):
            ok = b.op(f"query:{name}",
                      lambda: probes.force(registry[name](b.spark, tables)) or True)
        if ok is None:
            return None
        times.append(b.last_s)
        b.context.setdefault(f"{prefix}_query_s", {}).setdefault(name, []).append(b.last_s)
    return times


def _oracle_check(b: Bench, tables: str) -> None:
    """Every query of QUERIES, collected and compared with its DuckDB
    oracle_sql() on the same tables. Runs outside the timed window."""
    import duckdb

    import __spark_entry__ as entry

    sql, registry = entry.oracle_sql(), entry.queries()

    def differs(name: str, got: list) -> str | None:
        if name not in sql:
            return None
        res = con.execute(sql[name])
        want = probes.canonical_rows([d[0] for d in res.description], res.fetchall())
        return None if got == want else (f"differs from the DuckDB oracle "
                                         f"({len(got)} vs {len(want)} rows)")

    con = duckdb.connect()
    try:
        for t in corpusgen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables, t + '.parquet')}')")
        for name in QUERIES:
            def rows(name=name):
                sdf = registry[name](b.spark, tables)
                return probes.canonical_rows(sdf.columns, [tuple(r) for r in sdf.collect()])

            with b.tracer.span(f"oracle.{name}"):
                b.op(f"query:{name}", rows, lambda got, name=name: differs(name, got))
    finally:
        con.close()


def _corpus_window(b: Bench, batches: list, n_docs: int, tables: str):
    """Cycles of (ingest the three batches, one query pass) until the
    window has passed; returns (docs, ingest seconds, pass times, last
    state dir)."""
    docs = secs = 0.0
    passes: list[float] = []
    state_dir = None
    t_end = perf() + b.seconds
    while perf() < t_end:
        d, s, state_dir = ingest_cycle(b, batches, n_docs)
        docs, secs = docs + d, secs + s
        times = query_pass(b, tables)
        if times is None or d < n_docs * len(batches):
            break
        passes.append(sum(times))
    return docs, secs, passes, state_dir


def _reopen_dedup(b: Bench, state_dir: str) -> float:
    """A fresh DedupState on the last ingest state + resume(); returns
    its seconds. resume() must report three batches and change no count."""
    from news_crawler_spark.ingest import DedupState

    before = probes.dedup_counts(DedupState(b.spark, state_dir))
    fresh = DedupState(b.spark, state_dir)
    if b.op("resume", fresh.resume, lambda n: None if n == 3
            else f"resume() reported {n} batches, expected 3") is not None:
        after = probes.dedup_counts(fresh)
        if after != before:
            b.fail(f"resume changed table counts: {before} -> {after}")
    return b.last_s


def run_corpus(b: Bench) -> None:
    from news_crawler_spark.ingest import DedupState

    tables = _tables(b, CORPUS_TABLES, "main")
    warm = _tables(b, SMALL_TABLES, "warm")
    batches = _batches(b, tables, "main")
    n_docs = CORPUS_TABLES["n_docs"]
    b.mark("tables")

    # warm-up on the disjoint tables: the DuckDB oracle check of every
    # query, and the fresh and mixed batches (the mixed one runs both the
    # exact and the near-duplicate path)
    _oracle_check(b, warm)
    b.mark("warmup_queries")
    ingest_cycle(b, _batches(b, warm, "warm")[::2], SMALL_TABLES["n_docs"], prefix="warmup")
    b.mark("warmup")
    # set-up: open the dedup state and the tables, repeated
    setups = []
    for i in range(SETUP_REPEATS):
        t0 = perf()
        DedupState(b.spark, b.path(f"setup-state-{i}")).resume()
        for t in corpusgen.TABLES:
            b.spark.read.parquet(os.path.join(tables, f"{t}.parquet")).schema
        setups.append(perf() - t0)
    b.e2e["setup_s"] = statistics.median(setups)
    b.mark("setup")

    steal = probes.Steal()
    docs, secs, passes, state_dir = _corpus_window(b, batches, n_docs, tables)
    b.context["steal_pct"] = steal.pct()
    if not passes or not secs:
        return
    b.e2e["throughput"] = docs / secs
    b.e2e["cycle_s_p50"] = statistics.median(passes)
    b.context["suite_pass_s"] = passes
    b.mark("window")

    b.e2e["resume_s"] = _reopen_dedup(b, state_dir)
    b.mark("resume")
    if not b.trace:
        return

    # traced run: the same cycles again, traced
    b.start_session(traced=True)
    _, _, t_passes, _ = _corpus_window(b, batches, n_docs, tables)
    _overhead(b, t_passes)
    crawl_probe(b)
    b.mark("traced")


# ---------------------------------------------------------------------------
# cross-layer probes of the traced run: every workload reports every
# per-layer metric, so a crawl workload also ingests and queries small
# tables, and the corpus workload also runs a small crawl
# ---------------------------------------------------------------------------

def traced_rounds(b: Bench, eng, n: int) -> tuple[list, list]:
    """``n`` rounds, each in a ``round`` span with the engine's own phase
    timings as child spans; returns (walls, stats)."""
    walls, stats = [], []
    for _ in range(n):
        with b.tracer.span("round") as sp:
            s = b.op("round", eng.run_round)
        if s is None:
            break
        walls.append(b.last_s)
        stats.append(s)
        probes.engine_child_spans(b.tracer, sp, getattr(eng, "last_timings", {}))
    _ok_ratio(b, stats)
    return walls, stats


def corpus_probe(b: Bench) -> None:
    tables = _tables(b, SMALL_TABLES, "probe")
    ingest_cycle(b, _batches(b, tables, "probe"), SMALL_TABLES["n_docs"])
    query_pass(b, tables)


def crawl_probe(b: Bench) -> None:
    cfg = _site(b.seed, PROBE_CRAWL_SHAPE, True)
    eng, _ = _setup_crawl(b, cfg, True, "probe-crawl")
    _, stats = traced_rounds(b, eng, PROBE_CRAWL_ROUNDS)
    _check_crawl(b, eng, cfg, stats, True)
    b.recorded.update(probes.crawl_layers(b, eng, cfg))
