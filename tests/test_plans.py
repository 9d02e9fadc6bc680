"""Physical-plan audits (SURVEY.md §4): the optimizations must show up
in `.explain`, not just in intent — filter/column pushdown to the
parquet scan, broadcast for small-side joins, TakeOrderedAndProject
for global top-k, no full-frontier window in round selection."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_and_column_pushdown_tpch_q1(spark):
    df = entry_mod.q_tpch_q1(spark, SF_DIR)
    plan = plan_of(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1]
    # column pruning: the 11-column table scans only the 7 used columns
    read_schema = plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema


def test_small_dim_join_broadcasts(spark):
    df = entry_mod.q_j1_antijoin(spark, SF_DIR)
    assert "Broadcast" in plan_of(df)


def test_global_topk_is_take_ordered(spark):
    """orderBy().limit() must plan as TakeOrderedAndProject — partial
    per-partition top-k + k-merge, never a global sort."""
    df = entry_mod.q_l1_sort_limit(spark, SF_DIR)
    assert "TakeOrderedAndProject" in plan_of(df)


def test_selection_plan_has_no_full_frontier_window(spark, tmp_path):
    """Round selection: the (url_sha, attempt) slot anti-join replaced
    the latest-attempt window — no Window over the raw frontier before
    the per-host budget rank (windows appear only after gating)."""
    from news_crawler_spark.crawl import frontier as fops
    from news_crawler_spark.fixtures import SiteConfig, host_rows
    from news_crawler_spark.schemas import FRONTIER, HOSTS, RESOLVED

    cfg = SiteConfig()
    frontier = spark.createDataFrame([], FRONTIER)
    resolved = spark.createDataFrame([], RESOLVED)
    hosts = spark.createDataFrame(host_rows(cfg), HOSTS)
    pend = fops.pending(frontier, resolved, 0)
    pend_plan = plan_of(pend, "simple")
    assert "Window" not in pend_plan
    assert "LeftAnti" in pend_plan

    sel = fops.select_candidates(pend, hosts)
    sel_plan = plan_of(sel, "simple")
    # the politeness gate join is broadcast (hosts is tiny)
    assert "Broadcast" in sel_plan


def _candidates(spark, hot_budget):
    """A few pending rows over the fixture hosts, as selection sees
    them; the first host's budget set to ``hot_budget``."""
    from news_crawler_spark.fixtures import SiteConfig, host_rows
    from news_crawler_spark.schemas import FRONTIER, HOSTS

    hosts = host_rows(SiteConfig())
    hosts[0]["budget"] = hot_budget
    cand = [(f"http://{h['host']}/p{i}", i, f"sha{i}", h["host"], f"/p{i}",
             0.5, 0, 0, 0) for i, h in enumerate(hosts * 3)]
    return (spark.createDataFrame(cand, FRONTIER),
            spark.createDataFrame(hosts, HOSTS))


@pytest.mark.parametrize("hot_budget", [5, 1500])
def test_selection_is_one_host_exchange_with_window_group_limits(spark, hot_budget):
    """Per-host top-budget selection is one window: a Partial
    WindowGroupLimit caps each host's rows per map partition below the
    single host Exchange and a Final one completes it above (no salt
    pre-prune). A budget above Spark's default 1000-row
    windowGroupLimitThreshold keeps the Partial limit too (session.py)."""
    from news_crawler_spark.crawl import frontier as fops

    sel = fops.select_candidates(*_candidates(spark, hot_budget))
    plan = plan_of(sel, "simple")
    shuffles = re.findall(r"(?<!Broadcast)Exchange (\S+)", plan)
    assert len(shuffles) == 1 and shuffles[0].startswith("hashpartitioning(host#"), plan
    assert re.search(r"WindowGroupLimit .*, Partial", plan), plan
    assert re.search(r"WindowGroupLimit .*, Final", plan), plan
    assert "salt" not in plan


def test_fetch_stage_keeps_explicit_partitioning(spark):
    """The fetch UDF's input is repartitioned on url_hash (unique per
    row, so a host's rows spread over every task) with an explicit
    partition count: AQE must not coalesce the CPU-bound UDF onto a
    couple of tasks (measured regression)."""
    from news_crawler_spark.crawl import frontier as fops
    from news_crawler_spark.crawl.fetch import fetch_round, SyntheticFetcher
    from news_crawler_spark.fixtures import SiteConfig

    sel = fops.select_candidates(*_candidates(spark, 5))
    fetched = fetch_round(sel, SyntheticFetcher(SiteConfig()))
    n = spark.sparkContext.defaultParallelism
    # REPARTITION_BY_NUM (explicit) rather than plain hashpartitioning;
    # one task per core: every extra Python task pays the worker's
    # fixed set-up cost (crawl/fetch.py)
    plan = plan_of(fetched, "simple")
    assert re.search(rf"Exchange hashpartitioning\(url_hash#\d+L, {n}\), "
                     "REPARTITION_BY_NUM", plan), plan
    assert fetched.rdd.getNumPartitions() == n


def test_engine_resolves_hosts_once_into_a_local_relation(spark, tmp_path):
    """The caller's hosts DataFrame (a Python RDD under
    createDataFrame(list)) is read once, at the first round — never by
    the constructor, init() or resume() — and every round's selection
    then joins a LocalTableScan, not a re-run of that Python RDD."""
    from news_crawler_spark.crawl import CrawlEngine, SyntheticFetcher
    from news_crawler_spark.crawl import frontier as fops
    from news_crawler_spark.fixtures import SiteConfig, host_rows, seed_rows
    from news_crawler_spark.schemas import HOSTS

    cfg = SiteConfig(seed=3, n_hosts=4, base_pages=10, n_seeds=2)
    sc = spark.sparkContext
    reads = sc.accumulator(0)

    def counted(row):
        reads.add(1)
        return row

    hosts = spark.createDataFrame(
        sc.parallelize(host_rows(cfg), 2).map(counted), HOSTS)
    eng = CrawlEngine(spark, str(tmp_path / "state"), hosts,
                      SyntheticFetcher(cfg), seed=cfg.seed)
    eng.init(spark.createDataFrame(seed_rows(cfg), "url string, priority double"))
    assert reads.value == 0

    eng.run_round()
    assert reads.value == cfg.n_hosts
    eng.run_round()
    assert reads.value == cfg.n_hosts
    CrawlEngine(spark, str(tmp_path / "state"), hosts,
                SyntheticFetcher(cfg), seed=cfg.seed).resume()
    assert reads.value == cfg.n_hosts

    sel_plan = plan_of(fops.select_candidates(eng._pending(eng.next_round),
                                              eng.hosts), "simple")
    assert "ExistingRDD" not in sel_plan
    assert "LocalTableScan" in sel_plan


def test_empty_snapshot_reads_plan_as_local_relations(spark, tmp_path):
    """An empty state table reads as a driver-local empty relation
    (tables/local.py), not a Python RDD whose every scan starts
    defaultParallelism Python tasks: before any commit, and for a
    snapshot that holds or adds no data dir."""
    from news_crawler_spark import schemas
    from news_crawler_spark.tables import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path), "resolved", schemas.RESOLVED)
    reads = [t.read(), t.read_snapshot_delta()]
    t.append_dir([])
    reads += [t.read(), t.read_snapshot_delta()]
    for df in reads:
        plan = plan_of(df, "simple")
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        assert df.columns == schemas.RESOLVED.names


def test_first_dedup_ingest_prunes_its_state_joins(spark, tmp_path, monkeypatch):
    """A first DedupState.ingest joins empty state tables: the exact
    (fingerprint) and near (LSH band) joins must see a LocalTableScan
    on the state side, never a Python RDD scan, so the optimizer
    prunes the joins themselves (PropagateEmptyRelation)."""
    from news_crawler_spark.ingest import DedupState

    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "zeta eta theta iota")],
        "doc_id long, text string")
    cls = type(batch)
    joins = {}
    real_join = cls.join

    def recording_join(self, other, on=None, how=None):
        out = real_join(self, other, on, how)
        joins.setdefault(str(on), (other, out))
        return out

    monkeypatch.setattr(cls, "join", recording_join)
    DedupState(spark, str(tmp_path / "state")).ingest(batch, "b0")
    monkeypatch.undo()

    for key in ("fp", str(["band_id", "band_hash"])):  # exact, near
        assert key in joins, sorted(joins)
        state_side, joined = (plan_of(df, "simple") for df in joins[key])
        assert "LocalTableScan" in state_side, state_side
        assert "ExistingRDD" not in state_side, state_side
        assert "Join" not in joined, joined


def test_sid_assignment_has_no_single_partition_exchange(spark):
    """Global SID numbering must be the two-phase form: range
    repartition + partition-local rank + offset map — never an
    Exchange SinglePartition (the partitionBy-less window funnel)."""
    df = entry_mod.q_sid_assignment(spark, SF_DIR)
    plan = plan_of(df, "simple")
    assert "SinglePartition" not in plan
    # the range repartition runs INSIDE the eager localCheckpoint (its
    # blocks appear downstream as Scan ExistingRDD), so assert the
    # staged shape directly: repartitionByRange on the key, no
    # SinglePartition anywhere in the pre-checkpoint plan either
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").limit(500)
    staged = (ev.selectExpr("cast(event_id as string) as key")
              .repartitionByRange(8, F.col("key")))
    staged_plan = plan_of(staged, "simple")
    assert "rangepartitioning" in staged_plan.lower()
    assert "ExistingRDD" in plan  # checkpoint barrier is in effect


def test_global_row_number_matches_window_rank(spark):
    """Value check: two-phase rank == the naive global window rank."""
    from pyspark.sql import Window

    from news_crawler_spark.operators.topk import global_row_number

    df = spark.range(3000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("key"))
    got = {r.key: r.rn for r in global_row_number(df, "key").collect()}
    want = {r.key: r.rn for r in df.withColumn(
        "rn", F.row_number().over(Window.orderBy("key"))).collect()}
    assert got == want


def test_minhash_plan_is_partial_aggregated(spark):
    """MinHash signatures must show map-side partial aggregation
    (HashAggregate before and after the exchange)."""
    from news_crawler_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(minhash_signatures(docs), "simple")
    assert plan.count("HashAggregate") >= 2
    assert "partial_min" in plan or "merge_min" in plan or "Exchange" in plan


def test_no_scale_traps_in_any_contract_query(spark):
    """Fleet-wide physical-plan guard over the ENTIRE registry: no
    contract query may plan a CartesianProduct, and every
    Exchange SinglePartition must be the benign global-aggregate
    pattern — fed by a partial (Object)HashAggregate so only
    per-partition partials cross the wire, never raw rows (a
    SinglePartition feeding a Sort/Window is the one-task funnel that
    kills a 100 TB job). Guards every FUTURE query too: a new registry
    entry with either smell fails here before the driver ever sees it."""
    offenders = {}
    for name, fn in entry_mod.queries().items():
        plan = plan_of(fn(spark, SF_DIR), "simple")
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
            continue
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            feeder = next((l for l in lines[i + 1:] if l.strip()), "")
            if "partial_" not in feeder:
                offenders[name] = f"SinglePartition fed by: {feeder.strip()[:80]}"
                break
    assert not offenders, offenders


def test_bm25_plan_partial_aggs_and_broadcast_constants(spark):
    """BM25's tf/dl/df groupBys must partial-aggregate map-side (the
    shuffle carries per-key partials, not raw token rows), and the
    1-row corpus-constants join must be a broadcast — never a shuffle
    of the corpus against a 1-row side."""
    from news_crawler_spark.operators import bm25_scores

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(bm25_scores(docs), "simple")
    assert plan.count("HashAggregate") >= 4  # partial+final for tf/dl
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_repetition_profile_single_generate(spark):
    """The repetition profile must tokenize ONCE per doc (one Generate
    staging the token array behind a barrier) and stay fully
    ROW-LOCAL: every statistic is an array size over that staged
    array, so the plan must contain NO aggregate and NO exchange
    beyond the optional small-input spread repartition — the r6
    rewrite of the old explode + multi-distinct groupBy form."""
    from news_crawler_spark.operators import repetition_profile

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(repetition_profile(docs), "simple")
    assert plan.count("Generate") == 1
    assert "HashAggregate" not in plan and "Expand" not in plan
    assert "hashpartitioning" not in plan  # only round-robin spread


def test_sequence_packing_no_global_window(spark):
    """Sequence packing's cumulative sum must window per language
    shard — a global orderBy window (Exchange SinglePartition) funnels
    the whole corpus through one task."""
    plan = plan_of(entry_mod.q_sequence_packing(spark, SF_DIR), "simple")
    assert "SinglePartition" not in plan
    assert "hashpartitioning(lang" in plan
    # engine-level variant: window keys on (lang, hash-shard) so
    # parallelism survives a monolingual corpus
    plan2 = plan_of(entry_mod.q_sequence_packing_sharded(spark, SF_DIR),
                    "simple")
    assert "SinglePartition" not in plan2
    assert "hashpartitioning(lang" in plan2 and "shard" in plan2


def test_ivf_assignment_no_shuffle_no_join(spark):
    """The IVF cell assignment must be pure per-row projection over the
    corpus: centroid sims as one literal-array expression, top-nprobe
    via array_sort+slice. NO Exchange, NO join of any flavor — the r02
    form cross-joined corpus x centroids and argmax'd with a window
    partitioned by vec_id (16x row blowup + a full corpus shuffle),
    which at 100 TB of embeddings is the dominant IVF cost."""
    from news_crawler_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cent = (emb.orderBy("vec_id").limit(8)
            .selectExpr("cast(vec_id as int) as cell", "embedding as cvec"))
    plan = plan_of(ivf_assign(emb, cent))
    # the only Exchange permitted is the small-input spread_scan
    # round-robin (widens a one-row-group scan; no-op at real scale) —
    # never a hash/single-partition shuffle of the corpus
    assert "hashpartitioning" not in plan
    assert "SinglePartition" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_partition_pruning_on_hive_layout(spark, tmp_path):
    """A filter on the partition column must prune at PLANNING time
    (PartitionFilters on the scan) — at 100 TB this is the difference
    between listing 3 directories and footer-reading every file."""
    from news_crawler_spark.sources.readers import write_partitioned

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    p = str(tmp_path / "ev_part")
    write_partitioned(ev, p, ["event_type"])
    one_type = ev.select("event_type").first().event_type
    df = (spark.read.parquet(p)
          .filter(F.col("event_type") == one_type)
          .select("event_id", "ts"))
    plan = plan_of(df)
    part_section = plan.split("PartitionFilters", 1)
    assert len(part_section) == 2, "scan must expose PartitionFilters"
    assert "event_type" in part_section[1].splitlines()[0]


def test_range_join_is_equi_join_not_nested_loop(spark):
    """The bucket decomposition must plan as a hash/sort-merge
    equi-join on the bucket key — a bare range predicate would be a
    BroadcastNestedLoopJoin (O(points x intervals) at scale)."""
    df = entry_mod.q_range_join(spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_salted_agg_two_phase_exchanges(spark):
    """Phase 1 must exchange on (keys, salt) — the hot key fans out —
    and phase 2 on the keys alone; both aggregates partial map-side."""
    df = entry_mod.q_salted_agg(spark, SF_DIR)
    plan = plan_of(df, "extended")
    assert "_salt" in plan
    plan_phys = plan_of(df)
    assert plan_phys.count("Exchange") >= 2


def test_salted_join_spreads_key_across_salt_partitions(spark):
    """With broadcast off, the salted join must shuffle on
    (key, _salt) — the hot key spans n_salts partitions instead of
    one — and equal the plain join's result multiset."""
    from news_crawler_spark.operators.topk import salted_join

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        part = (spark.read.parquet(f"{SF_DIR}/part.parquet")
                .withColumnRenamed("p_partkey", "l_partkey"))
        j = salted_join(li, part, "l_partkey", salt_src="l_orderkey",
                        n_salts=8)
        plan = plan_of(j, "simple")
        assert "_salt" in plan and "hashpartitioning(l_partkey" in plan
        got = sorted(map(tuple, j.select(
            "l_orderkey", "l_partkey", "p_brand").collect()))
        want = sorted(map(tuple, li.join(part, "l_partkey").select(
            "l_orderkey", "l_partkey", "p_brand").collect()))
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_quality_token_joins_are_salted(spark):
    """The Zipf-skewed hot-key joins in the quality family must carry
    the salt: lm_cross_entropy's unigram join keys every bigram row on
    its FIRST token (stopwords concentrate the corpus), and
    boilerplate_profile's join-back keys on the line (hot boilerplate
    lines are the skew by definition). With broadcast off, both must
    shuffle on (token/line, _salt) so the hot key spans n_salts
    partitions instead of one."""
    from news_crawler_spark.operators.quality import (
        boilerplate_profile,
        lm_cross_entropy,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
                .select("doc_id", "text"))
        lm_plan = plan_of(lm_cross_entropy(docs), "simple")
        assert "_salt" in lm_plan
        assert "hashpartitioning(w1" in lm_plan and ", _salt" in lm_plan
        bp_plan = plan_of(boilerplate_profile(docs), "simple")
        assert "_salt" in bp_plan
        assert "hashpartitioning(line" in bp_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_c4_clean_is_zero_shuffle(spark):
    """C4 cleaning is pure per-row array work: the physical plan over
    the corpus must contain NO Exchange, NO Join, NO Window — at
    100 TB this operator is a single scan."""
    from news_crawler_spark.operators.quality import c4_clean

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(c4_clean(docs))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_paragraph_dedup_witness_is_partial_aggregated(spark):
    """The paragraph-dedup witness groupBy (min okey per fingerprint)
    must map-side combine — hot boilerplate fingerprints are the skew
    case, and a partial min keeps them cheap before the exchange."""
    from news_crawler_spark.operators import paragraph_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(paragraph_dedup(docs))
    assert "partial_min" in plan or "partial min" in plan.lower()
    assert "CartesianProduct" not in plan


def test_kmeans_assignment_subplan_is_shuffle_free(spark):
    """Each kmeans_fit Lloyd iteration assigns via the literal-centroid
    scan: the final assignment's plan (after the tiny centroid
    collect) must be Project/Generate only over the corpus — no
    Exchange, Join, or Window."""
    from news_crawler_spark.operators import kmeans_fit

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_of(kmeans_fit(emb, k=4, iters=1))
    # only the small-input spread_scan round-robin may appear — never
    # a hash/single-partition shuffle, join, or window of the corpus
    assert "hashpartitioning" not in plan
    assert "SinglePartition" not in plan
    assert "Join" not in plan
    assert "Window" not in plan
