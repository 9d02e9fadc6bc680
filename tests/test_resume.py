"""M5 (kill/resume, zero-replay) and compaction tests."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from news_crawler_spark.crawl import CrawlEngine, SyntheticFetcher
from news_crawler_spark.fixtures import CrawlOracle, SiteConfig, host_rows, seed_rows
from news_crawler_spark.schemas import HOSTS

CFG = SiteConfig(seed=99, n_hosts=5, base_pages=24, hot_factor=4, n_seeds=3)


def _mk_engine(spark, state, **kw):
    hosts = spark.createDataFrame(host_rows(CFG), HOSTS)
    return CrawlEngine(spark, state, hosts, SyntheticFetcher(CFG),
                       seed=CFG.seed, max_attempts=CFG.max_attempts, **kw)


def test_kill_resume_replays_no_url(spark, tmp_path):
    """Kill after round 1 with a torn (uncommitted) append; resume must
    roll back the torn write, continue, and match both the oracle and
    an uninterrupted run exactly — zero URL fetched twice."""
    state = str(tmp_path / "state")
    eng = _mk_engine(spark, state)
    eng.init(spark.createDataFrame(seed_rows(CFG), "url string, priority double"))
    eng.run(2)

    # simulate a mid-round kill: resolved + frontier appended, documents
    # and lineage NOT — exactly the torn window the commit order allows
    torn = eng.resolved.read().limit(4)
    eng.resolved.append(torn)
    eng.frontier.append(eng.frontier.read().limit(2))

    eng2 = _mk_engine(spark, state)
    assert eng2.resume() == 2
    eng2.run(2)

    oracle = CrawlOracle(CFG).run(4)
    log = sorted((r["round"], r.host, r.seq, r.url)
                 for r in eng2.crawl_log_df().collect())
    assert log == sorted(oracle.crawl_log)
    assert {(r.url, r.seen_round) for r in eng2.url_seen_df().collect()} \
        == set(oracle.url_seen.items())
    # zero replay: every (url, attempt) slot resolved at most once
    dup = (eng2.resolved.read().groupBy("url_sha", "attempt").count()
           .filter("count > 1").count())
    assert dup == 0


def _two_rounds(spark, state):
    eng = _mk_engine(spark, state)
    eng.init(spark.createDataFrame(seed_rows(CFG), "url string, priority double"))
    eng.run(2)
    return eng


@pytest.mark.parametrize("dispo", ["ok", "retry"])
def test_resume_rejects_torn_resolved_table(spark, tmp_path, dispo):
    """Losing one committed file of the resolved table is torn state
    that rollback cannot repair: an ``ok`` file moves the url-seen
    digest, a ``retry`` file only the row count. resume() must refuse
    both rather than rebuild on the damaged table."""
    state = str(tmp_path / "state")
    eng = _two_rounds(spark, state)
    files = sorted(glob.glob(os.path.join(
        eng.documents.data_dir, "staging-*", f"dispo={dispo}", "*.parquet")))
    assert files, f"fixture crawl committed no dispo={dispo} file"
    os.remove(files[0])
    with pytest.raises(RuntimeError, match="torn state"):
        _mk_engine(spark, state).resume()


def test_resume_accepts_two_part_lineage_digest(spark, tmp_path):
    """Lineage rows written while the engine also kept a bloom shard
    digest hold "<url-seen digest>:<shard digest>"; resume checks the
    first part, so such state still resumes."""
    state = str(tmp_path / "state")
    eng = _two_rounds(spark, state)
    eng._commit_lineage(2, 0, 0, 0, 0, eng._seen_digest() + ":00ff")
    assert _mk_engine(spark, state).resume() == 3


def test_compaction_mid_crawl_preserves_semantics(spark, tmp_path):
    """compact_frontier between rounds must not change the crawl: the
    slot anti-join keeps rediscovered-resolved URLs unscheduled."""
    eng = _mk_engine(spark, str(tmp_path / "state"))
    eng.init(spark.createDataFrame(seed_rows(CFG), "url string, priority double"))
    eng.run(2)
    before = eng.frontier.read().count()
    eng.compact_frontier()
    assert eng.frontier.read().count() <= before
    eng.run(2)

    oracle = CrawlOracle(CFG).run(4)
    log = sorted((r["round"], r.host, r.seq, r.url)
                 for r in eng.crawl_log_df().collect())
    assert log == sorted(oracle.crawl_log)


def test_auto_compaction_long_crawl_preserves_semantics(spark, tmp_path):
    """The round loop triggers compact_frontier automatically on the
    resolved-in-frontier/pending ratio; a long crawl (36 rounds, well
    past frontier exhaustion) with auto-compaction must be
    crawl-order- and seen-set-identical to one with compaction
    disabled, while actually compacting and keeping the frontier table
    near pending size."""
    a = _mk_engine(spark, str(tmp_path / "a"),
                   compact_ratio=2.0, compact_min_resolved=20)
    seeds = spark.createDataFrame(seed_rows(CFG), "url string, priority double")
    a.init(seeds)
    a.run(36)
    assert a.compactions >= 1, "ratio trigger never fired in 36 rounds"
    # the pure-Python CrawlOracle IS the no-compaction reference: exact
    # crawl-order + seen-set equality proves compaction changed nothing
    oracle36 = CrawlOracle(CFG).run(36)
    la = sorted((r["round"], r.host, r.seq, r.url) for r in a.crawl_log_df().collect())
    assert la == sorted(oracle36.crawl_log)
    assert ({(r.url, r.seen_round) for r in a.url_seen_df().collect()}
            == set(oracle36.url_seen.items()))
    # without compaction the frontier holds one row per resolved slot
    # plus pending; compacted it must be strictly below the slot count
    fa = a.frontier.read().count()
    n_resolved = a.resolved.read().count()
    assert fa < n_resolved, (
        f"compaction never shrank the frontier ({fa} vs {n_resolved} slots)")

    # resume after auto-compaction: counters rebuild exactly and the
    # next rounds stay oracle-identical
    a2 = _mk_engine(spark, str(tmp_path / "a"),
                    compact_ratio=2.0, compact_min_resolved=20)
    a2.resume()
    assert a2._frontier_rows == fa
    a2.run(2)
    oracle = CrawlOracle(CFG).run(38)
    log = sorted((r["round"], r.host, r.seq, r.url)
                 for r in a2.crawl_log_df().collect())
    assert log == sorted(oracle.crawl_log)


def test_kill_after_compaction_resumes_cleanly(spark, tmp_path):
    """Compaction swaps the frontier to a new snapshot OUTSIDE the
    lineage protocol (it is pure maintenance, not round state). A kill
    between the compaction overwrite and the next round's lineage
    commit must resume against the PRE-compaction snapshot — rollback
    re-pins the manifest pointer and old snapshot dirs are never
    deleted — and the continued crawl must stay oracle-identical."""
    state = str(tmp_path / "state")
    eng = _mk_engine(spark, state)
    eng.init(spark.createDataFrame(seed_rows(CFG), "url string, priority double"))
    eng.run(3)
    pre = eng.frontier.read().count()
    eng.compact_frontier()  # then "killed": no further lineage commit
    assert eng.frontier.read().count() < pre

    eng2 = _mk_engine(spark, state)
    eng2.resume()
    # rolled back to the round-2 lineage snapshot (pre-compaction)
    assert eng2.frontier.read().count() == pre
    assert eng2._frontier_rows == pre
    eng2.run(2)
    oracle = CrawlOracle(CFG).run(5)
    log = sorted((r["round"], r.host, r.seq, r.url)
                 for r in eng2.crawl_log_df().collect())
    assert log == sorted(oracle.crawl_log)


def test_kill_resume_torn_write_matrix(spark, tmp_path):
    """Chaos matrix for the commit protocol: the three state appends
    of a round are independent atomic commits, so a kill can leave a
    subset of {resolved, documents, frontier} written without the
    lineage marker. Every such torn state must roll back on resume and
    finish bit-identical to the oracle, with zero (url, attempt)
    replays."""
    base = str(tmp_path / "base")
    eng = _mk_engine(spark, base)
    eng.init(spark.createDataFrame(seed_rows(CFG), "url string, priority double"))
    eng.run(2)
    oracle = CrawlOracle(CFG).run(4)

    scenarios = [("resolved",), ("documents",), ("frontier",),
                 ("resolved", "documents", "frontier")]
    for i, torn_tables in enumerate(scenarios):
        state = str(tmp_path / f"s{i}")
        shutil.copytree(base, state)
        torn = _mk_engine(spark, state)
        for name in torn_tables:  # torn appends, no lineage commit
            t = getattr(torn, name)
            t.append(t.read().limit(3))

        eng2 = _mk_engine(spark, state)
        assert eng2.resume() == 2, f"scenario {torn_tables}"
        eng2.run(2)
        log = sorted((r["round"], r.host, r.seq, r.url)
                     for r in eng2.crawl_log_df().collect())
        assert log == sorted(oracle.crawl_log), f"scenario {torn_tables}"
        dup = (eng2.resolved.read().groupBy("url_sha", "attempt").count()
               .filter("count > 1").count())
        assert dup == 0, f"scenario {torn_tables}"
