"""M1/M2/M3: multi-round crawl — Spark engine vs pure-Python oracle.

The three BASELINE invariants, verified bit-for-bit on the seeded
synthetic site graph:

1. crawl order: (round, host, per-host seq, url) exact match,
2. URL-seen set: exact set equality (and dead set),
3. span-sequence equality per document (kind, text, media_ref, order).
"""

from __future__ import annotations

import pytest

from news_crawler_spark.crawl import CrawlEngine, SyntheticFetcher
from news_crawler_spark.fixtures import CrawlOracle, SiteConfig, host_rows, seed_rows
from news_crawler_spark.schemas import HOSTS

CFG = SiteConfig(seed=42, n_hosts=6, base_pages=30, hot_factor=5, n_seeds=4)
N_ROUNDS = 4


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("crawl_state"))
    hosts = spark.createDataFrame(host_rows(CFG), HOSTS)
    # parse_html=True: fetch renders real HTML and reparses it with the
    # production html_to_spans parser — the oracle match below therefore
    # also proves the HTML→spans round-trip on every fetched page
    eng = CrawlEngine(spark, state, hosts, SyntheticFetcher(CFG, parse_html=True),
                      seed=CFG.seed, max_attempts=CFG.max_attempts)
    eng.init(spark.createDataFrame(seed_rows(CFG), "url string, priority double"))
    stats = eng.run(N_ROUNDS)
    oracle = CrawlOracle(CFG).run(N_ROUNDS)
    return eng, oracle, stats


def test_crawl_makes_progress(crawl):
    _, oracle, stats = crawl
    assert stats[0]["scheduled"] > 0
    assert sum(s["ok"] for s in stats) > 20
    assert sum(s["errors"] for s in stats) > 0  # fixture exercises T5 paths


def test_crawl_order_matches_oracle(crawl):
    eng, oracle, _ = crawl
    got = sorted(
        (r["round"], r.host, r.seq, r.url) for r in eng.crawl_log_df().collect()
    )
    assert got == sorted(oracle.crawl_log)


def test_url_seen_matches_oracle(crawl):
    eng, oracle, _ = crawl
    got = {(r.url, r.seen_round) for r in eng.url_seen_df().collect()}
    assert got == set(oracle.url_seen.items())


def test_dead_set_matches_oracle(crawl):
    eng, oracle, _ = crawl
    got = {(r.url, r.seen_round) for r in eng.dead_df().collect()}
    assert got == set(oracle.dead.items())


def test_span_sequences_match_oracle(crawl):
    """input_hint per-row invariant: (kind, text, media_ref, order)."""
    eng, oracle, _ = crawl
    docs = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in eng.documents.read().collect()
    }
    assert docs == oracle.documents


def test_retries_happen(crawl):
    """503/timeout URLs are re-scheduled in later rounds (T4)."""
    eng, oracle, _ = crawl
    from collections import Counter

    counts = Counter(u for (_, _, _, u) in oracle.crawl_log)
    assert any(c > 1 for c in counts.values()), "fixture produced no retries"
    eng_counts = Counter(r.url for r in eng.crawl_log_df().collect())
    assert eng_counts == counts


def test_retry_gaps_are_exponential(spark, tmp_path):
    """T4 parity (reference utils/retry.py:29-36): a persistently
    failing URL is re-attempted at exponential round gaps — rounds
    r, r+1, r+3 (gaps 2**0, 2**1) before exhausting at max_attempts=3.
    Uncontended budget so selection happens exactly at eligibility."""

    class AlwaysBusyFetcher:
        def fetch(self, url):
            return {"status": 503, "fetch_ms": 1, "title": "",
                    "published": None, "spans": []}

    cfg = SiteConfig(seed=13, n_hosts=1, base_pages=4, hot_factor=1, n_seeds=1)
    hosts = spark.createDataFrame(host_rows(cfg), HOSTS)
    eng = CrawlEngine(spark, str(tmp_path), hosts, AlwaysBusyFetcher(),
                      seed=cfg.seed, max_attempts=3)
    eng.init(spark.createDataFrame(seed_rows(cfg), "url string, priority double"))
    eng.run(5)
    rounds = sorted(r["round"] for r in eng.crawl_log_df().collect())
    assert rounds == [0, 1, 3]  # gaps 1, 2
    assert eng.dead_df().count() == 1  # exhausted after attempt 3


def test_zero_work_round_is_legal(spark, tmp_path):
    """A round that schedules nothing (exhausted frontier / dead seeds)
    must complete and advance — not crash on schema inference over an
    empty staging dir (regression: ADVICE r01 high)."""
    cfg = SiteConfig(seed=7, n_hosts=2, base_pages=4, hot_factor=1, n_seeds=2)
    hosts = spark.createDataFrame(host_rows(cfg), HOSTS)
    eng = CrawlEngine(spark, str(tmp_path), hosts,
                      SyntheticFetcher(cfg), seed=cfg.seed)
    # seeds that 404 immediately (outside the page universe)
    eng.init(spark.createDataFrame(
        [{"url": cfg.page_url(0, 999), "priority": 1.0}],
        "url string, priority double"))
    s0 = eng.run_round()
    assert s0["scheduled"] == 1 and s0["ok"] == 0
    s1 = eng.run_round()  # frontier now empty — must not raise
    assert s1 == {"round": 1, "scheduled": 0, "ok": 0, "errors": 0,
                  "new_urls": 0}
    assert eng.run_round()["scheduled"] == 0  # and stays legal
    assert eng.resume() == 3  # zero rounds commit lineage too


def test_unknown_status_exhausts(spark, tmp_path):
    """ADVICE r01 medium: a status outside {200,404,503,-1} must hit
    the attempt cap like any retry, never loop forever."""

    class WeirdFetcher:
        def fetch(self, url):
            return {"status": 204, "fetch_ms": 1, "title": "",
                    "published": None, "spans": []}

    cfg = SiteConfig(seed=11, n_hosts=1, base_pages=4, hot_factor=1, n_seeds=1)
    hosts = spark.createDataFrame(host_rows(cfg), HOSTS)
    eng = CrawlEngine(spark, str(tmp_path), hosts, WeirdFetcher(),
                      seed=cfg.seed, max_attempts=2)
    eng.init(spark.createDataFrame(seed_rows(cfg), "url string, priority double"))
    scheduled = [eng.run_round()["scheduled"] for _ in range(5)]
    # attempt 0 in round 0, retry (gap 1) in round 1, then exhausted->dead
    assert scheduled == [1, 1, 0, 0, 0]
    assert eng.dead_df().count() == 1


def test_priority_expression_matches_python(spark):
    """Native sha2/conv priority == the oracle's hashlib computation."""
    from news_crawler_spark.crawl.engine import url_priority_col
    from news_crawler_spark.fixtures.sitegen import url_priority

    urls = [CFG.page_url(i % CFG.n_hosts, i) for i in range(50)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r.url: r.p for r in df.select("url", url_priority_col(CFG.seed).alias("p")).collect()}
    for u in urls:
        assert got[u] == pytest.approx(url_priority(CFG.seed, u), abs=0)
