"""Property-based tests (hypothesis): operator semantics vs plain
Python reference implementations on arbitrary inputs — the class of
test the reference lacks entirely (SURVEY.md §5 item 5)."""

from __future__ import annotations

import hashlib

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from news_crawler_spark.crawl.bloom import BloomShards, probe_negative_mask
from news_crawler_spark.fixtures.sitegen import SiteConfig, synth_html, synth_page
from news_crawler_spark.functions.htmlspans import html_to_spans

FAST = settings(max_examples=20, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])


@given(keys=st.lists(st.integers(min_value=-(2**62), max_value=2**62),
                     min_size=0, max_size=500))
@settings(max_examples=30, deadline=None)
def test_bloom_never_false_negative(keys):
    b = BloomShards(n_shards=4, capacity=256)
    arr = np.array(keys, dtype=np.int64)
    b.add(arr)
    if len(arr):
        assert not probe_negative_mask(b.snapshot(), arr).any()


def test_bloom_no_false_negatives_and_low_fpp():
    rng = np.random.default_rng(0)
    members = rng.integers(-(2**62), 2**62, 50_000, dtype=np.int64)
    others = rng.integers(-(2**62), 2**62, 50_000, dtype=np.int64)
    others = np.setdiff1d(others, members)
    b = BloomShards(n_shards=8, capacity=10_000)
    b.add(members)
    snap = b.snapshot()
    assert not probe_negative_mask(snap, members).any(), "false negative!"
    fpp = 1.0 - probe_negative_mask(snap, others).mean()
    assert fpp < 0.02, f"fpp too high: {fpp}"


def test_bloom_digest_is_rebuild_invariant():
    keys = np.arange(1000, dtype=np.int64) * 7919
    a = BloomShards(n_shards=4, capacity=100)
    for chunk in np.array_split(keys, 7):  # incremental adds
        a.add(chunk)
    b = BloomShards(n_shards=4, capacity=100_000)  # different capacity
    b.add(keys)  # one-shot rebuild
    assert a.digest() == b.digest()


@given(st.integers(min_value=0, max_value=10**9), st.integers(0, 50))
@settings(max_examples=50, deadline=None)
def test_html_roundtrip_for_any_page(seed, page_idx):
    """render → parse is the identity on span sequences for every
    synthetic page (the input_hint invariant, generatively)."""
    cfg = SiteConfig(seed=seed, n_hosts=4, base_pages=60, richness=2)
    url = cfg.page_url(page_idx % 4, page_idx)
    page, html = synth_html(cfg, url)
    assert html_to_spans(html) == page["spans"]


# --- first-wins dedup vs a serial Python reference ----------------------
ROWS = st.lists(
    st.tuples(st.integers(0, 5),           # key
              st.integers(0, 20),          # order value
              st.integers(0, 10**6)),      # payload/tiebreak
    min_size=0, max_size=60,
)


@given(rows=ROWS)
@FAST
def test_first_wins_dedup_matches_python(spark, rows):
    from news_crawler_spark.operators import first_wins_dedup

    df = spark.createDataFrame(rows, "k int, ord int, v long") if rows else None
    if df is None:
        return
    got = {(r.k, r.ord, r.v) for r in first_wins_dedup(
        df, ["k"], [F.col("ord").asc(), F.col("v").asc()]).collect()}

    ref = {}
    for k, o, v in sorted(rows, key=lambda t: (t[1], t[2])):
        ref.setdefault(k, (k, o, v))
    assert got == set(ref.values())


# --- crawl selection vs a serial per-host sort-and-take -----------------
# (host, budget, pending rows, robots disallow): one hot host holding
# most rows with a budget above the default WindowGroupLimit threshold,
# budgets of 1 and 3, a host with fewer pending rows than its budget
SELECT_HOSTS = [("hot.test", 1500, 3000, ["/private"]),
                ("one.test", 1, 40, []),
                ("three.test", 3, 40, ["/x"]),
                ("few.test", 1500, 5, [])]


@given(rng_seed=st.integers(0, 2**16))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_select_candidates_matches_python(spark, rng_seed):
    import random

    from news_crawler_spark.crawl.frontier import select_candidates
    from news_crawler_spark.schemas import FRONTIER, HOSTS

    rng = random.Random(rng_seed)
    hosts = [(h, 1.0, budget, disallow) for h, budget, _, disallow in SELECT_HOSTS]
    rows = []
    for h, _, n, _ in SELECT_HOSTS + [("unlisted.test", 0, 3, [])]:
        for i in range(n):
            path = rng.choice(["/p", "/private/p", "/x/p"]) + str(i)
            url = f"http://{h}{path}"
            # few distinct priorities: ties fall back to url order
            rows.append((url, rng.getrandbits(63), url, h, path,
                         rng.choice([0.1, 0.5, 0.9]), 0, 0, 0))
    rng.shuffle(rows)
    got = sorted((r.url, r.host, r.seq) for r in select_candidates(
        spark.createDataFrame(rows, FRONTIER),
        spark.createDataFrame(hosts, HOSTS)).collect())

    want = []
    for h, budget, _, disallow in SELECT_HOSTS:
        mine = sorted((r for r in rows if r[3] == h
                       and not any(r[4].startswith(d) for d in disallow)),
                      key=lambda r: (-r[5], r[0]))
        want += [(r[0], h, seq) for seq, r in enumerate(mine[:budget], 1)]
    assert got == sorted(want)


@given(url=st.from_regex(r"http://h000[0-3]\.test/p[0-9]{1,3}", fullmatch=True))
@settings(max_examples=50, deadline=None)
def test_sha_priority_twins_agree(url):
    """The native priority expression's Python twin (already tested via
    Spark) round-trips through the same hash domain."""
    from news_crawler_spark.fixtures.sitegen import url_priority

    p = url_priority(42, url)
    assert 0.0 <= p < 1.0
    d = hashlib.sha256(f"42|{url}|prio".encode()).hexdigest()
    assert p == (int(d[:15], 16) % 100_000) / 100_000.0


@given(st.integers(min_value=0, max_value=10**6))
@settings(max_examples=50, deadline=None)
def test_synth_page_deterministic_and_well_formed(i):
    cfg = SiteConfig(seed=7, n_hosts=3, base_pages=40)
    url = cfg.page_url(i % 3, i % 40)
    a, b = synth_page(cfg, url), synth_page(cfg, url)
    assert a == b  # pure function of (seed, url)
    offsets = [o for (_, _, _, o) in a["spans"]]
    assert offsets == sorted(set(offsets))  # strictly increasing


# --- sketches vs plain-Python models ------------------------------------
VALUES = st.lists(st.text(alphabet="abcdefgh0123456789", min_size=1,
                          max_size=8), min_size=1, max_size=80)


def _py_hll_registers(values: list[str], p: int) -> dict[int, int]:
    sb = 60 - p
    regs: dict[int, int] = {}
    for v in values:
        h = int(hashlib.sha256(v.encode()).hexdigest()[:15], 16)
        bucket, rest = h >> sb, h & ((1 << sb) - 1)
        rho = sb + 1 if rest == 0 else sb - rest.bit_length() + 1
        regs[bucket] = max(regs.get(bucket, 0), rho)
    return regs


@given(values=VALUES, p=st.sampled_from([6, 10, 12]))
@FAST
def test_hll_registers_match_python_model(spark, values, p):
    """The distributed register table equals a serial Python HLL over
    the same sha256 hashing — exactly, for arbitrary inputs; the
    estimate agrees within rounding (log's last ulp may differ
    between libm and the JVM)."""
    import math

    from news_crawler_spark.operators.sketches import (
        _alpha, hll_count_distinct, hll_registers)

    df = spark.createDataFrame([(v,) for v in values], "v string")
    got = {r.bucket: r.r for r in hll_registers(df, "v", p=p).collect()}
    regs = _py_hll_registers(values, p)
    assert got == regs

    m, sb = 1 << p, 60 - p
    sexp = sb + 1
    s_total = (sum(1 << (sexp - r) for r in regs.values())
               + (m - len(regs)) * (1 << sexp))
    e_raw = (_alpha(m) * m * m * float(1 << sexp)) / float(s_total)
    zeros = m - len(regs)
    est = (float(m) * math.log(float(m) / zeros)
           if e_raw <= 2.5 * m and zeros > 0 else e_raw)
    got_est = hll_count_distinct(df, "v", p=p).collect()[0].ndv_hll
    assert abs(got_est - est) <= 1.0


@given(values=VALUES, w=st.sampled_from([16, 64, 256]))
@FAST
def test_cms_counters_match_python_model(spark, values, w):
    """Counter cells equal a serial Python CMS; point estimates never
    underestimate the true frequency."""
    from collections import Counter

    from news_crawler_spark.operators.sketches import (
        cms_counters, cms_lookup)

    d = 3
    df = spark.createDataFrame([(v,) for v in values], "v string")
    got = {(r.i, r.col): r.cnt
           for r in cms_counters(df, "v", d=d, w=w).collect()}
    model: dict[tuple[int, int], int] = {}
    for v in values:
        for i in range(d):
            h = int(hashlib.sha256(f"{i}|{v}".encode()).hexdigest()[:15], 16)
            model[(i, h % w)] = model.get((i, h % w), 0) + 1
    assert got == model

    truth = Counter(values)
    q = spark.createDataFrame([(v,) for v in set(values)], "v string")
    ests = {r.v: r.cms_est for r in
            cms_lookup(cms_counters(df, "v", d=d, w=w), q, "v",
                       d=d, w=w).collect()}
    assert all(ests[v] >= n for v, n in truth.items())


@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rng_seed=st.integers(0, 2**16))
def test_embedding_near_dup_multi_seed_recall_rises(spark, rng_seed):
    """Multi-table sign-LSH recall story (similarity.py
    embedding_near_dup_pairs docstring): plant pairs at a KNOWN cosine
    (v = cosθ·u + sinθ·w, w ⊥ u — exact by construction), sweep 1..4
    independent plane seeds, union the found pairs. Recall must be
    monotone in the number of seeds (union can only grow) and the
    4-seed union must beat a single table decisively: per plane a
    cos=0.96 pair collides w.p. 1-θ/π ≈ 0.91, so one 6-plane table
    catches ~57% of pairs while four catch ~96%."""
    from news_crawler_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(rng_seed)
    dim, n_pairs, cth = 16, 24, 0.96
    rows, planted = [], set()
    for i in range(n_pairs):
        u = rng.normal(size=dim)
        u /= np.linalg.norm(u)
        w = rng.normal(size=dim)
        w -= (w @ u) * u
        w /= np.linalg.norm(w)
        v = cth * u + np.sqrt(1 - cth * cth) * w
        rows.append((2 * i, [float(x) for x in u]))
        rows.append((2 * i + 1, [float(x) for x in v]))
        planted.add((2 * i, 2 * i + 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    found: set = set()
    recalls = []
    for seed in (101, 202, 303, 404):
        pairs = embedding_near_dup_pairs(
            df, threshold=0.9, dim=dim, n_planes=6, seed=seed)
        found |= {(r.id_a, r.id_b) for r in pairs.collect()}
        recalls.append(len(found & planted) / n_pairs)
    assert all(b >= a for a, b in zip(recalls, recalls[1:]))
    assert recalls[-1] >= 0.7
    assert recalls[-1] > recalls[0] or recalls[0] == 1.0
