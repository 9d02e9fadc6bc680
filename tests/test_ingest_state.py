"""Incremental dedup state (news_crawler_spark/ingest.py DedupState):
multi-batch ingest verdicts pinned bit-exactly to a from-scratch serial
Python recompute, plus the kill/resume and idempotent-replay
invariants (the reference's cross-run URL-seen behavior,
scheduler.py:42-89, lifted from URLs to content)."""

from __future__ import annotations

import hashlib
import re

import pytest

from news_crawler_spark.ingest import DedupState

# long shared base so planted near-dups sit at Jaccard ~0.95 — any
# correct banding scheme pairs them (same fixture rationale as
# tests/test_operators.py)
_BASE = ("the quick brown fox jumps over the lazy dog near the river "
         "bank while herons wade through reeds and swallows skim ") * 2

BATCHES = {
    "b0": [
        (1, _BASE + "alpha ending"),
        (2, "completely unrelated text about database systems and query"
            " optimizers and shuffle partitioning"),
        (3, "short unique doc three"),
    ],
    "b1": [
        (11, _BASE + "alpha ending"),          # exact dup of 1
        (12, _BASE + "omega ending"),          # near dup of 1
        (13, "brand new content in batch one about bloom filters"),
        (14, "  " + _BASE.upper() + "ALPHA   ENDING "),  # normalized-exact dup of 1
        (15, None),                            # no text: no content to dedup on
    ],
    "b2": [
        (21, "brand new content in batch one about bloom filters"),  # exact dup of 13
        (22, _BASE + "omega ending twist"),    # near dup of 1/12
        (23, "totally fresh final batch document with nothing shared"),
        (24, "short unique doc three"),        # exact dup of 3
        (25, None),   # NULL never matches NULL: 'new' again, no state growth
    ],
    "b3": [
        (31, _BASE + "omega ending"),            # exact dup of 12
        (32, _BASE + "alpha ending twist two"),  # near dup of 1 family
        (33, "wholly distinct batch three text about inverted indexes"),
    ],
}

NUM_HASHES, BANDS, SHINGLE_N, MH_DOMAIN = 32, 8, 3, 1 << 31


def _fp(text: str) -> str:
    return hashlib.sha256(
        re.sub(r"\s+", " ", text.strip().lower()).encode()).hexdigest()


def _shingles(text: str) -> set[str]:
    toks = re.split(r"\s+", text.strip().lower())
    if len(toks) < SHINGLE_N:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + SHINGLE_N])
            for i in range(len(toks) - SHINGLE_N + 1)}


def _sig(text: str) -> list[int]:
    hs = []
    for s in _shingles(text):
        d = hashlib.sha256(s.encode()).hexdigest()
        h1 = int(d[:15], 16) % MH_DOMAIN
        h2 = int(d[15:30], 16) % MH_DOMAIN + 1
        hs.append((h1, h2))
    return [min(h1 + j * h2 for h1, h2 in hs) for j in range(NUM_HASHES)]


def _bands(text: str) -> set[tuple[int, str]]:
    sig, rpb = _sig(text), NUM_HASHES // BANDS
    return {(b, ",".join(str(v) for v in sig[b * rpb:(b + 1) * rpb]))
            for b in range(BANDS)}


def serial_model() -> dict[str, dict[int, tuple[str, int | None]]]:
    """The incremental rule, serially: verdicts against PRIOR state
    only; first batch to carry a fingerprint wins the witness slot
    (min doc_id within that batch); bands absorbed for non-exact docs."""
    state_fp: dict[str, int] = {}
    state_bands: dict[tuple[int, str], int] = {}
    out: dict[str, dict[int, tuple[str, int | None]]] = {}
    for bid, rows in BATCHES.items():
        verdicts = {}
        non_exact = []
        for d, text in rows:
            if text is None:  # no content: always 'new', never absorbed
                verdicts[d] = ("new", None)
                continue
            fp = _fp(text)
            if fp in state_fp:
                verdicts[d] = ("exact_dup", state_fp[fp])
                continue
            wit = [state_bands[b] for b in _bands(text) if b in state_bands]
            verdicts[d] = ("near_dup", min(wit)) if wit else ("new", None)
            non_exact.append((d, text))
        # absorb: fingerprints first-batch-wins (min doc_id in batch)
        batch_fp: dict[str, int] = {}
        for d, text in rows:
            if text is None:
                continue
            fp = _fp(text)
            batch_fp[fp] = min(batch_fp.get(fp, d), d)
        for fp, d in batch_fp.items():
            state_fp.setdefault(fp, d)
        for d, text in non_exact:
            for b in _bands(text):
                state_bands[b] = min(state_bands.get(b, d), d)
        out[bid] = verdicts
    return out


def _df(spark, bid):
    return spark.createDataFrame(BATCHES[bid], "doc_id long, text string")


def _got(state_or_df):
    return {r.doc_id: (r.verdict, r.matched_id)
            for r in state_or_df.collect()}


def test_ingest_matches_serial_recompute(spark, tmp_path):
    """Three batches through the persisted state == the from-scratch
    serial recompute, bit-exactly, including witness ids."""
    want = serial_model()
    st = DedupState(spark, str(tmp_path / "state"))
    for bid in BATCHES:
        got = _got(st.ingest(_df(spark, bid), bid))
        assert got == want[bid], bid
    assert st.committed_batches() == list(BATCHES)
    # NULL-text docs never enter the fingerprint state (a NULL key
    # would re-append every batch and never match anything)
    assert st.fingerprints.read().filter("fp IS NULL").count() == 0


def test_ingest_kill_resume_and_idempotent_replay(spark, tmp_path):
    """A torn ingest (state appends landed, lineage row didn't) rolls
    back on resume; the re-ingested batch then produces the exact
    serial-model verdicts. Re-submitting a committed batch_id replays
    stored verdicts without touching state."""
    want = serial_model()
    root = str(tmp_path / "state")
    st = DedupState(spark, root)
    st.ingest(_df(spark, "b0"), "b0")
    st.ingest(_df(spark, "b1"), "b1")

    # simulate a kill mid-ingest of b2: bands + fingerprints appended,
    # verdicts and lineage never landed
    torn_bands = st.bands.read().limit(3)
    st.bands.append(torn_bands)
    st.fingerprints.append(
        spark.createDataFrame([("deadbeef" * 8, 999)],
                              st.fingerprints.schema))
    band_rows_torn = st.bands.read().count()

    st2 = DedupState(spark, root)   # fresh process
    assert st2.resume() == 2        # two complete batches
    assert st2.bands.read().count() < band_rows_torn
    assert (st2.fingerprints.read()
            .filter("doc_id = 999").count()) == 0

    got = _got(st2.ingest(_df(spark, "b2"), "b2"))
    assert got == want["b2"]

    # idempotent replay: same batch_id returns committed verdicts,
    # state snapshots unchanged
    snaps = (st2.fingerprints.current_snapshot(),
             st2.bands.current_snapshot(),
             st2.verdicts.current_snapshot())
    again = _got(st2.ingest(_df(spark, "b2"), "b2"))
    assert again == want["b2"]
    assert snaps == (st2.fingerprints.current_snapshot(),
                     st2.bands.current_snapshot(),
                     st2.verdicts.current_snapshot())


def test_ingest_exact_dups_skip_shingling(spark, tmp_path):
    """Exact dups must not reach the signature stage: after a batch
    that is 100% exact dups, the bands table gains zero rows (the
    recrawl fast path)."""
    st = DedupState(spark, str(tmp_path / "state"))
    st.ingest(_df(spark, "b0"), "b0")
    n_bands = st.bands.read().count()
    dup_batch = spark.createDataFrame(
        [(d + 100, t) for d, t in BATCHES["b0"]],
        "doc_id long, text string")
    got = _got(st.ingest(dup_batch, "dups"))
    assert all(v == "exact_dup" for v, _ in got.values())
    assert st.bands.read().count() == n_bands


def test_reserved_compact_prefix_rejected(spark, tmp_path):
    """batch_ids in the compaction-marker namespace must raise — a
    collision would hit the idempotence check and silently skip the
    batch (data loss)."""
    st = DedupState(spark, str(tmp_path / "state"))
    with pytest.raises(ValueError, match="reserved 'compact-'"):
        st.ingest(_df(spark, "b0"), "compact-0")


def test_compact_preserves_verdicts(spark, tmp_path):
    """Band compaction (min doc_id per band key) must not change any
    later verdict: ingest b0+b1, compact, then b2's verdicts equal the
    uncompacted serial model; band rows collapse to unique keys; a
    trailing compaction SURVIVES resume() (it commits its own lineage
    row — otherwise the CLI's resume-before-ingest would silently
    undo every compaction and state would grow unboundedly)."""
    want = serial_model()
    st = DedupState(spark, str(tmp_path / "state"))
    st.ingest(_df(spark, "b0"), "b0")
    st.ingest(_df(spark, "b1"), "b1")

    stats = st.compact()
    assert stats["bands_after"] <= stats["bands_before"]
    keys = st.bands.read().select("band_id", "band_hash").collect()
    assert len(keys) == len({(r.band_id, r.band_hash) for r in keys})

    got = _got(st.ingest(_df(spark, "b2"), "b2"))
    assert got == want["b2"]

    # trailing compaction: a fresh process's resume() pins to the
    # COMPACTED snapshot (the compact-<seq> lineage row), the row set
    # stays the collapsed one, and batch replay is unaffected
    compacted_snap_pre = st.compact()
    post = st.bands.current_snapshot()
    n_post = st.bands.read().count()
    st2 = DedupState(spark, str(tmp_path / "state"))
    assert st2.resume() == 3            # compact rows are not batches
    assert st2.committed_batches() == ["b0", "b1", "b2"]
    assert st2.bands.current_snapshot() == post
    assert st2.bands.read().count() == n_post == compacted_snap_pre["bands_after"]
    assert _got(st2.ingest(_df(spark, "b2"), "b2")) == want["b2"]  # replay

    # a TORN compaction (overwrites landed, lineage row didn't) still
    # rolls back: simulate by overwriting bands without a lineage row
    st2.bands.overwrite(st2.bands.read().limit(1))
    st3 = DedupState(spark, str(tmp_path / "state"))
    assert st3.resume() == 3
    assert st3.bands.read().count() == n_post
    got4 = _got(st3.ingest(_df(spark, "b3"), "b3"))
    assert got4 == want["b3"]


def test_ingest_jobs_keep_the_callers_job_group(spark, tmp_path):
    """Every job an ingest submits, the pool-thread appends included,
    carries the caller's job group, so ``sc.cancelJobGroup`` reaches
    the whole batch."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    st = DedupState(spark, str(tmp_path / "state"))
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("ingest-group", "job-group inheritance")
    try:
        for bid in ("b0", "b1"):
            _got(st.ingest(_df(spark, bid), bid))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup("ingest-group")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
