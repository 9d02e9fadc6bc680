"""Frontier candidate selection: the round's scheduling query.

All native DataFrame ops — zero Python on this path. Implements, per
SURVEY.md §2:

* latest-attempt resolution over the append-only frontier (retry rows
  T4 supersede their predecessors),
* the scale-critical anti-join against ``url_seen``/``dead``
  (D2/J1, reference ``scheduler.py:59-75``),
* robots + politeness-budget gating at *selection* time — never by
  sleeping in UDFs (T3, reference ``news.py:134-135``; north_rule),
* priority top-k per host with a **two-phase, salt-local pre-prune**
  so one hot host cannot skew a single window partition
  (L4, reference ``news.py:151-163``; SURVEY.md §4 skew row).

Scale notes (10^10 frontier): the frontier is append-only. The state
tables are plain parquet snapshot tables (tables/snapshot.py), not
bucketed, so the slot anti-join in :func:`pending` shuffles both sides
on ``(url_sha, attempt)`` every round, or broadcasts the smaller one;
tables/bucketed.py has the ``url_hash``-bucketed layout that would
co-partition it, unused by the engine. The per-host top-k never sees
the full frontier: the salt-local phase-1 prune cuts each host to
``budget`` rows per salt bucket before the global per-host window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# salt fan-out for the hot-host pre-prune and the fetch stage's
# (host, salt) repartition; at cluster scale set to
# ~(executors * cores) / n_active_hosts, floor 8
N_SALTS = 8


def freshness_score(priority_col, lastmod_col, ref_date: str,
                    half_life_days: float = 30.0) -> F.Column:
    """The north-rule priority: base priority × freshness decay.

    Exponential half-life decay on document age —
    ``priority * 2^(-age_days / half_life)`` with age clamped at 0
    (a future lastmod never boosts past base). Feed sitemap lastmod
    (sources/sitemap.py) or last-crawl timestamps; the result is the
    ``priority`` column the selection top-k orders by, so freshness
    pressure composes with host budgets without any new operator.
    Rounded to 6 dp for cross-engine replayability."""
    p = F.col(priority_col) if isinstance(priority_col, str) else priority_col
    lm = F.col(lastmod_col) if isinstance(lastmod_col, str) else lastmod_col
    age = F.greatest(F.datediff(F.lit(ref_date).cast("date"), lm), F.lit(0))
    return F.round(p * F.pow(F.lit(2.0), -age / F.lit(half_life_days)), 6)


def pending(frontier: DataFrame, resolved: DataFrame, round_no: int) -> DataFrame:
    """Frontier rows eligible this round.

    ``(url_sha, attempt)`` is a *scheduling slot*: discovery dedup
    guarantees one frontier row per slot, and every scheduled slot
    gets exactly one ``resolved`` row (ok/dead/retry — a retry appends
    the next slot's frontier row). So "pending" is a single anti-join
    on the slot key — no window, no full-frontier sort. Neither table
    is bucketed, so the join shuffles (or broadcasts) its inputs.
    """
    return (
        frontier
        .filter(F.col("not_before") <= F.lit(round_no))
        .join(resolved.select("url_sha", "attempt"),
              ["url_sha", "attempt"], "left_anti")
    )


def select_candidates(cand: DataFrame, hosts: DataFrame) -> DataFrame:
    """The round's fetch set with per-host sequence numbers, from a
    prebuilt pending set (see :func:`pending`).

    Returns pending columns + ``seq`` (1-based per-host fetch order:
    priority desc, url asc — the oracle's total order) + host columns.
    """

    # robots + budget gate; hosts is small → broadcast (J-host in SURVEY §2.9)
    gated = (
        cand.join(F.broadcast(hosts), "host", "inner")
        .filter(~F.exists("disallow", lambda d: F.col("path").startswith(d)))
    )

    # phase 1: salt-local top-k — a hot host's rows split across N_SALTS
    # partitions, each pruned to `budget` before the global window sees them
    salted = gated.withColumn("salt", F.pmod(F.col("url_hash"), F.lit(N_SALTS)))
    w_local = Window.partitionBy("host", "salt").orderBy(
        F.col("priority").desc(), F.col("url").asc()
    )
    pruned = (
        salted.withColumn("_lrn", F.row_number().over(w_local))
        .filter(F.col("_lrn") <= F.col("budget"))
        .drop("_lrn")
    )

    # phase 2: exact per-host top-budget over ≤ budget*N_SALTS rows per host
    w_host = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("url").asc()
    )
    return (
        pruned.withColumn("seq", F.row_number().over(w_host))
        .filter(F.col("seq") <= F.col("budget"))
        .drop("disallow")
    )
