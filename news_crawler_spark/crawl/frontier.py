"""Frontier candidate selection: the round's scheduling query.

All native DataFrame ops — zero Python on this path. Implements, per
SURVEY.md §2:

* latest-attempt resolution over the append-only frontier (retry rows
  T4 supersede their predecessors),
* the scale-critical anti-join against ``url_seen``/``dead``
  (D2/J1, reference ``scheduler.py:59-75``),
* robots + politeness-budget gating at *selection* time — never by
  sleeping in UDFs (T3, reference ``news.py:134-135``; north_rule),
* priority top-k per host (L4, reference ``news.py:151-163``): one
  ``row_number`` window per host, which Spark plans as a Partial
  ``WindowGroupLimit`` below the host shuffle and a Final one above
  it, so one hot host ships at most ``max_budget`` rows per map
  partition (SURVEY.md §4 skew row).

Scale notes (10^10 frontier): the frontier is append-only. The state
tables are plain parquet snapshot tables (tables/snapshot.py), so the
slot anti-join in :func:`pending` shuffles both sides on
``(url_sha, attempt)`` every round, or broadcasts the smaller one. The
per-host top-k never sorts the full frontier: the Partial limit cuts
each host to ``max_budget`` rows per map partition before the one
exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

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

    # exact per-host top-budget in one window. The literal bound repeats
    # `seq <= budget`, but only a literal lets Spark's InferWindowGroupLimit
    # put a Partial WindowGroupLimit below the host exchange, so a hot
    # host ships at most max_budget rows per map partition (session.py
    # lifts windowGroupLimitThreshold to the largest legal budget).
    # Collecting a local hosts relation's budgets runs no Spark job.
    max_budget = max((r.budget for r in hosts.select("budget").collect()),
                     default=0)
    w_host = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("url").asc()
    )
    return (
        gated.withColumn("seq", F.row_number().over(w_host))
        .filter((F.col("seq") <= F.col("budget"))
                & (F.col("seq") <= F.lit(max_budget)))
        .drop("disallow")
    )
