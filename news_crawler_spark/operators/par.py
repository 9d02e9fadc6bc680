"""Scan-parallelism guard for compute-heavy single-pass operators.

A parquet file is splittable only at row-group boundaries, so a small
input (one row group) plans as ONE scan partition — and an operator
whose expensive work (tokenize, explode, hash, fold) happens before
its first exchange then runs single-threaded no matter how many cores
the session has. At cluster scale inputs span thousands of row
groups and this module is a no-op; at bench/test scale it restores
the parallelism the guide's partial-aggregation shapes assume.

``spread_scan`` is deliberately conservative: a keyless round-robin
repartition (deterministic row placement — Spark sorts before
round-robin repartition, SPARK-23207) applied ONLY when the input has
fewer partitions than the session's default parallelism. Callers must
only use it where results are partition-invariant: exact-integer
aggregates (min/count/sum of longs), per-row projections, or
aggregations whose float accumulation order is confined to one row or
one document (explode keeps a document's rows contiguous in one
partition, and documents are never split by a row-wise repartition of
the pre-explode table).

The probe runs no Spark job on the frames it meets in practice: a
frame whose partitioning an explicit-count shuffle Exchange fixes (a
round-robin spread, the ingest's anti-joined batch) is judged by the
count its plan declares, and an exchange-free plan (a scan) is asked
for its RDD's partitions, which runs no job there. Only a frame whose
last Exchange AQE may still coalesce at run time (a join's or an
aggregate's) is asked for its RDD's partitions after its shuffle
stages ran, as before.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _exchange_partitions(df: DataFrame) -> int | None:
    """``df``'s partition count when a shuffle Exchange fixes it, read
    off the plan without running it; None when the plan does not.

    Walks down from the root through single-child nodes. A
    ``CoalesceExec`` on the way, or no Exchange before a leaf or a
    multi-child node, gives None. Under AQE the executed plan is an
    ``AdaptiveSparkPlanExec`` whose input plan already holds every
    Exchange; there only an Exchange with an explicit count
    (``REPARTITION_BY_NUM``) is fixed, because AQE may coalesce the
    others after they run. Every node above a fixed Exchange declares
    its true count, so the root's declared count is the answer.
    """
    root = plan = df._jdf.queryExecution().executedPlan()
    adaptive = plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
    if adaptive:
        root = plan = plan.inputPlan()
    while plan.children().size() == 1:
        name = plan.getClass().getSimpleName()
        if name == "CoalesceExec":
            return None
        if name == "ShuffleExchangeExec":
            if adaptive and plan.shuffleOrigin().toString() != "REPARTITION_BY_NUM":
                return None
            return root.outputPartitioning().numPartitions()
        plan = plan.children().head()
    return None


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` up to the session's default
    parallelism iff it currently has fewer partitions — a no-op on
    any input already wide enough (every real cluster scan).

    When a shuffle Exchange fixes the count (no Coalesce above it),
    the plan's declared count decides, so the stages below are not
    run once to count partitions and again by the caller's query.
    Otherwise ``df.rdd.getNumPartitions()`` decides, which runs no job
    on an exchange-free plan (module docstring)."""
    p = df.sparkSession.sparkContext.defaultParallelism
    n = _exchange_partitions(df)
    if (df.rdd.getNumPartitions() if n is None else n) >= p:
        return df
    return df.repartition(p)
