"""SparkSession factory tuned for the sandbox (local[N]) and for scale.

The same builder settings translate to a multi-executor cluster: AQE,
adaptive coalescing + skew-join handling, Arrow for pandas UDFs.
Session timezone is pinned to UTC so results are comparable with the
DuckDB oracle (DuckDB timestamps are UTC-naive); the reference's
Asia/Seoul semantics (SURVEY.md §1.2) are handled explicitly with
``from_utc_timestamp`` where they matter, never via session state.

PySpark's DataFrame call-site capture
(``spark.python.sql.dataFrameDebugging.enabled``, on by default) is
switched off. It only adds the Python call-site to error messages, and
it wraps every ``F.*`` / Column call with four extra py4j round trips
(active session, a conf read, ``PySparkCurrentOrigin`` set and clear),
a stack walk and a failing, uncached ``import IPython``: most of an
ingest batch's driver time between jobs. Pass
``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
to turn it back on (see ``get_spark`` for when that takes effect).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from news_crawler_spark.config import _INT_BOUNDS

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "news_crawler_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``cpus`` maps to ``local[cpus]``; ``shuffle_partitions`` defaults to
    the core count (the 200 default over-parallelizes local data and
    under-parallelizes 100 TB — at cluster scale this is set to
    ~2-3x total cores by the submitter).

    Call-site capture is off (``extra_conf`` turns it back on). PySpark
    caches that flag per process at the first wrapped Column call
    (``_enable_debugging_cache``), so restarting a session in the same
    process keeps the first value.
    """
    # make the package importable in executor Python workers no matter the
    # caller's cwd; on a real cluster this is `spark-submit --py-files`
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_parent}{os.pathsep}{pp}" if pp else pkg_parent

    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # shuffle/spill on tmpfs when available: the sandbox's block
        # device is slow+noisy and would dominate measurements; a real
        # cluster provisions fast local SSDs for exactly this role
        .config("spark.local.dir",
                os.environ.get("SPARK_GRAFT_LOCAL_DIR",
                               "/dev/shm/spark-local" if os.path.isdir("/dev/shm")
                               else "/tmp"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # no per-Column call-site capture (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # crawl selection's per-host top-budget window keeps its Partial
        # WindowGroupLimit (the hot-host cap, crawl/frontier.py) only for
        # bounds up to this threshold (default 1000): lift it to the
        # largest legal politeness budget
        .config("spark.sql.optimizer.windowGroupLimitThreshold",
                str(_INT_BOUNDS["politeness_budget"][1]))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
