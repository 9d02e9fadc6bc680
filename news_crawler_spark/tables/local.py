"""Driver-local DataFrames: the one way the package turns rows it holds
on the driver into a DataFrame.

``spark.createDataFrame(<python list>, schema)`` plans in classic
PySpark as a Python RDD (``Scan ExistingRDD``): every scan of it starts
``defaultParallelism`` Python tasks, each paying the worker's fixed
set-up cost (crawl/fetch.py), and the optimizer cannot see how many
rows it holds, so joins against an empty one still run. Built from an
Arrow table instead, the same rows become a ``LocalRelation``: it plans
as ``LocalTableScan`` (``<empty>`` when it holds no rows), runs no
Python, and an empty one lets the optimizer prune the joins and unions
over it (PropagateEmptyRelation).
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(spark: SparkSession, rows: pa.Table | Sequence[Any],
                schema: T.StructType | str) -> DataFrame:
    """A ``LocalRelation`` DataFrame over driver-local ``rows``.

    ``rows`` is a pyarrow Table or a list of rows, each a tuple in
    schema order or a dict keyed by field name; ``schema`` is a
    StructType or a DDL string such as ``"url string, priority double"``.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        names = schema.names
        rows = pa.Table.from_pylist(
            [r if isinstance(r, dict) else dict(zip(names, r)) for r in rows],
            schema=to_arrow_schema(schema))
    return spark.createDataFrame(rows, schema)
