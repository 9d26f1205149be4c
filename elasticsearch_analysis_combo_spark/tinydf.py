"""Small dimension frames as LocalTableScan (guide §4: eliminate the
Python boundary).

``spark.createDataFrame(list_of_tuples, schema)`` materializes through
``sc.parallelize`` — a *plain-pickle Python-RDD* scan with
``defaultParallelism`` slices, so every evaluation (each broadcast build,
each collect) launches a stage of N near-empty Python tasks. Query
operators build many such tiny frames (query terms, cursors, clause
dimensions), and on local[32] each evaluation costs ~0.3-0.6 s of pure
worker round-trips.

Routing the same rows through a pandas DataFrame instead makes PySpark's
Arrow path convert them ON THE DRIVER into a ``LocalTableScan``: zero
Python workers at evaluation time, broadcast builds read in-memory rows
directly, and Catalyst can see the values. An empty pandas frame would
still plan as a Python-RDD scan, so no rows go through an empty Arrow
table, which is a ``LocalTableScan`` too.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

_SCHEMA_CACHE: dict[str, T.StructType] = {}


def _as_struct(schema) -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    st = _SCHEMA_CACHE.get(schema)
    if st is None:
        st = T.StructType.fromDDL(schema)
        _SCHEMA_CACHE[schema] = st
    return st


def tiny_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Build a small DataFrame that evaluates as a LocalTableScan.

    Drop-in for ``spark.createDataFrame(rows, schema)`` for small
    driver-side row lists (query dims, cursors, lookup tables). ``schema``
    is a DDL string or StructType; ``rows`` any iterable of tuples."""
    rows = rows if isinstance(rows, list) else list(rows)
    st = _as_struct(schema)
    if not rows:
        return spark.createDataFrame(to_arrow_schema(st).empty_table(), schema=st)
    return spark.createDataFrame(pd.DataFrame(rows, columns=st.names), schema=st)
