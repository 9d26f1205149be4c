"""Small driver-side frames that stay in the driver until Spark needs them
(guide §4: eliminate the Python boundary).

``spark.createDataFrame(list_of_tuples, schema)`` materializes through
``sc.parallelize`` — a *plain-pickle Python-RDD* scan with
``defaultParallelism`` slices, so every evaluation (each broadcast build,
each collect) launches a stage of N near-empty Python tasks. Query
operators build many such tiny frames (query terms, cursors, clause
dimensions) and every in-process query answer is one.

:func:`tiny_df` converts the rows to an Arrow table on the driver with
PySpark's own pandas-to-Arrow converter (safe casts: an overflowing or
lossy value raises at construction the ``PySparkValueError`` /
``PySparkTypeError`` that ``createDataFrame`` raises) and returns a
:class:`LocalFrame` holding that table. ``collect``, ``count``,
``toPandas`` and ``toArrow`` answer from the table, with no JVM plan
(``collect`` and ``count`` make no py4j call at all). The first Spark
operator that needs the JVM frame (a join, ``unionByName``, ``filter``,
``explain``, ``write``, ``cache``...) builds it once from the same table
with ``spark.createDataFrame``, which plans a ``LocalTableScan``: zero
Python workers at evaluation time, broadcast builds read in-memory rows
directly, and Catalyst can see the values. Frames derived from it are
ordinary DataFrames.
"""

from __future__ import annotations

from functools import cached_property

import pandas as pd
import pyarrow as pa
from pyspark.errors import PySparkTypeError, PySparkValueError
from pyspark.sql import Row, SparkSession
from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.pandas.serializers import ArrowStreamPandasSerializer
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

# schema -> (StructType, its Arrow schema, whether it holds a timestamp)
_SCHEMA_CACHE: dict = {}


def _schema_info(schema) -> tuple[T.StructType, pa.Schema, bool]:
    info = _SCHEMA_CACHE.get(schema)
    if info is None:
        st = (schema if isinstance(schema, T.StructType)
              else T.StructType.fromDDL(schema))
        info = (st, to_arrow_schema(st), "timestamp" in st.simpleString())
        _SCHEMA_CACHE[schema] = info
    return info


class LocalFrame(DataFrame):
    """A classic DataFrame over an Arrow table held in the driver; its
    JVM frame (``_jdf``) is built on first access."""

    def __new__(cls, *args, **kwargs):
        # the classic DataFrame's __new__ takes (jdf, session)
        return object.__new__(cls)

    def __init__(self, session: SparkSession, table: pa.Table, schema: T.StructType):
        self._session = session
        self._sc = session._sc
        self._table = table
        self._struct = schema
        self.is_cached = False
        self._support_repr_html = False

    @cached_property
    def _jdf(self):
        return self._session.createDataFrame(self._table, schema=self._struct)._jdf

    @property
    def schema(self) -> T.StructType:
        return self._struct

    def collect(self) -> list[Row]:
        return ArrowTableToRowsConversion.convert(
            self._table, self._struct, binary_as_bytes=False
        )

    def count(self) -> int:
        return self._table.num_rows

    def _collect_as_arrow(self, split_batches=False, empty_list_if_zero_records=True):
        # serves PySpark's own toPandas / toArrow from the held table
        if self._table.num_rows:
            return self._table.to_batches()
        if empty_list_if_zero_records:
            return []
        return [pa.RecordBatch.from_pylist([], schema=self._table.schema)]


def tiny_df(spark: SparkSession, rows, schema) -> LocalFrame:
    """Build a small :class:`LocalFrame`.

    Drop-in for ``spark.createDataFrame(rows, schema)`` for driver-side
    data (query dims, cursors, lookup tables, query answers). ``schema``
    is a DDL string or StructType; ``rows`` any iterable of tuples, or a
    pandas DataFrame holding one column per schema field, in order."""
    st, arrow_schema, has_ts = _schema_info(schema)
    if not isinstance(rows, pd.DataFrame):
        rows = pd.DataFrame(
            rows if isinstance(rows, list) else list(rows), columns=st.names
        )
    tz = spark.conf.get("spark.sql.session.timeZone") if has_ts else None
    ser = ArrowStreamPandasSerializer(tz, True, False)
    try:
        arrays = [
            ser._create_array(col, af.type, f.dataType)
            for (_, col), af, f in zip(rows.items(), arrow_schema, st.fields)
        ]
    except (PySparkTypeError, PySparkValueError):
        # createDataFrame retries a failed Arrow conversion through its
        # row verifier: raise the error that one raises
        verify = _make_type_verifier(st)
        for rec in spark._convert_from_pandas(rows, st, tz):
            verify(rec)
        raise
    return LocalFrame(spark, pa.Table.from_arrays(arrays, schema=arrow_schema), st)
