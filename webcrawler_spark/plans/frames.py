"""Driver-built DataFrames that never start a Python task.

``spark.createDataFrame(list_of_rows, schema)`` builds a ``parallelize``d
Python RDD: every evaluation of the frame (each join, background
materialization or commit that reads it) runs Python tasks, and a Python
task costs a fixed ~0.28 CPU-s even with zero rows (BASELINE.md, "Python
workers only where Python computes"). ``local_frame`` builds the same
rows as a JVM ``LocalRelation`` instead: non-empty rows go through the
Arrow pandas path, and an empty frame is a typed null row cut by
``limit(0)``, which the optimizer folds to an empty relation. Both plan
as ``LocalTableScan`` and start no job.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

if TYPE_CHECKING:
    import pandas as pd


def local_frame(
    spark: SparkSession, rows: Sequence[tuple] | pd.DataFrame, schema
) -> DataFrame:
    """``rows`` is a pandas DataFrame or a sequence of row tuples, in the
    column order of ``schema`` (a ``StructType`` or a DDL string).

    Needs ``spark.sql.execution.arrow.pyspark.enabled``, a product
    setting of ``webcrawler_spark.session.make_session``; without it
    pandas input falls back to the Python-RDD path, still correct."""
    import pandas as pd

    st = schema if isinstance(schema, T.StructType) else T.DataType.fromDDL(schema)
    if len(rows) == 0:
        # Arrow's empty-pandas path falls back to a Python RDD
        nulls = [f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`" for f in st]
        return spark.range(1).selectExpr(*nulls).limit(0)
    if not isinstance(rows, pd.DataFrame):
        rows = pd.DataFrame.from_records(list(rows), columns=st.names)
    return spark.createDataFrame(rows, st)
