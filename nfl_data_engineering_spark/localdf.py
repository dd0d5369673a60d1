"""Driver-local rows -> DataFrame without the 32-slice pickle parallelize.

``spark.createDataFrame(list_of_rows, schema)`` ships the rows through the
RDD pickle path: defaultParallelism slices, one Python worker round-trip
per slice — measured 0.44 s warm for 1,600 rows on local[32] (every
Python-boundary crossing is a per-TASK cost, and this one pays it
32 times for driver-local data). Routing the same rows through a pandas
frame + Arrow (`spark.sql.execution.arrow.pyspark.enabled`, on in
session.py) serializes ONE Arrow batch JVM-side with no Python workers at
task time — 0.11 s for the same rows, identical result schema because the
explicit ``schema`` still governs the conversion.

Use for the small driver-built tables in query paths (CC fast-path
labels, PQ/ADC lookup tables, quantile cut tables, BPE merge tables);
callers with nested/struct schemas keep the plain path (Arrow falls back
silently anyway, adding nothing).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def local_df(spark: SparkSession, rows: Iterable[tuple], schema) -> DataFrame:
    """Build a DataFrame from driver-local rows via the pandas+Arrow path.

    ``schema`` is a DDL string or StructType and is applied exactly as in
    ``spark.createDataFrame(rows, schema)`` — Arrow casts each column to
    the declared type, so int widths/nullability match the plain path.
    """
    rows = list(rows)
    names = _field_names(spark, schema)
    pdf = pd.DataFrame(rows, columns=names)
    return spark.createDataFrame(pdf, schema=schema)


def _field_names(spark: SparkSession, schema) -> list[str]:
    if hasattr(schema, "fieldNames"):
        return list(schema.fieldNames())
    from pyspark.sql.types import StructType

    parsed = StructType.fromDDL(schema)
    return list(parsed.fieldNames())
