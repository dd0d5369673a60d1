"""PySpark-native analytics engine with the query and data-processing
capabilities of dan8239/nfl-data-engineering, rebuilt Spark-first.

Layout
------
- ``session``    : tuned SparkSession factory (AQE, Arrow, shuffle sizing)
- ``io``         : partitioned Parquet read/write + keyed upsert writer
- ``operators/`` : relational/dataflow ops from SURVEY.md §2 (clean, dedup,
                   joins, windows, records, timeseries)
- ``functions/`` : scalar/column function surface (text analysis, hashing,
                   similarity) for the LLM-data-pipeline extension
- ``plans/``     : the query catalog (queries + DuckDB oracle SQL)
- ``sources/``   : connector adapters (REST JSON, HTML tables, multimodal)
- ``streaming/`` : Structured Streaming ingestion variants

Everything here is built on the public PySpark DataFrame/SQL API; no RDD
code paths. Reference parity citations point into /root/reference (e.g.
``src/data_collectors/odds_data_collector.py:40-44`` for full-row dedup).
"""

__version__ = "0.1.0"
