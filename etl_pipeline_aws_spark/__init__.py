"""etl_pipeline_aws_spark — a PySpark-native analytics engine.

A brand-new, Spark-first engine with the query and data-processing
capabilities of the reference repo ``pedrohw12/etl-pipeline-aws``
(an S3 → Lambda → Glue NDJSON ETL chain; see SURVEY.md), generalized to a
full DataFrame/SQL analytics surface and extended with LLM-data-pipeline
operators (dedup, similarity search, multimodal columns, text analysis).

Design stance (SURVEY.md §7): everything is declared through the DataFrame /
``pyspark.sql.functions`` / Structured Streaming APIs so Catalyst + AQE pick
the physical strategy.  No RDDs, no custom Catalyst rules, no driver-side
loops over collected data.
"""

from etl_pipeline_aws_spark.session import clear_caches, get_spark, session_builder
from etl_pipeline_aws_spark.catalog import TABLES, load_table
from etl_pipeline_aws_spark.registry import (
    all_queries,
    demo_queries,
    oracle_sql,
    per_module_counts,
    queries,
    query,
    rows_only_query,
)

__all__ = [
    "clear_caches",
    "get_spark",
    "session_builder",
    "TABLES",
    "load_table",
    "queries",
    "demo_queries",
    "all_queries",
    "oracle_sql",
    "per_module_counts",
    "query",
    "rows_only_query",
]

__version__ = "0.1.0"
