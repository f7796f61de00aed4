"""session.py: the engine session compiles each query shape once per JVM,
and builders keep data-dependent numbers out of the generated code."""

from __future__ import annotations

from pyspark.sql import functions as F

import etl_pipeline_aws_spark as engine
from etl_pipeline_aws_spark.catalog import load_table
from etl_pipeline_aws_spark.operators.graph import _cc_size_histogram
from tests.conftest import SF_DIR, SF_SMALL

# About 160 distinct generated classes in all at sf0.01 with AQE off
# (counted in a fresh session with an unbounded cache): past Spark's
# default cache of 100 entries, whose LRU then evicts every class of the
# set before its next use.
WORKING_SET = (
    "q5_local_supplier_volume",
    "events_growth_accounting",
    "embedding_kmeans_lloyd",
)


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _sink_all(spark) -> None:
    qs = engine.all_queries()
    for name in WORKING_SET:
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        engine.clear_caches(spark)


def test_repeated_query_set_reuses_every_generated_class(spark):
    """A second run of the same queries compiles nothing.  AQE is off for
    the test: it re-plans joins as their input stages finish, in whatever
    order they finish, so with it on an identical repeat of ``q5`` now and
    then picks another join and compiles that plan's classes; a new plan,
    not a cache miss."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _sink_all(spark)
        before = _compiles(spark)
        _sink_all(spark)
        assert _compiles(spark) - before == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_cc_size_histogram_builds_without_a_spark_job(spark):
    """The isolated-part count merges into the histogram inside the plan:
    no job while building, and on ``component_size = 1`` the size-1
    component of ``labels`` plus every part of sf0.001 left unlabelled.
    The part count comes first: the first read of a table infers its
    schema with a job of its own (``catalog._SCHEMA_CACHE``)."""
    sc = spark.sparkContext
    n_parts = load_table(spark, SF_SMALL, "part").count()
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3), (5, 3), (6, 6)], "node: bigint, label: bigint"
    )
    group = "cc-size-histogram-build"
    sc.setJobGroup(group, "build only")
    try:
        hist = _cc_size_histogram(spark, SF_SMALL, labels)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = {r.component_size: r.n_components for r in hist.collect()}
    assert got == {1: 1 + n_parts - 6, 2: 1, 3: 1}
    assert dict(hist.dtypes) == {"component_size": "bigint", "n_components": "bigint"}


def test_cc_size_histogram_adds_no_size_one_row_without_isolated_parts(spark):
    every_part = load_table(spark, SF_SMALL, "part").select(
        F.col("p_partkey").cast("long").alias("node"), F.lit(0).cast("long").alias("label")
    )
    hist = _cc_size_histogram(spark, SF_SMALL, every_part)
    assert {r.component_size: r.n_components for r in hist.collect()} == {every_part.count(): 1}
