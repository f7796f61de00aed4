"""functions/prefix.py: the two-phase quantile picks against the
single-reducer SQL aggregate they replace."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_aws_spark.functions.prefix import disc_quantile_bounds

FRACS = [0.1, 0.25, 0.5, 0.75, 0.9]


def test_disc_quantile_bounds_ignores_nulls_like_percentile_disc(spark):
    """NULL values are not data to percentile_disc: the picks over a
    column with NULLs must equal percentile_disc's, not shift by the
    NULL count."""
    rows = [(v,) for v in [5, 1, None, 9, 3, None, 7, 2, None, 8, 4, 6]]
    df = spark.createDataFrame(rows, "x bigint")
    got = disc_quantile_bounds(df, "x", FRACS, n_ranges=4).collect()[0]
    want = df.agg(
        *[F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY x)").alias(f"b{i}")
          for i, q in enumerate(FRACS)]
    ).collect()[0]
    assert [got[f"b{i}"] for i in range(len(FRACS))] == [
        want[f"b{i}"] for i in range(len(FRACS))
    ]
