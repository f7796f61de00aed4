"""UDF surface (SURVEY.md §2.B row "UDF surface"): scalar Python UDF,
Arrow-vectorized pandas_udf, and grouped-map applyInPandas.

These exist to prove the extension points, not for the hot path — the rule
(SURVEY.md §2.B) is built-ins first, Pandas UDFs (Arrow batches, ~10-100×
faster than row-at-a-time) when Python is unavoidable, row UDFs never in
volume code.  Each query here computes something deterministic so the
DuckDB oracle can hash-check the *values* produced through the UDF path:

- the scalar UDF mirrors ``reverse()``;
- the pandas_udf mirrors plain double arithmetic (elementwise — no
  accumulation-order hazard);
- applyInPandas does per-group min-max normalization (min/max are
  order-insensitive, unlike mean/std, so shuffle order cannot change the
  result).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

from etl_pipeline_aws_spark.catalog import load_table
from etl_pipeline_aws_spark.registry import query


@query(
    "udf_scalar_py",
    oracle="""
    SELECT c_custkey, reverse(c_name) AS name_reversed
    FROM customer WHERE c_custkey < 500
    """,
)
def udf_scalar_py(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the slow path, kept off fact tables).
    Each row round-trips driver JVM -> Python worker -> JVM; use only for
    logic with no built-in equivalent."""

    @F.udf(returnType=StringType())
    def py_reverse(s: str) -> str | None:
        return s[::-1] if s is not None else None

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    return c.select("c_custkey", py_reverse("c_name").alias("name_reversed"))


@query(
    "udf_pandas_vectorized",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge
    FROM lineitem WHERE l_orderkey < 2000
    """,
)
def udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched pandas_udf: whole columns cross the JVM/Python
    boundary as Arrow buffers and the math runs vectorized in numpy.
    Elementwise double ops are order-free, so values hash-match the
    oracle's plain SQL arithmetic."""

    @F.pandas_udf(DoubleType())
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return price * (1.0 - disc) * (1.0 + tax)

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charge"),
    )


@query(
    "udf_grouped_applyinpandas",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CASE WHEN mx = mn THEN 0.0 ELSE (c_acctbal - mn) / (mx - mn) END
               AS acctbal_minmax
    FROM (
        SELECT c_custkey, c_mktsegment, c_acctbal,
               MIN(c_acctbal) OVER (PARTITION BY c_mktsegment) AS mn,
               MAX(c_acctbal) OVER (PARTITION BY c_mktsegment) AS mx
        FROM customer
    )
    """,
)
def udf_grouped_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (the UDAF/transform extension point): each
    group arrives as one pandas DataFrame, normalized in Python, returned
    as columns.  Min-max (not z-score) keeps it order-insensitive.  At
    100 TB each group must fit one executor's memory — groups here are
    market segments; for high-cardinality keys this is the natural shape
    anyway (many small groups)."""

    def minmax(pdf: pd.DataFrame) -> pd.DataFrame:
        mn, mx = pdf["c_acctbal"].min(), pdf["c_acctbal"].max()
        span = mx - mn
        pdf["acctbal_minmax"] = (
            0.0 if span == 0 else (pdf["c_acctbal"] - mn) / span
        )
        return pdf[["c_custkey", "c_mktsegment", "acctbal_minmax"]]

    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").applyInPandas(
        minmax, "c_custkey long, c_mktsegment string, acctbal_minmax double"
    )


@query(
    "udtf_split_props",
    oracle="""
    WITH kv AS (
        SELECT event_id, props, json_keys(props) AS ks
        FROM events WHERE event_id < 200
    )
    SELECT event_id,
           CAST(i - 1 AS INT) AS pos,
           ks[i] AS key_name,
           json_extract_string(props, '$.' || ks[i]) AS val
    FROM kv, unnest(range(1, len(ks) + 1)) AS t(i)
    """,
)
def udtf_split_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Python UDTF (Spark 4 ``@udtf``): one input row expands to N
    output rows — here the events ``props`` JSON string exploded into
    (pos, key, value) rows.  Table functions run on Arrow batches like
    pandas UDFs; the eval yields per input row, so the expansion is
    streamed, never materialized per partition.  A built-in
    ``explode(from_json(...))`` beats this in production (and the oracle
    mirrors exactly that shape) — registered to prove the UDTF extension
    point end-to-end against a value-hashing oracle."""
    import json

    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, key_name string, val string")
    class SplitProps:
        def eval(self, props: str):
            for i, (k, v) in enumerate(json.loads(props).items()):
                # json_extract_string parity: strings pass through raw,
                # every other JSON scalar/composite renders in JSON form
                # (true/1.5/[1,2]); Python str() would yield True/1.5.
                yield i, k, v if isinstance(v, str) else json.dumps(v)

    spark.udtf.register("split_props", SplitProps)
    events = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    return spark.sql(
        "SELECT event_id, pos, key_name, val "
        "FROM {events_small}, LATERAL split_props(props)",
        events_small=events.select("event_id", "props"),
    )


@query(
    "udf_apply_in_arrow",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang
    """,
)
def udf_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map through ``applyInArrow`` (Spark 4): the cogroup batch
    arrives as a ``pyarrow.Table`` and the result returns as one — no
    pandas materialization, no object boxing, the cheapest possible
    Python grouped-map.  Per-language doc counts via ``pyarrow.compute``
    kernels (count/sum/max are order-insensitive, so shuffle order cannot
    change the hash).

    Production rule unchanged: a built-in groupBy beats this (the oracle
    IS that groupBy); registered to prove the Arrow-native extension
    point.  vs applyInPandas, the win at 100 TB is per-batch overhead:
    Arrow tables skip the pandas block-manager build entirely."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def lang_stats(table: pa.Table) -> pa.Table:
        chars = table.column("n_chars")
        return pa.table(
            {
                "lang": [table.column("lang")[0].as_py()],
                "n_docs": pa.array([table.num_rows], pa.int64()),
                "total_chars": pa.array([pc.sum(chars).as_py()], pa.int64()),
                "max_chars": pa.array([pc.max(chars).as_py()], pa.int64()),
            }
        )

    docs = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    return docs.groupBy("lang").applyInArrow(
        lang_stats, schema="lang string, n_docs long, total_chars long, max_chars long"
    )


@query(
    "udf_map_in_arrow",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\\s+')) + 1 AS BIGINT) AS n_words
    FROM documents
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-wise ``mapInArrow``: each Arrow record batch is
    transformed by ``pyarrow.compute`` string kernels without ever
    leaving columnar form — word counts as whitespace-run count + 1.

    Both Arrow's ``count_substring_regex`` and DuckDB's
    ``regexp_extract_all`` are RE2, so ``\\s+`` means the same runs on
    both engines — the same cross-engine-regex discipline as
    text_bpe_pretokenize.  Narrow map, zero shuffles; at 100 TB this is
    the template for any columnar Python kernel (tokenizers, hashing)
    that built-ins cannot express."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def word_counts(batches):
        for batch in batches:
            words = pc.add(
                pc.count_substring_regex(batch.column("text"), r"\s+"),
                1,
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pc.cast(words, pa.int64())],
                ["doc_id", "n_words"],
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(word_counts, schema="doc_id long, n_words long")


@query(
    "udf_grouped_agg_pandas",
    oracle="""
    SELECT l_returnflag,
           CAST(MAX(l_extendedprice) - MIN(l_extendedprice) AS DOUBLE)
               AS price_spread
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udf_grouped_agg_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — the UDAF extension point: a vectorized
    Series -> scalar function usable inside ``groupBy().agg(...)`` (and
    over unbounded windows).  Completes the UDF surface matrix: scalar
    (udf_scalar_py), vectorized scalar (udf_pandas_vectorized),
    grouped-map (udf_apply_in_pandas), grouped-agg (this), table function
    (udtf_split_props), Arrow-native (udf_apply_in_arrow /
    udf_map_in_arrow).

    The aggregate is max - min (order-insensitive extrema, so partition
    order cannot change the value, and one IEEE subtraction is
    deterministic on both engines).  Caveat pinned in the docstring
    because it matters at 100 TB: GROUPED_AGG materializes each group as
    ONE pandas Series (no partial aggregation, unlike built-in aggs) —
    per-group cardinality must be bounded, or the built-in composition
    (F.max - F.min, which the oracle uses) is the right plan."""
    import pandas as pd

    @F.pandas_udf("double")
    def spread(prices: pd.Series) -> float:
        return float(prices.max() - prices.min())

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        spread("l_extendedprice").alias("price_spread")
    )


@query(
    "udf_arrow_optimized_scalar",
    oracle="""
    SELECT c_custkey,
           upper(substring(c_name, 1, 8)) || '#' || CAST(length(c_name) AS VARCHAR)
               AS name_tag
    FROM customer WHERE c_custkey < 500
    """,
)
def udf_arrow_optimized_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARROW-OPTIMIZED Python UDF (Spark 3.5+/4 ``useArrow=True``): same
    row-wise authoring model as udf_scalar_py, but values cross the
    JVM/Python boundary as Arrow batches instead of pickled rows —
    typically 2-5x faster serialization with ZERO code change beyond the
    flag, which is why it's the recommended default for scalar Python
    UDFs that can't be expressed as pandas_udf column math.  This entry
    pins the third point of the UDF serialization ladder (pickled row ->
    Arrow row -> Arrow vectorized) the module documents.

    The kernel is deliberately string-shaping logic with an exact SQL
    equivalent so the oracle certifies Arrow-path value fidelity
    (including unicode round-tripping) rather than approximating it."""

    @F.udf(returnType=StringType(), useArrow=True)
    def name_tag(s: str) -> str | None:
        return f"{s[:8].upper()}#{len(s)}" if s is not None else None

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    return c.select("c_custkey", name_tag("c_name").alias("name_tag"))


@query(
    "udf_pandas_iter_series",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 - 1 AS BIGINT)
               AS adjusted_cents
    FROM orders WHERE o_orderkey < 3000
    """,
)
def udf_pandas_iter_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-Series pandas UDF — the remaining rung of the pandas
    UDF ladder (scalar Series->Series, grouped agg, applyInPandas,
    mapInPandas/Arrow are all covered elsewhere): the iterator form
    exists precisely so EXPENSIVE ONE-TIME STATE (a model handle, a
    codec table, a compiled regex set) initializes once per PARTITION
    and amortizes across every Arrow batch in it, instead of once per
    batch.  The "state" here is deliberately trivial (a constant
    surcharge loaded before the loop) so the oracle stays exact — the
    API shape, batch iteration, and per-partition init are what this
    pins.

    Exactness: decimal cents in, integer subtraction, decimal out —
    no float arithmetic in the UDF at all.  The OUTPUT is cast to
    BIGINT on both engines: the values are integral cents that fit
    int64 comfortably, and a raw DECIMAL output would reach the driver
    as ``Decimal`` objects while DuckDB's pandas bridge renders its
    side float64 — the canonicalization split behind the r8
    ``window_range_interval_frame`` driver red (see tests/oracle.py
    dtype-parity guard).

    Scale: identical Arrow transfer cost to the scalar pandas UDF;
    the iterator form wins exactly when init cost x partitions <<
    init cost x batches."""
    from pyspark.sql.types import DecimalType

    @F.pandas_udf(DecimalType(20, 0))
    def adjust(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        surcharge = 1  # per-partition init happens HERE, before the loop
        for cents in batches:
            yield cents - surcharge

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("decimal(20,0)")
    return o.select(
        "o_orderkey", adjust(cents).cast("long").alias("adjusted_cents")
    )


UDTF_FIRST_N = 3  # analyze-time literal: how many leading tokens become columns


@query(
    "udtf_dynamic_schema",
    oracle=f"""
    SELECT doc_id,
           string_split(text, ' ')[1] AS tok0,
           string_split(text, ' ')[2] AS tok1,
           string_split(text, ' ')[3] AS tok2
    FROM documents WHERE doc_id < 200
    """,
)
def udtf_dynamic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF (Spark 4 ``analyze``-time schema): the
    table function's OUTPUT SCHEMA is computed from its arguments — the
    static ``analyze`` method reads the literal n = {UDTF_FIRST_N} and
    returns a StructType of n token columns, so ``first_tokens(text, 2)``
    and ``first_tokens(text, 5)`` are different relations from ONE
    registration.  This is the extension point for generic
    unpack/pivot/parse table functions whose shape depends on
    configuration, impossible with the fixed ``returnType`` of
    udtf_split_props (the static sibling).

    Value parity is oracle-certified against the built-in array
    indexing that production code should prefer; short documents yield
    NULL columns on both engines (list index past end = NULL in DuckDB,
    tuple None here).  Arrow-batched like every UDTF; narrow map, no
    shuffle."""
    from pyspark.sql.functions import lit, udtf
    from pyspark.sql.types import StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class FirstTokens:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            return AnalyzeResult(
                StructType(
                    [
                        StructField(f"tok{i}", StringType())
                        for i in range(int(n.value))
                    ]
                )
            )

        def eval(self, text: str, n: int):
            toks = text.split(" ")
            yield tuple(toks[i] if i < len(toks) else None for i in range(n))

    spark.udtf.register("first_tokens", udtf(FirstTokens))
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return spark.sql(
        f"SELECT doc_id, tok0, tok1, tok2 "
        f"FROM {{docs_small}}, LATERAL first_tokens(text, {UDTF_FIRST_N})",
        docs_small=docs.select("doc_id", "text"),
    )
