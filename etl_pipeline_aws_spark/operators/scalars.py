"""Projection / filter / scalar-function operators (SURVEY.md §2.B, rows
"select/alias/drop", "filter", "string fns", "date/time", "math",
"conditional", "casts", "JSON access", "array fns", "null handling").

Generalizes the reference's only transform (R3–R5, glue/job.py:27-34) from
one hard-coded enrichment to the full scalar surface.  All expressions are
built-in ``pyspark.sql.functions`` — JVM-side, whole-stage-codegen'd, no
Python in the hot path.  Filters and projections here are written directly
against the Parquet scan so Catalyst pushes them into the reader
(PushedFilters / ReadSchema pruning) — at 100 TB these queries read only the
columns and row groups they touch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_aws_spark.catalog import load_table
from etl_pipeline_aws_spark.functions.numeric import davg, dec, dsum
from etl_pipeline_aws_spark.registry import query

# ---------------------------------------------------------------------------
# Flagship: pricing summary (scan → filter → groupBy agg → sort), TPC-H-Q1
# style.  Decimal-exact aggregation per functions/numeric.py.
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
               AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice)
               AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (one - dec("l_discount", 4)))
            .cast("double")
            .alias("sum_disc_price"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Reference-fidelity enrichment as an oracle-checked query (R3–R5): keep all
# fields, add processed=TRUE and uppercase_name=upper(coalesce(name, '')).
# The coalesce is the exact-semantics point: upper(NULL) must become '', not
# NULL (glue/job.py:31).
# ---------------------------------------------------------------------------


@query(
    "ref_enrich",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           TRUE AS processed,
           UPPER(COALESCE(c_name, '')) AS uppercase_name
    FROM customer
    """,
)
def ref_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.withColumn("processed", F.lit(True)).withColumn(
        "uppercase_name", F.upper(F.coalesce(F.col("c_name"), F.lit("")))
    )


# ---------------------------------------------------------------------------
# select / alias / drop / rename
# ---------------------------------------------------------------------------


@query(
    "project_rename",
    oracle="""
    SELECT p_partkey AS part_id,
           p_name AS part_name,
           p_retailprice AS price
    FROM part
    """,
)
def project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.withColumnRenamed("p_partkey", "part_id")
        .select("part_id", F.col("p_name").alias("part_name"), "p_retailprice")
        .withColumnRenamed("p_retailprice", "price")
    )


# ---------------------------------------------------------------------------
# filter: comparison / boolean / IN / BETWEEN / LIKE / IS NULL
# ---------------------------------------------------------------------------


@query(
    "filter_compound",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderstatus IN ('O', 'F')
      AND o_totalprice BETWEEN 50000 AND 150000
      AND o_orderpriority LIKE '1-%'
      AND o_custkey IS NOT NULL
    """,
)
def filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        F.col("o_orderstatus").isin("O", "F")
        & F.col("o_totalprice").between(50000, 150000)
        & F.col("o_orderpriority").like("1-%")
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


# ---------------------------------------------------------------------------
# string functions
# ---------------------------------------------------------------------------


@query(
    "string_funcs",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name) AS name_upper,
           LOWER(c_mktsegment) AS seg_lower,
           TRIM(c_name) AS name_trim,
           SUBSTRING(c_name, 1, 8) AS name_prefix,
           CONCAT(c_name, '#', c_mktsegment) AS name_seg,
           LENGTH(c_name) AS name_len,
           REPLACE(c_name, 'Customer', 'Cust') AS name_replaced,
           CAST(STRPOS(c_name, '#') AS INT) AS hash_pos
    FROM customer
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.trim("c_name").alias("name_trim"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat(F.col("c_name"), F.lit("#"), F.col("c_mktsegment")).alias("name_seg"),
        F.length("c_name").alias("name_len"),
        F.regexp_replace("c_name", "Customer", "Cust").alias("name_replaced"),
        F.instr(F.col("c_name"), "#").alias("hash_pos"),
    )


@query(
    "regexp_extract_tokens",
    oracle="""
    SELECT doc_id,
           COALESCE(regexp_extract(text, '([a-z]+)', 1), '') AS first_word,
           CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens_sep
    FROM documents
    """,
)
def regexp_extract_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        (F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1)
        .cast("long")
        .alias("n_tokens_sep"),
    )


# ---------------------------------------------------------------------------
# null handling: nullif → coalesce → fillna
# ---------------------------------------------------------------------------


@query(
    "null_handling",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           COALESCE(NULLIF(l_tax, 0.0), -1.0) AS tax_or_flag,
           COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS flag_or_none
    FROM lineitem
    """,
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(F.nullif(F.col("l_tax"), F.lit(0.0)), F.lit(-1.0)).alias("tax_or_flag"),
        F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("none")).alias(
            "flag_or_none"
        ),
    )


# ---------------------------------------------------------------------------
# date / time functions
# ---------------------------------------------------------------------------


@query(
    "date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT) AS order_year,
           CAST(MONTH(o_orderdate) AS INT) AS order_month,
           CAST(DAY(o_orderdate) AS INT) AS order_day,
           DATE_TRUNC('month', o_orderdate) AS order_month_start,
           CAST(DATEDIFF('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT)
               AS days_since_1995,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(EPOCH(o_orderdate) AS BIGINT) AS order_unix_ts
    FROM orders
    """,
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", "o_orderdate").alias("order_month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")).alias(
            "days_since_1995"
        ),
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.unix_timestamp("o_orderdate").alias("order_unix_ts"),
    )


# ---------------------------------------------------------------------------
# math functions
# ---------------------------------------------------------------------------


@query(
    "math_funcs",
    oracle="""
    SELECT p_partkey,
           ROUND(p_retailprice, 1) AS price_round1,
           ABS(p_retailprice - 1000.0) AS price_dist_1000,
           CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,
           CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
           CAST(p_size AS DOUBLE) * CAST(p_size AS DOUBLE) AS size_sq,
           SQRT(p_retailprice) AS price_sqrt, -- sqrt is IEEE correctly-rounded in both engines; ln/log differ in the last ulp between libm implementations
           MOD(p_partkey, 7) AS key_mod7
    FROM part
    """,
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.round("p_retailprice", 1).alias("price_round1"),
        F.abs(F.col("p_retailprice") - 1000.0).alias("price_dist_1000"),
        F.ceil("p_retailprice").alias("price_ceil"),
        F.floor("p_retailprice").alias("price_floor"),
        (F.col("p_size").cast("double") * F.col("p_size").cast("double")).alias("size_sq"),
        F.sqrt(F.col("p_retailprice")).alias("price_sqrt"),
        (F.col("p_partkey") % 7).alias("key_mod7"),
    )


# ---------------------------------------------------------------------------
# conditional: CASE WHEN
# ---------------------------------------------------------------------------


@query(
    "case_when_segments",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low'
                WHEN c_acctbal < 9000 THEN 'mid'
                ELSE 'high' END AS balance_band
    FROM customer
    """,
)
def case_when_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .when(F.col("c_acctbal") < 9000, "mid")
        .otherwise("high")
        .alias("balance_band"),
    )


# ---------------------------------------------------------------------------
# casts
# ---------------------------------------------------------------------------


@query(
    "casts",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price_dec, -- surfaced as double: decimal columns round-trip to pandas as Decimal objects in Spark but float64 in DuckDB, breaking value comparison
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_int, -- Spark CAST(double AS BIGINT) truncates; DuckDB rounds
           CAST(o_orderkey AS VARCHAR) AS key_str,
           CAST(o_orderdate AS DATE) AS order_date
    FROM orders
    """,
)
def casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(12,2)").cast("double").alias("price_dec"),
        F.col("o_totalprice").cast("bigint").alias("price_int"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderdate").cast("date").alias("order_date"),
    )


# ---------------------------------------------------------------------------
# JSON access on events.props (reference's schema-less JSON records live on)
# ---------------------------------------------------------------------------


@query(
    "json_access",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INT) AS prop_k
    FROM events
    """,
)
def json_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


# ---------------------------------------------------------------------------
# array functions on embeddings.embedding
# ---------------------------------------------------------------------------


@query(
    "array_funcs",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_val,
           CAST(embedding[64] AS DOUBLE) AS last_val
    FROM embeddings
    """,
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        F.element_at("embedding", 64).cast("double").alias("last_val"),
    )


@query(
    "json_variant_ops",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS INT) % 10 AS k_mod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS min_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS max_k
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS INT) IS NOT NULL
    GROUP BY 1
    """,
)
def json_variant_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type:
    ``parse_json`` ingests the props payload once into the binary
    variant encoding, ``variant_get`` then extracts typed paths without
    re-parsing text per access — the open-table-format answer to
    schema-on-read JSON columns (Parquet can store the variant
    physically, so repeated queries never touch JSON text again).

    Contrast with json_access (get_json_object), which re-tokenizes the
    string on every extraction: at 100 TB with several accessed paths,
    parse-once-bind-many is the difference between one decode and N.
    The oracle reads the same paths with DuckDB's JSON extraction."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(F.parse_json("props").alias("pv"))
    k = F.expr("variant_get(pv, '$.k', 'int')")
    return (
        v.select(k.alias("k_val"))
        .filter(F.col("k_val").isNotNull())
        .groupBy((F.col("k_val") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k_val").alias("min_k"),
            F.max("k_val").alias("max_k"),
        )
    )


@query(
    "xml_parse_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS price
    FROM orders WHERE o_orderkey <= 5000
    """,
)
def xml_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion via Spark 4's native ``from_xml``: order rows are
    serialized to XML documents (the shape B2B feeds still arrive in)
    and parsed back with a typed schema; passing the oracle (the
    original columns) proves the full serialize→parse cycle is
    lossless, including the double round trip through decimal-free
    text.

    Narrow map both ways — schema-driven XML parsing is codegen-adjacent
    (no Python), and at 100 TB parses shard-parallel like any other
    text source."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 5000)
    xml = o.select(
        F.concat(
            F.lit("<order><key>"),
            F.col("o_orderkey"),
            F.lit("</key><status>"),
            F.col("o_orderstatus"),
            F.lit("</status><price>"),
            F.format_number(F.col("o_totalprice"), 2),
            F.lit("</price></order>"),
        ).alias("doc")
    )
    parsed = xml.select(
        F.from_xml(
            "doc", "key BIGINT, status STRING, price STRING"
        ).alias("x")
    )
    return parsed.select(
        F.col("x.key").alias("o_orderkey"),
        F.col("x.status").alias("status"),
        F.regexp_replace("x.price", ",", "").cast("double").alias("price"),
    )


@query(
    "scalar_try_functions",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN NULL
                ELSE o_totalprice / (o_orderkey % 3) END AS safe_div,
           TRY_CAST(CASE WHEN o_orderkey % 2 = 0 THEN 'n/a'
                         ELSE CAST(o_orderkey AS VARCHAR) END AS INT)
               AS safe_cast,
           CASE WHEN o_orderkey % 5 = 0 THEN NULL
                ELSE o_orderkey + 1 END AS safe_add
    FROM orders WHERE o_orderkey <= 2000
    """,
)
def scalar_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error discipline: the ``try_`` function family returns
    NULL where the strict form would fail the job — division by zero,
    unparseable casts, numeric overflow.  This engine runs ANSI
    semantics (round 2's z-score divide-by-zero was a real ANSI error),
    so ``try_divide``/``try_cast``/``try_add`` are the per-expression
    escape hatch: corrupt rows become NULLs to quarantine, not a dead
    100 TB job five hours in.  (try_add is exercised through an
    overflow-free expression here; its NULL-on-overflow contract is the
    point, proven by the probe in the docstring tests.)"""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    return o.select(
        "o_orderkey",
        F.try_divide(F.col("o_totalprice"), F.col("o_orderkey") % 3).alias("safe_div"),
        F.try_to_number(
            F.when(F.col("o_orderkey") % 2 == 0, F.lit("n/a")).otherwise(
                F.col("o_orderkey").cast("string")
            ),
            F.lit("999999999"),
        )
        .cast("int")
        .alias("safe_cast"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None).cast("long"))
        .otherwise(F.try_add(F.col("o_orderkey"), F.lit(1)))
        .alias("safe_add"),
    )


@query(
    "date_timezone_report",
    oracle="""
    SELECT hour(timezone('America/New_York', ts AT TIME ZONE 'UTC'))
               AS ny_hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN hour(timezone('Asia/Tokyo', ts AT TIME ZONE 'UTC'))
                              BETWEEN 9 AND 17
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_tokyo_business
    FROM events
    GROUP BY 1
    """,
)
def date_timezone_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-time reporting across IANA zones — the "what hour was it for
    the user" layer every global product metric needs: events bucketed
    by their New-York local hour, with a Tokyo business-hours overlay.
    ``from_utc_timestamp`` resolves against the same tzdata rules DuckDB
    applies (`timezone(zone, tstz)`), so wall-clock math — DST included
    — is oracle-checked rather than trusted.  Zone conversion is a
    per-row scalar: the aggregation still map-side combines on 24 hour
    keys, one shuffle at any scale."""
    ev = load_table(spark, sf_dir, "events")
    ny_hour = F.hour(F.from_utc_timestamp("ts", "America/New_York"))
    tokyo_hour = F.hour(F.from_utc_timestamp("ts", "Asia/Tokyo"))
    return ev.groupBy(ny_hour.alias("ny_hour")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(tokyo_hour.between(9, 17), 1).otherwise(0)).alias(
            "n_tokyo_business"
        ),
    )


@query(
    "filter_like_pushdown",
    oracle="""
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM part
    WHERE p_name LIKE 'a%'
    GROUP BY p_brand
    """,
)
def filter_like_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-LIKE predicate pushed INTO the Parquet scan: ``LIKE 'a%'``
    compiles to a StringStartsWith data-source filter, so row groups
    whose p_name min/max range excludes the prefix are skipped before
    decoding — string predicates prune I/O exactly like numeric ranges
    when the pattern is a prefix (a '%a' suffix pattern cannot push;
    that asymmetry is the modeling hint for layout design: cluster by
    the prefix you filter on).  tests/test_plans.py asserts the pushed
    filter is present."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").like("a%"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


@query(
    "scalar_bitwise_family",
    oracle="""
    SELECT p_partkey,
           CAST(p_partkey & 31 AS BIGINT) AS shard,
           CAST(p_partkey | 1 AS BIGINT) AS forced_odd,
           CAST(xor(p_partkey, 21845) AS BIGINT) AS scrambled,
           CAST(p_partkey << 3 AS BIGINT) AS shifted_up,
           CAST(p_partkey >> 2 AS BIGINT) AS shifted_down,
           CAST(bit_count(CAST(p_partkey AS BIGINT)) AS INT) AS popcount,
           CAST(bit_count(CAST(p_partkey AS BIGINT)) % 2 AS INT) AS parity
    FROM part
    WHERE p_partkey < 500
    """,
)
def scalar_bitwise_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar surface — AND/OR/XOR, shifts, popcount: the
    integer-key toolbox behind hash sharding (``key & (2^k − 1)`` is the
    power-of-two shard router), key scrambling, flag packing, and the
    parity checks bitmap aggregates build on.  All JVM-codegen'd
    built-ins (no UDF), all exact BIGINT semantics on both engines."""
    part = load_table(spark, sf_dir, "part")
    return part.filter(F.col("p_partkey") < 500).select(
        "p_partkey",
        F.expr("p_partkey & CAST(31 AS BIGINT)").cast("long").alias("shard"),
        F.expr("p_partkey | CAST(1 AS BIGINT)").cast("long").alias("forced_odd"),
        F.expr("p_partkey ^ CAST(21845 AS BIGINT)").cast("long").alias("scrambled"),
        F.shiftleft(F.col("p_partkey"), 3).cast("long").alias("shifted_up"),
        F.shiftright(F.col("p_partkey"), 2).cast("long").alias("shifted_down"),
        F.bit_count(F.col("p_partkey")).cast("int").alias("popcount"),
        (F.bit_count(F.col("p_partkey")) % 2).cast("int").alias("parity"),
    )


@query(
    "scalar_string_shaping",
    oracle="""
    SELECT p_partkey,
           lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded_key,
           rpad(p_brand, 12, '.') AS brand_cell,
           left(p_name, 8) AS name_prefix,
           right(p_name, 4) AS name_suffix,
           reverse(p_brand) AS brand_rev,
           repeat('*', p_size % 5) AS size_bar,
           translate(p_type, ' #', '_-') AS type_slug,
           replace(p_brand, 'Brand', 'B') AS brand_short
    FROM part
    WHERE p_partkey < 300
    """,
)
def scalar_string_shaping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String shaping/formatting surface — lpad/rpad (fixed-width keys and
    report cells), left/right prefix-suffix slicing, reverse, repeat,
    translate (character-class slugging), replace: the
    identifier-normalization toolbox feeding exports, fixed-width feeds,
    and blocking keys (fuzzy_entity_pairs blocks on exactly these
    shapes).  All codegen'd JVM built-ins with identical semantics on
    both engines."""
    part = load_table(spark, sf_dir, "part")
    return part.filter(F.col("p_partkey") < 300).select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded_key"),
        F.rpad(F.col("p_brand"), 12, ".").alias("brand_cell"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.substring(F.col("p_name"), -4, 4).alias("name_suffix"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
        F.repeat(F.lit("*"), (F.col("p_size") % 5)).alias("size_bar"),
        F.translate(F.col("p_type"), " #", "_-").alias("type_slug"),
        F.regexp_replace(F.col("p_brand"), "Brand", "B").alias("brand_short"),
    )


_COLLATION_ORACLE = """
    SELECT lower(c_mktsegment) AS segment_ci,
           COUNT(*) AS n,
           COUNT(DISTINCT c_mktsegment) AS n_case_variants
    FROM (SELECT CASE WHEN c_custkey % 3 = 0 THEN lower(c_mktsegment)
                      WHEN c_custkey % 3 = 1 THEN c_mktsegment
                      ELSE concat(substring(c_mktsegment, 1, 1),
                                  lower(substring(c_mktsegment, 2,
                                                  length(c_mktsegment))))
                 END AS c_mktsegment
          FROM customer) t
    GROUP BY lower(c_mktsegment)
"""


@query("scalar_collation_ci", oracle=_COLLATION_ORACLE)
def scalar_collation_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive GROUPING via Spark 4 COLLATIONS: the segment
    column is deliberately re-cased three ways (upper/lower/title per
    customer), then grouped under the ``UTF8_LCASE`` collation —
    ``collate()`` makes case-insensitivity a property of the COLUMN'S
    TYPE, so every comparison, join, and aggregation downstream honors
    it without scattering lower() calls (and without breaking pushdown
    the way expression-wrapped keys do).

    The output key is normalized through lower() so both engines emit
    identical strings (a collated group's REPRESENTATIVE value is
    engine-arbitrary — first-seen — which a cross-engine hash cannot
    pin); n_case_variants counts the distinct raw casings folded into
    each group, proving the collation actually merged them."""
    c = load_table(spark, sf_dir, "customer")
    recased = c.select(
        F.when(F.col("c_custkey") % 3 == 0, F.lower("c_mktsegment"))
        .when(F.col("c_custkey") % 3 == 1, F.col("c_mktsegment"))
        .otherwise(
            F.concat(
                F.substring("c_mktsegment", 1, 1),
                F.lower(F.expr("substring(c_mktsegment, 2, length(c_mktsegment))")),
            )
        )
        .alias("c_mktsegment")
    )
    collated = recased.select(
        F.expr("collate(c_mktsegment, 'UTF8_LCASE')").alias("seg_ci"),
        F.col("c_mktsegment").alias("raw"),
    )
    return (
        collated.groupBy("seg_ci")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.expr("collate(raw, 'UTF8_BINARY')")).alias(
                "n_case_variants"
            ),
        )
        .select(
            F.lower(F.col("seg_ci").cast("string")).alias("segment_ci"),
            "n",
            "n_case_variants",
        )
    )


_URL_ORACLE = """
    WITH u AS (
        SELECT doc_id,
               'https://' || source || '.example.com/docs/' || lang ||
               '/' || CAST(doc_id AS VARCHAR) || '?ref=crawler&n=' ||
               CAST(n_chars AS VARCHAR) AS url
        FROM documents
    )
    SELECT doc_id,
           regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, 'ref=([^&]*)', 1) AS ref_param
    FROM u
"""


@query("scalar_url_parsing", oracle=_URL_ORACLE)
def scalar_url_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition with the built-in ``parse_url`` (HOST / PATH /
    QUERY:key) — the click-log normalization every web-events pipeline
    runs before grouping by site section.  URLs are synthesized
    deterministically from document metadata so the oracle can rebuild
    them; DuckDB has no parse_url, so its side decomposes with anchored
    regexes — two independent parsers must agree exactly, which also
    pins Spark's parse_url against the regex semantics a reviewer can
    read.  Narrow map, codegen'd, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref=crawler&n="),
        F.col("n_chars").cast("string"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("ref")).alias("ref_param"),
    )


def _date_edge_sql(weekday_mon0: str, weekofyear: str) -> str:
    """Shared calendar-edge text; per-dialect weekday (Spark weekday()
    is Monday=0; DuckDB isodow is Monday=1) and weekofyear input cast."""
    return f"""
WITH probes(label, d) AS (
    VALUES ('month_end_jan',      DATE '2024-01-31'),
           ('leap_day',           DATE '2024-02-29'),
           ('month_end_nonleap',  DATE '2023-01-31'),
           ('feb_nonleap',        DATE '2023-02-28'),
           ('year_end',           DATE '2023-12-31'),
           ('iso_week_53',        DATE '2021-01-01'),
           ('iso_week_1_spill',   DATE '2019-12-30'),
           ('mid_month',          DATE '2024-06-15')
)
SELECT label, d,
       d + INTERVAL '1 month' AS plus_one_month,
       d + INTERVAL '1 year' AS plus_one_year,
       last_day(d) AS month_last_day,
       CAST(EXTRACT(quarter FROM d) AS INT) AS qtr,
       CAST({weekofyear} AS INT) AS iso_week,
       CAST({weekday_mon0} AS INT) AS dow_mon0
FROM probes
"""


_DATE_EDGE_ORACLE = _date_edge_sql(
    "EXTRACT(isodow FROM d) - 1", "weekofyear(CAST(d AS TIMESTAMP))"
)
_DATE_EDGE_SPARK = _date_edge_sql("weekday(d)", "weekofyear(d)")


@query("scalar_date_edge_cases", oracle=_DATE_EDGE_ORACLE)
def scalar_date_edge_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar edge-case parity pinned on a zero-scan VALUES probe set:
    month-end clamping (Jan 31 + 1 month = Feb 29/28, BOTH engines
    clamp — a pipeline migrating from engines that roll into March
    silently shifts billing dates), leap-day + 1 year (Feb 29 → Feb
    28), last_day, quarter extraction, and the two ISO-week traps every
    week-keyed rollup eventually hits (2021-01-01 is ISO week 53 OF
    2020; 2019-12-30 is ISO week 1 OF 2020).  The date_funcs scalar
    family exercises the happy path over facts; this op pins the
    boundary semantics the oracle comparison would otherwise only
    discover when a fixture happens to land on one.

    One shared SQL text (LocalRelation — constant-folded, no scan);
    the dialect splits are DuckDB's weekofyear needing a TIMESTAMP cast
    and the weekday origin (Spark weekday() is Monday=0, Spark
    dayofweek() is Sunday=1, DuckDB dayofweek is Sunday=0 — measured;
    the op standardizes on Monday=0 and pins the conversion).
    Engine-identical calendar math is exactly the claim under test."""
    return spark.sql(_DATE_EDGE_SPARK)
