"""Relational extensions: subqueries, deterministic sampling, series
generation, unpivot, ordered string aggregation, interval self-join, and
FILTER-clause aggregates (SURVEY.md §2.B gaps beyond the core tables).

The subquery family is declared through ``spark.sql`` — Catalyst rewrites
scalar subqueries to broadcast-joined single-row aggregates and IN/EXISTS
to left-semi/anti joins, so these compile to the same physical plans as the
DataFrame forms in operators/joins.py.  The reference has no subqueries
(its one transform is map-only, glue/job.py:27-34); this is the north-star
generalization.

Determinism notes (driver value-hash): every double aggregate that feeds a
comparison or output goes through exact decimal (functions/numeric.py), and
every LIMIT/top-k is total-ordered by a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_aws_spark.catalog import bare_tables, load_table
from etl_pipeline_aws_spark.functions.numeric import dec, dsum
from etl_pipeline_aws_spark.registry import query

# ---------------------------------------------------------------------------
# Subqueries.  SQL-declared: Catalyst's RewriteSubquery turns these into
# joins (scalar -> broadcast single-row, IN -> left semi, NOT EXISTS ->
# left anti); .explain shows no per-row re-execution, unlike the naive
# interpretation.
# ---------------------------------------------------------------------------

_SCALAR_SUBQ = """
    SELECT c_custkey, c_name, c_acctbal
    FROM {customer}
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        FROM {customer}
    )
"""


@query("subquery_scalar", oracle=bare_tables(_SCALAR_SUBQ))
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers above the global average balance.  The average is an exact
    decimal sum / count on both engines, so the > cut is deterministic."""
    return spark.sql(_SCALAR_SUBQ, customer=load_table(spark, sf_dir, "customer"))


_IN_SUBQ = """
    SELECT c_custkey, c_mktsegment
    FROM {customer}
    WHERE c_custkey IN (
        SELECT o_custkey FROM {orders} WHERE o_orderstatus = 'F'
    )
"""


@query("subquery_in", oracle=bare_tables(_IN_SUBQ))
def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery -> left semi join under Catalyst."""
    return spark.sql(
        _IN_SUBQ,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


_EXISTS_SUBQ = """
    SELECT c_custkey, c_name
    FROM {customer} c
    WHERE EXISTS (
        SELECT 1 FROM {orders} o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
    )
"""


@query("subquery_exists_correlated", oracle=bare_tables(_EXISTS_SUBQ))
def subquery_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS -> left semi join on the correlation key plus the
    pushed-down price filter; no per-row subquery execution."""
    return spark.sql(
        _EXISTS_SUBQ,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


_NOT_EXISTS_SUBQ = """
    SELECT c_custkey, c_name
    FROM {customer} c
    WHERE NOT EXISTS (
        SELECT 1 FROM {orders} o WHERE o.o_custkey = c.c_custkey
    )
"""


@query("subquery_not_exists", oracle=bare_tables(_NOT_EXISTS_SUBQ))
def subquery_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders: NOT EXISTS -> left anti join."""
    return spark.sql(
        _NOT_EXISTS_SUBQ,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


# ---------------------------------------------------------------------------
# Deterministic sampling.  df.sample() is seed-dependent per engine, so the
# reproducible form — the one a 100 TB pipeline should use for holdout
# splits anyway — is a hash/mod cut on a stable key.  o_orderkey % 97 < 5
# keeps ~5.2% with no RNG and identical results everywhere.
# ---------------------------------------------------------------------------


@query(
    "sample_deterministic_mod",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey % 97 < 5
    """,
)
def sample_deterministic_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 97 < 5).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# Series generation: sequence + explode (Spark's generator surface; the
# lateral-join form of DuckDB's generate_series).
# ---------------------------------------------------------------------------


@query(
    "sequence_explode",
    oracle="""
    SELECT r_regionkey, CAST(gs.generate_series AS INT) AS step
    FROM region, generate_series(1, 5) gs
    """,
)
def sequence_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each region crossed with an integer series — explode(sequence)."""
    r = load_table(spark, sf_dir, "region")
    return r.select(
        "r_regionkey",
        F.explode(F.sequence(F.lit(1), F.lit(5))).alias("step"),
    ).withColumn("step", F.col("step").cast("int"))


# ---------------------------------------------------------------------------
# Unpivot (wide -> long).  Spark's df.unpivot plans as an Expand node —
# one pass, no shuffle; same shape DuckDB's UNPIVOT produces.
# ---------------------------------------------------------------------------


@query(
    "unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, val
    FROM (
        UNPIVOT (SELECT l_orderkey, l_linenumber,
                        l_quantity, l_extendedprice, l_discount
                 FROM lineitem WHERE l_orderkey < 1000)
        ON l_quantity, l_extendedprice, l_discount
        INTO NAME measure VALUE val
    )
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "val",
    )


# ---------------------------------------------------------------------------
# Ordered string aggregation: collect_list is shuffle-order-nondeterministic,
# so the deterministic form sorts the collected array before joining —
# equivalent to DuckDB's string_agg(... ORDER BY ...).
# ---------------------------------------------------------------------------


@query(
    "string_agg_per_group",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM nation
    GROUP BY n_regionkey
    """,
)
def string_agg_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# Interval-overlap self-join (sessions / co-occurrence): pairs of events by
# the same user within a 5-minute window.  Equi key (user_id) carries the
# shuffle; the range predicate evaluates post-match, so this stays a
# sort-merge/shuffled-hash join, NOT a nested-loop cross product.  At
# 100 TB: same plan — shuffle by user, range-filter within.
# ---------------------------------------------------------------------------


@query(
    "interval_overlap_pairs",
    oracle="""
    SELECT a.user_id,
           CAST(COUNT(*) AS BIGINT) AS pairs_within_5min
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.event_id > a.event_id
     AND b.ts >= a.ts
     AND b.ts < a.ts + INTERVAL 5 MINUTE
    GROUP BY a.user_id
    """,
)
def interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.alias("a")
    b = ev.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.event_id") > F.col("a.event_id"))
            & (F.col("b.ts") >= F.col("a.ts"))
            & (F.col("b.ts") < F.col("a.ts") + F.expr("INTERVAL 5 MINUTE")),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count("*").alias("pairs_within_5min"))
    )


# ---------------------------------------------------------------------------
# FILTER-clause aggregation (conditional aggregates in one pass — the
# pattern that replaces N separate filtered scans with one grouped scan).
# ---------------------------------------------------------------------------


@query(
    "agg_filter_clause",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS finished_value
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan, three conditionally-filtered aggregates (CASE-WHEN inside
    agg = SQL FILTER clause; partial aggregation still applies)."""
    o = load_table(spark, sf_dir, "orders")
    is_f = F.col("o_orderstatus") == "F"
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(is_f, 1)).alias("n_finished"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        F.sum(F.when(is_f, dec("o_totalprice"))).cast("double").alias("finished_value"),
    )


@query(
    "profile_lineitem",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_returnflags,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_quantity,
           MIN(l_quantity) AS min_quantity,
           MAX(l_quantity) AS max_quantity,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           MIN(l_shipdate) AS min_shipdate,
           MAX(l_shipdate) AS max_shipdate
    FROM lineitem
    """,
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (the ANALYZE/statistics surface): row count, key
    cardinalities, null counts, and min/max per column in ONE pass.

    Shape note: mixing COUNT(DISTINCT a) and COUNT(DISTINCT b) makes
    Spark plan an Expand (row multiplication per distinct group) — the
    documented cost of exact multi-column profiling; at 100 TB you
    profile with approx_count_distinct instead (same query, one pass, no
    Expand — the registry's agg_approx_distinct shows that tier).
    Min/max/null-counts alone are plain map-side-combined aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_returnflag").alias("n_returnflags"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).alias(
            "n_null_quantity"
        ),
        F.min("l_quantity").alias("min_quantity"),
        F.max("l_quantity").alias("max_quantity"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
    )


@query(
    "surrogate_keys_dim",
    oracle="""
    SELECT ROW_NUMBER() OVER (ORDER BY s_name) AS sk,
           s_suppkey AS natural_key, s_name
    FROM supplier
    """,
)
def surrogate_keys_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-key assignment for a dimension load: dense sequential
    ids in natural-key order — the id contract star-schema loaders
    promise (stable given stable input, no gaps).

    Scale (r9, migrated off the unpartitioned-window allowlist): dense
    ids come from the two-phase ranked_row_index (range exchange +
    per-slice window + bounded offset fold) instead of a global
    row_number window — value-identical for the total (s_name) order,
    and the SAME code now serves fact-scale surrogate assignment where
    the former single-partition window could not (suppliers grow with
    SF in this schema; the hash-of-natural-key and
    monotonically_increasing_id alternatives remain the non-dense
    shuffle-free tiers)."""
    from etl_pipeline_aws_spark.functions.prefix import ranked_row_index

    sup = load_table(spark, sf_dir, "supplier")
    idx_df, _n = ranked_row_index(sup, [F.asc("s_name")])
    return idx_df.select(
        F.col("_idx").alias("sk"),
        F.col("s_suppkey").alias("natural_key"),
        "s_name",
    )



_LATERAL_TOPN = """
    SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
    FROM {customer} c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM {orders} o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c.c_custkey < 500
"""


@query("subquery_lateral_topn", oracle=bare_tables(_LATERAL_TOPN))
def subquery_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL derived table — each customer's two largest
    orders via a per-row subquery with its own ORDER BY ... LIMIT: the
    SQL-standard form of top-N-per-group (the DataFrame twin is
    window_topk_per_group's row_number pattern, which is exactly what
    Catalyst decorrelates this into: DomainJoin → window rank — no
    per-customer re-execution, unlike a naive nested-loop reading).
    Deterministic tie-break inside the lateral ORDER BY."""
    return spark.sql(
        _LATERAL_TOPN,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


_PARAM_ORACLE = """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice >= 1000.0
    GROUP BY o_orderpriority
"""


@query("sql_parameterized", oracle=_PARAM_ORACLE)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (``spark.sql(query, args={...})``, Spark 3.4+):
    the injection-safe form of templated queries — parameters bind as
    typed literals in the parser, they are never string-spliced, so a
    user-supplied value can only ever be a VALUE.  The reference's job
    parameterization (getResolvedOptions over CLI args feeding f-string
    paths, glue/job.py:9-19) is the pattern this replaces at the query
    layer.

    Catalyst constant-folds the bound literals, so the parameterized
    plan is IDENTICAL to the inlined one (pushdown included — the
    o_totalprice bound reaches the Parquet scan); the oracle runs the
    inlined twin."""
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM {orders}
        WHERE o_orderstatus = :status AND o_totalprice >= :min_price
        GROUP BY o_orderpriority
        """,
        args={"status": "F", "min_price": 1000.0},
        orders=load_table(spark, sf_dir, "orders"),
    )


_CONSISTENT_SAMPLE_ORACLE = """
    WITH so AS (
        SELECT * FROM orders WHERE (o_orderkey * 2654435761) % 100 < 10
    )
    SELECT so.o_orderpriority,
           COUNT(DISTINCT so.o_orderkey) AS n_orders,
           COUNT(l.l_orderkey) AS n_lineitems,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sampled_revenue
    FROM so JOIN lineitem l ON so.o_orderkey = l.l_orderkey
    GROUP BY so.o_orderpriority
"""


@query("sample_consistent_join", oracle=_CONSISTENT_SAMPLE_ORACLE)
def sample_consistent_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referentially-consistent 10% sampling: sample ORDERS by a
    deterministic Fibonacci hash of the join key, then take every
    lineitem of each sampled order — the cluster-sampling discipline
    that keeps parent/child ratios intact (row-level sampling of both
    tables independently would keep ~1% of joined pairs and bias every
    per-order statistic).  No RNG: the same keys are in the sample on
    every engine, every run (same discipline as corpus_split_leakage_safe,
    which samples by CLUSTER representative for the same reason).

    Plan: the hash predicate filters the orders scan (pushdown-eligible
    arithmetic), then one equi join pulls the children — at 100 TB the
    sample predicate can instead be evaluated on the lineitem side
    directly (same hash of l_orderkey), turning the join into two
    independent filtered scans when only child rows are needed."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderkey") * 2654435761) % 100 < 10
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count("l_orderkey").alias("n_lineitems"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sampled_revenue"),
        )
    )


@query(
    "subquery_not_in_null_aware",
    oracle="""
    WITH probe AS (
        SELECT o_orderkey, NULLIF(o_custkey % 50, 49) AS seg
        FROM orders WHERE o_orderkey < 4000
    ), blocklist AS (
        SELECT c_custkey % 50 AS bad_seg FROM customer WHERE c_custkey < 10
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probe_rows,
           CAST(SUM(CASE WHEN seg NOT IN (SELECT bad_seg FROM blocklist)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_not_in,
           CAST(SUM(CASE WHEN seg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_seg
    FROM probe
    """,
)
def subquery_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-AWARE NOT IN — SQL's most-misunderstood predicate, pinned:
    ``x NOT IN (subquery)`` is NOT an anti join when NULLs are in play.
    A NULL probe value makes the predicate UNKNOWN (never true), and a
    NULL in the subquery would void EVERY row — so the engine must plan
    a null-aware anti join (Spark: BroadcastNestedLoopJoin or the
    null-aware single-column BHJ), not the plain LeftAnti that
    ``NOT EXISTS`` gets (join_anti / subquery_not_exists are that
    cheaper, null-naive tier; the docstring delta between the two IS
    the lesson).

    The probe plants NULL segments (NULLIF) so the tri-state path is
    actually exercised: the n_not_in count must exclude every NULL-seg
    row even though those rows match no blocklist entry — the exact
    place a rewritten-to-anti-join engine silently over-counts.  The
    report also carries the NULL count so the oracle certifies the
    exclusion arithmetic, not just the total.

    Scale: the blocklist is tiny by construction (NOT IN lists are);
    the null-aware join broadcasts it.  A fact-sized NOT IN should be
    rewritten to NOT EXISTS by the author — which is why both forms are
    registered."""
    return spark.sql(
        """
        WITH probe AS (
            SELECT o_orderkey, NULLIF(o_custkey % 50, 49) AS seg
            FROM {orders} WHERE o_orderkey < 4000
        ), blocklist AS (
            SELECT c_custkey % 50 AS bad_seg FROM {customer} WHERE c_custkey < 10
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_probe_rows,
               CAST(SUM(CASE WHEN seg NOT IN (SELECT bad_seg FROM blocklist)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_not_in,
               CAST(SUM(CASE WHEN seg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_null_seg
        FROM probe
        """,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )
