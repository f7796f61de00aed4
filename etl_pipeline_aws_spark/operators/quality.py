"""Data-quality audit operators — the referential-integrity and
conformance checks a warehouse runs before promoting a load (the
reference's pipeline trusts its landing data wholesale; any production
deployment of the same flow needs this gate).

Scale: every audit is an anti-join on the child's foreign key against
the parent's key set — for small parents a broadcast, for fact-sized
parents a key-only shuffle (keys, not rows, move).  The four audits are
independent and the final rollup is a handful of rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_aws_spark.catalog import bare_tables, load_table
from etl_pipeline_aws_spark.registry import query


@query(
    "dq_referential_audit",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS relation,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_child_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM nation n
                               WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'events.user_id->customer',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events e
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = e.user_id))
    """,
)
def dq_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's four foreign
    keys: per relation, total child rows and orphaned child rows (child
    key with no parent).  The per-relation result is two numbers, so the
    whole audit of a 100 TB warehouse returns four rows.

    Each relation audits in ONE pass: the child's key column left-joins
    the parent's (unique) key set and a single aggregate counts rows and
    null-probe misses together — no driver-side actions, no second scan.
    nation (25 rows) broadcasts; for the fact-fact edges only the key
    columns enter the shuffle."""

    def audit(relation: str, child: DataFrame, child_key: str,
              parent: DataFrame, parent_key: str) -> DataFrame:
        hits = parent.select(F.col(parent_key).alias("k")).withColumn(
            "_hit", F.lit(1)
        )
        return (
            child.select(F.col(child_key).alias("k"))
            .join(hits, "k", "left")  # parent keys unique => no fan-out
            .agg(
                F.count(F.lit(1)).alias("n_child_rows"),
                F.count(F.when(F.col("_hit").isNull(), 1)).alias("n_orphans"),
            )
            .select(F.lit(relation).alias("relation"), "n_child_rows", "n_orphans")
        )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    ev = load_table(spark, sf_dir, "events")
    audits = [
        audit("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
        audit("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey"),
        audit("customer.c_nationkey->nation", cust, "c_nationkey", nation, "n_nationkey"),
        audit("events.user_id->customer", ev, "user_id", cust, "c_custkey"),
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out


@query(
    "snapshot_diff",
    oracle="""
    WITH snap1 AS (
        SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price
        FROM orders
    ), snap2 AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               CASE WHEN o_orderkey % 7 = 0
                    THEN o_totalprice * CAST(1.05 AS DOUBLE)
                    ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 11 <> 0
        UNION ALL
        SELECT o_orderkey + 1000000000, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT COALESCE(a.k, b.k) AS o_orderkey,
           CASE WHEN b.k IS NULL THEN 'removed'
                WHEN a.k IS NULL THEN 'added'
                ELSE 'changed' END AS change,
           a.price AS old_price, b.price AS new_price
    FROM snap1 a FULL OUTER JOIN snap2 b ON a.k = b.k
    WHERE a.k IS NULL OR b.k IS NULL
       OR a.price <> b.price OR a.status <> b.status
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-diff between two snapshots of a keyed table — the
    regression gate a pipeline runs before promoting a rewrite
    (added / removed / changed per key; unchanged rows drop out).  The
    second snapshot is derived deterministically from orders so the
    oracle replays it: every 7th key repriced +5%, every 11th removed,
    every 13th re-inserted under a shifted key (an add).

    One full-outer join on the key, change classification as scalar
    expressions — a single co-partitioned shuffle at any scale; at
    100 TB both sides would be bucketed on the key and the join
    exchange-free.  Value comparison is column-wise (<>), so widening
    the compared column set is additive, not a rewrite."""
    o = load_table(spark, sf_dir, "orders")
    snap1 = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    snap2 = (
        o.filter(F.col("o_orderkey") % 11 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * F.lit(1.05))
            .otherwise(F.col("o_totalprice"))
            .alias("price"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 13 == 0).select(
                (F.col("o_orderkey") + F.lit(1_000_000_000)).alias("k"),
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("price"),
            )
        )
    )
    a, b = snap1.alias("a"), snap2.alias("b")
    return (
        a.join(b, F.col("a.k") == F.col("b.k"), "full_outer")
        .filter(
            F.col("a.k").isNull()
            | F.col("b.k").isNull()
            | (F.col("a.price") != F.col("b.price"))
            | (F.col("a.status") != F.col("b.status"))
        )
        .select(
            F.coalesce(F.col("a.k"), F.col("b.k")).alias("o_orderkey"),
            F.when(F.col("b.k").isNull(), "removed")
            .when(F.col("a.k").isNull(), "added")
            .otherwise("changed")
            .alias("change"),
            F.col("a.price").alias("old_price"),
            F.col("b.price").alias("new_price"),
        )
    )


SKEW_TOP_N = 10


@query(
    "profile_key_skew",
    oracle=f"""
    WITH c AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(n) AS BIGINT) AS n_rows,
               CAST(MAX(n) AS BIGINT) AS max_n
        FROM c
    )
    SELECT c.user_id, c.n,
           s.n_keys, s.n_rows, s.max_n,
           CAST(c.n AS DOUBLE) * s.n_keys / s.n_rows AS skew_ratio
    FROM c, stats s
    ORDER BY c.n DESC, c.user_id
    LIMIT {SKEW_TOP_N}
    """,
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis — the profiling pass that tells you
    whether a shuffle on this key needs salting BEFORE the job runs:
    the {SKEW_TOP_N} heaviest keys with their row counts and skew ratio
    (count / mean-count; a ratio of K means that key's partition does
    K times the average work).

    Two tiny aggregations: per-key counts (one shuffle, map-side
    combined) and a single-row global stats broadcast; the top-N is
    TakeOrderedAndProject with a key tiebreak.  The skew ratio is one
    double expression over exact integers — deterministic.  Feed the
    flagged keys to the salted-join recipe (operators/scale.py) or let
    AQE's skew-join splitting handle them at runtime; this operator is
    how you know which, ahead of time, at any scale."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            "n",
            "n_keys",
            "n_rows",
            "max_n",
            (F.col("n").cast("double") * F.col("n_keys") / F.col("n_rows")).alias(
                "skew_ratio"
            ),
        )
        .orderBy(F.col("n").desc(), F.col("user_id"))
        .limit(SKEW_TOP_N)
    )


@query(
    "dq_reconcile_order_totals",
    oracle="""
    WITH per_order AS (
        SELECT o.o_orderkey,
               o.o_totalprice,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS line_total
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_totalprice
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders_with_lines,
           CAST(SUM(CASE WHEN ABS(o_totalprice - line_total) > 0.01
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
           MAX(ABS(o_totalprice - line_total)) AS max_abs_diff
    FROM per_order
    """,
)
def dq_reconcile_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation — header vs detail: does each order's
    stored total equal the sum of its line items?  The answer on this
    synthetic data is overwhelmingly NO (the generator doesn't maintain
    the invariant), which is exactly why the report exists: a
    reconciliation operator must MEASURE divergence (count + worst
    case), not assume it away.

    One co-partitioned join+agg on the order key (header and detail
    shuffle to the same layout), then a scale-free global rollup.  The
    per-order line total is an exact decimal sum surfaced as double, so
    the mismatch flags and max-diff are cross-engine deterministic."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("line_total")
        )
    )
    diff = F.abs(F.col("o_totalprice") - F.col("line_total"))
    return per_order.agg(
        F.count(F.lit(1)).alias("n_orders_with_lines"),
        F.sum(F.when(diff > 0.01, 1).otherwise(0)).alias("n_mismatched"),
        F.max(diff).alias("max_abs_diff"),
    )


@query(
    "dq_freshness_report",
    oracle="""
    SELECT 'events' AS table_name,
           CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS n_rows,
           (SELECT MAX(ts) FROM events) AS latest_ts
    UNION ALL
    SELECT 'orders',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           (SELECT MAX(o_orderdate) FROM orders)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           (SELECT MAX(l_shipdate) FROM lineitem)
    """,
)
def dq_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness report: per fact table, row count and latest event
    time — the first page of every pipeline-health dashboard (a stale
    ``latest_ts`` is how ingestion failures actually surface in
    practice, hours before anyone reads a log).  Three single-row
    global aggregates unioned; each is a map-side-combined min/max —
    the whole report costs one scan per table and returns three rows
    at any scale."""
    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def report(name: str, df: DataFrame, ts_col: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max(ts_col).cast("timestamp").alias("latest_ts"),
        ).select(F.lit(name).alias("table_name"), "n_rows", "latest_ts")

    return (
        report("events", ev, "ts")
        .unionByName(report("orders", o, "o_orderdate"))
        .unionByName(report("lineitem", li, "l_shipdate"))
    )


@query(
    "dq_primary_key_audit",
    oracle="""
    SELECT 'customer' AS tbl,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_rows,
           (SELECT CAST(COUNT(*) FILTER (WHERE c_custkey IS NULL) AS BIGINT)
              FROM customer) AS n_null_keys,
           (SELECT CAST(COUNT(DISTINCT c_custkey) AS BIGINT) FROM customer) AS n_keys,
           (SELECT CAST(COUNT(*) FILTER (WHERE c_custkey IS NOT NULL)
                        - COUNT(DISTINCT c_custkey) AS BIGINT)
              FROM customer) AS n_dup_rows
    UNION ALL
    SELECT 'orders',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           (SELECT CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT)
              FROM orders),
           (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders),
           (SELECT CAST(COUNT(*) FILTER (WHERE o_orderkey IS NOT NULL)
                        - COUNT(DISTINCT o_orderkey) AS BIGINT)
              FROM orders)
    UNION ALL
    SELECT 'part',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM part),
           (SELECT CAST(COUNT(*) FILTER (WHERE p_partkey IS NULL) AS BIGINT)
              FROM part),
           (SELECT CAST(COUNT(DISTINCT p_partkey) AS BIGINT) FROM part),
           (SELECT CAST(COUNT(*) FILTER (WHERE p_partkey IS NOT NULL)
                        - COUNT(DISTINCT p_partkey) AS BIGINT)
              FROM part)
    UNION ALL
    SELECT 'lineitem',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) FILTER (WHERE l_orderkey IS NULL
                                            OR l_linenumber IS NULL) AS BIGINT)
              FROM lineitem),
           (SELECT CAST(COUNT(DISTINCT (l_orderkey, l_linenumber))
                            FILTER (WHERE l_orderkey IS NOT NULL
                                      AND l_linenumber IS NOT NULL) AS BIGINT)
              FROM lineitem),
           (SELECT CAST(COUNT(*) FILTER (WHERE l_orderkey IS NOT NULL
                                            AND l_linenumber IS NOT NULL)
                        - COUNT(DISTINCT (l_orderkey, l_linenumber))
                            FILTER (WHERE l_orderkey IS NOT NULL
                                      AND l_linenumber IS NOT NULL) AS BIGINT)
              FROM lineitem)
    UNION ALL
    SELECT 'events',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events),
           (SELECT CAST(COUNT(*) FILTER (WHERE event_id IS NULL) AS BIGINT)
              FROM events),
           (SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) FROM events),
           (SELECT CAST(COUNT(*) FILTER (WHERE event_id IS NOT NULL)
                        - COUNT(DISTINCT event_id) AS BIGINT)
              FROM events)
    """,
)
def dq_primary_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across every keyed table in one
    report: row count, NULL-key rows, distinct (fully non-NULL) keys,
    and surplus duplicated rows among the non-NULL-keyed ones.  The
    sibling of dq_referential_audit — THE load-promotion gate (a
    duplicated key silently doubles every downstream join; a NULL key is
    a different defect and must NOT be conflated with a duplicate, so it
    gets its own column.  Spark's countDistinct drops any-NULL tuples
    while DuckDB's composite COUNT(DISTINCT (a,b)) would count them —
    both sides therefore restrict the distinct AND the duplicate
    arithmetic to fully non-NULL keys explicitly).

    Plan: per table one count + conditional null count + one
    count-distinct (partial-aggregated key shuffle; composite
    (orderkey, linenumber) for lineitem), results unioned into a 5-row
    report — linear scans, no joins."""

    def audit(tbl: str, df: DataFrame, *keys: str) -> DataFrame:
        any_null = F.lit(False)
        for k in keys:
            any_null = any_null | F.col(k).isNull()
        n_nonnull = F.sum(F.when(~any_null, 1).otherwise(0))
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(any_null, 1).otherwise(0)).cast("long").alias("n_null_keys"),
            F.countDistinct(*keys).cast("long").alias("n_keys"),
            (n_nonnull - F.countDistinct(*keys)).cast("long").alias("n_dup_rows"),
        )

    rows = [
        audit("customer", load_table(spark, sf_dir, "customer"), "c_custkey"),
        audit("orders", load_table(spark, sf_dir, "orders"), "o_orderkey"),
        audit("part", load_table(spark, sf_dir, "part"), "p_partkey"),
        audit(
            "lineitem",
            load_table(spark, sf_dir, "lineitem"),
            "l_orderkey",
            "l_linenumber",
        ),
        audit("events", load_table(spark, sf_dir, "events"), "event_id"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@query(
    "dq_k_anonymity",
    oracle="""
    SELECT c_nationkey,
           c_mktsegment,
           CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
           COUNT(*) AS group_size,
           COUNT(*) < 5 AS below_k
    FROM customer
    GROUP BY c_nationkey, c_mktsegment, FLOOR(c_acctbal / 1000)
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier (nation, market
    segment, $1000 balance band): the size of every QI equivalence class,
    flagged when below k=5 — the groups whose members a release would
    re-identify.  The banding (FLOOR of one double division) is a single
    deterministic IEEE op on both engines.

    This is the privacy-release gate for a data-sharing pipeline: rows in
    below-k classes get suppressed or re-generalized (wider bands) before
    export.  One hash aggregation, map-side combined; at 100 TB the QI
    domain (25 nations x 5 segments x ~tens of bands) stays tiny no
    matter the row count, so the report never grows with the data."""
    c = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000)
    return (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            band.cast("long").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("group_size"))
        .withColumn("below_k", F.col("group_size") < 5)
    )


@query(
    "dq_benford_digits",
    oracle="""
    WITH d AS (
        SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                              1, 1) AS INT) AS first_digit
        FROM orders WHERE o_totalprice >= 1.0
    )
    SELECT first_digit,
           COUNT(*) AS n,
           CAST(COUNT(*) * 1000000 // (SELECT COUNT(*) FROM d) AS BIGINT)
               AS share_ppm
    FROM d
    GROUP BY first_digit
    """,
)
def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law forensic screen: the first-digit distribution of
    order totals, as exact counts + integer parts-per-million shares.
    Fabricated or unit-mangled monetary data departs from the expected
    logarithmic digit curve (30.1% ones, 17.6% twos, ...); the report
    hands an auditor the observed distribution without baking a float
    chi-square into the hash (the comparison against expectation is one
    dashboard division away — counts are the stable artifact).

    First digit extraction truncates to BIGINT first (Spark CAST(double
    AS BIGINT) truncates; DuckDB CAST rounds — the >= 1.0 filter plus
    truncation-on-integer-part makes both engines see the same leading
    digit, and the oracle mirrors the truncate-then-string shape).  One
    hash aggregation over a one-column scan; the share join is a
    single-row broadcast."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1.0)
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("first_digit")
    )
    total = d.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        d.groupBy("first_digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "first_digit",
            "n",
            F.expr("n * 1000000 div n_total").alias("share_ppm"),
        )
    )


_IMPUTE_ORACLE = """
    WITH base AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_custkey % 20 = 0 THEN NULL
                    ELSE c_nationkey END AS nationkey_raw
        FROM customer
    ), modes AS (
        SELECT c_mktsegment, nationkey_raw AS mode_nation
        FROM (
            SELECT c_mktsegment, nationkey_raw,
                   ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                      ORDER BY COUNT(*) DESC, nationkey_raw) AS rn
            FROM base WHERE nationkey_raw IS NOT NULL
            GROUP BY c_mktsegment, nationkey_raw
        ) t WHERE rn = 1
    )
    SELECT b.c_custkey,
           b.nationkey_raw IS NULL AS was_imputed,
           COALESCE(b.nationkey_raw, m.mode_nation) AS nationkey_final
    FROM base b JOIN modes m USING (c_mktsegment)
"""


@query("dq_impute_mode_fk", oracle=_IMPUTE_ORACLE)
def dq_impute_mode_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode imputation for a missing foreign key: rows whose nationkey is
    absent (deterministic synthetic missingness — every 20th customer, so
    the oracle sees the identical holes) take the most frequent nation of
    their market segment, ties broken by smallest key — never the
    engine's ``mode()``, whose tie behavior is unspecified (same
    discipline as agg_mode).

    The imputation table is segment-sized (a window over GROUPED counts,
    not rows) and broadcasts back onto the scan, so the repair pass costs
    one aggregate + one map-side join at any scale.  ``was_imputed`` is
    carried so downstream consumers can weight or exclude repaired rows
    — silent imputation is how bias enters a training set."""
    from pyspark.sql.window import Window

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("c_custkey") % 20 == 0, F.lit(None).cast("int"))
        .otherwise(F.col("c_nationkey"))
        .alias("nationkey_raw"),
    )
    counts = (
        base.filter(F.col("nationkey_raw").isNotNull())
        .groupBy("c_mktsegment", "nationkey_raw")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("cnt").desc(), "nationkey_raw"
    )
    modes = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_mktsegment", F.col("nationkey_raw").alias("mode_nation"))
    )
    return base.join(F.broadcast(modes), "c_mktsegment").select(
        "c_custkey",
        F.col("nationkey_raw").isNull().alias("was_imputed"),
        F.coalesce("nationkey_raw", "mode_nation").alias("nationkey_final"),
    )


_EXPECTATIONS_ORACLE = """
    SELECT 'orders.o_orderkey.not_null' AS expectation,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL) AS n_violations
    UNION ALL
    SELECT 'orders.o_orderkey.unique',
           (SELECT CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders)
    UNION ALL
    SELECT 'orders.o_orderstatus.accepted_values',
           (SELECT COUNT(*) FROM orders WHERE o_orderstatus NOT IN ('F','O','P'))
    UNION ALL
    SELECT 'orders.o_totalprice.min_bound',
           (SELECT COUNT(*) FROM orders WHERE o_totalprice < 0)
    UNION ALL
    SELECT 'orders.o_custkey.relationship_customer',
           (SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'orders.o_orderdate.freshness_range',
           (SELECT COUNT(*) FROM orders
             WHERE o_orderdate < TIMESTAMP '1990-01-01'
                OR o_orderdate > TIMESTAMP '2030-01-01')
"""


@query("dq_expectations_suite", oracle=_EXPECTATIONS_ORACLE)
def dq_expectations_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract suite over one table — the dbt-test /
    Great-Expectations shape: not_null, unique, accepted_values, value
    bound, FK relationship, and date-range freshness, each reported as a
    named expectation with its exact violation count (0 = pass).  One
    gate row per contract clause is what a load-promotion step consumes;
    the individual audits (dq_referential_audit, dq_primary_key_audit,
    dq_freshness_report) remain the deep-dive tools.

    Plan: the five single-table checks fold into ONE pass over orders
    (conditional counts share the scan); the relationship check adds one
    keys-only left join.  At 100 TB the suite costs a single fact scan +
    one key shuffle regardless of how many clauses the contract grows."""
    o = load_table(spark, sf_dir, "orders")
    cust_keys = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("o_custkey"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = o.join(cust_keys, "o_custkey", "left")
    counted = joined.agg(
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("v_null"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v_unique"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        ).alias("v_accepted"),
        F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)).alias("v_bound"),
        F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0)).alias("v_rel"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp_ntz"))
                | (F.col("o_orderdate") > F.lit("2030-01-01").cast("timestamp_ntz")),
                1,
            ).otherwise(0)
        ).alias("v_fresh"),
    )
    pairs = [
        ("orders.o_orderkey.not_null", "v_null"),
        ("orders.o_orderkey.unique", "v_unique"),
        ("orders.o_orderstatus.accepted_values", "v_accepted"),
        ("orders.o_totalprice.min_bound", "v_bound"),
        ("orders.o_custkey.relationship_customer", "v_rel"),
        ("orders.o_orderdate.freshness_range", "v_fresh"),
    ]
    stacked = counted.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("expectation"),
                        F.col(col).cast("long").alias("n_violations"),
                    )
                    for name, col in pairs
                ]
            )
        ).alias("e")
    )
    return stacked.select("e.expectation", "e.n_violations")


_DRIFT_BIN = 50_000.0  # fixed price-bin width for the drift histogram

_DRIFT_ORACLE = f"""
    WITH halves AS (
        SELECT CASE WHEN o_orderdate < (SELECT MIN(o_orderdate)
                                        + (MAX(o_orderdate) - MIN(o_orderdate)) / 2
                                        FROM orders)
                    THEN 0 ELSE 1 END AS half,
               CAST(FLOOR(o_totalprice / {_DRIFT_BIN}) AS BIGINT) AS bin
        FROM orders
    ), counts AS (
        SELECT bin,
               CAST(COUNT(*) FILTER (WHERE half = 0) AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (WHERE half = 1) AS BIGINT) AS c2
        FROM halves GROUP BY bin
    ), totals AS (
        SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM counts
    )
    SELECT CAST(t.n1 AS BIGINT) AS n_baseline,
           CAST(t.n2 AS BIGINT) AS n_current,
           CAST(SUM(abs(c.c1 * t.n2 - c.c2 * t.n1)) AS BIGINT) AS tv_scaled,
           CAST(SUM(abs(c.c1 * t.n2 - c.c2 * t.n1)) AS DOUBLE)
               / (2.0 * t.n1 * t.n2) AS total_variation
    FROM counts c, totals t
    GROUP BY t.n1, t.n2
"""


@query("dq_distribution_drift", oracle=_DRIFT_ORACLE)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection between two data epochs — the "did
    the incoming data change shape" monitor (the practical sibling of
    PSI/KL dashboards): order values from the earlier half of the date
    range form the baseline histogram, the later half the current one,
    and the distance is TOTAL VARIATION, TV = ½·Σ|p_i − q_i|.

    The numeric trick that keeps it oracle-exact: PSI/KL need ln (which
    differs cross-engine in the last ulp — banned here), and even TV
    over float proportions sums order-sensitively.  Instead the query
    cross-multiplies into pure integers — Σ|c1_i·N2 − c2_i·N1| — and
    divides ONCE at the end by 2·N1·N2: bit-identical everywhere, and
    the scaled integer form is itself exported for alert thresholds
    that want exact arithmetic end to end.

    Scale: one scan building both histograms in a single (bin)
    aggregation (conditional counts), a 1-row totals broadcast, and a
    bins-sized fold — drift over 100 TB costs one pass."""
    o = load_table(spark, sf_dir, "orders")
    mid = F.broadcast(
        o.agg(
            (
                F.min("o_orderdate")
                + (F.max("o_orderdate") - F.min("o_orderdate")) / 2
            ).alias("mid")
        )
    )
    halves = o.crossJoin(mid).select(
        F.when(F.col("o_orderdate") < F.col("mid"), 0).otherwise(1).alias("half"),
        F.floor(F.col("o_totalprice") / _DRIFT_BIN).cast("long").alias("bin"),
    )
    counts = halves.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("c2"),
    )
    totals = F.broadcast(
        counts.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    )
    return (
        counts.crossJoin(totals)
        .groupBy("n1", "n2")
        .agg(
            F.sum(
                F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
            )
            .cast("long")
            .alias("tv_scaled")
        )
        .select(
            F.col("n1").cast("long").alias("n_baseline"),
            F.col("n2").cast("long").alias("n_current"),
            "tv_scaled",
            (
                F.col("tv_scaled").cast("double")
                / (F.lit(2.0) * F.col("n1") * F.col("n2"))
            ).alias("total_variation"),
        )
    )


@query(
    "dq_sequence_gaps",
    oracle="""
    WITH landed AS (
        -- simulated loss: the %13 rows never landed (same filter on both
        -- engines); the fixture key space is otherwise dense, so every
        -- detected gap is exactly one planted loss
        SELECT o_orderkey FROM orders WHERE o_orderkey % 13 <> 0
    ), ordered AS (
        SELECT o_orderkey,
               LAG(o_orderkey) OVER (ORDER BY o_orderkey) AS prev_key
        FROM landed
    )
    SELECT prev_key + 1 AS gap_start,
           o_orderkey - 1 AS gap_end,
           CAST(o_orderkey - prev_key - 1 AS BIGINT) AS n_missing
    FROM ordered
    WHERE prev_key IS NOT NULL AND o_orderkey - prev_key > 1
    """,
)
def dq_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-ID detection over a monotonically-assigned key: every gap
    in the o_orderkey sequence as (start, end, count) ranges — the
    lost-ingestion audit for any upstream that allocates sequential ids
    (a gap means rows the source emitted and the pipeline never landed,
    invisible to row-count checks that don't know the expected count).
    The fixture's key space is dense, so the landed set drops the %13
    keys — planted losses the detector must recover exactly.

    Scale (r9, migrated off the unpartitioned-window allowlist — this
    was the family's one FACT-SIZED member, a global lag over every
    landed key): the successor pairing now rides the two-phase
    ranked_row_index + an equi-join on consecutive indices (the
    stat_wasserstein_1d predecessor pattern) — range-partitioned,
    every stage parallel, value-identical to the global lag for the
    total key order; the oracle's naive global lag certifies the same
    semantics."""
    from etl_pipeline_aws_spark.functions.prefix import ranked_row_index

    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .filter(F.col("o_orderkey") % 13 != 0)
    )
    idx_df, _n = ranked_row_index(o, [F.asc("o_orderkey")])
    cur = idx_df.select(F.col("_idx").alias("i"), "o_orderkey")
    prev = idx_df.select(
        (F.col("_idx") + 1).alias("i"), F.col("o_orderkey").alias("prev_key")
    )
    g = cur.join(prev, "i").filter(
        F.col("o_orderkey") - F.col("prev_key") > 1
    )
    return g.select(
        (F.col("prev_key") + 1).alias("gap_start"),
        (F.col("o_orderkey") - 1).alias("gap_end"),
        (F.col("o_orderkey") - F.col("prev_key") - 1)
        .cast("long")
        .alias("n_missing"),
    )


CHECKSUM_BLOCK = 4096  # orderkeys per checksum block
CHECKSUM_P = 999999937  # prime < 2^30: block sums stay far below 2^63

_CHECKSUM_SQL = f"""
WITH rows_h AS (
    SELECT CAST(FLOOR(o_orderkey / {CHECKSUM_BLOCK}) AS BIGINT) AS block,
           ((o_orderkey % {CHECKSUM_P}) * 8191
            + (o_custkey % {CHECKSUM_P}) * 127
            + CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) % {CHECKSUM_P})
               % {CHECKSUM_P} AS h1,
           ((o_orderkey % {CHECKSUM_P}) * 131
            + (o_custkey % {CHECKSUM_P}) * 65599
            + CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) % {CHECKSUM_P} * 31)
               % {CHECKSUM_P} AS h2
    FROM {{orders}}
)
SELECT block,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(h1) AS BIGINT) AS checksum_a,
       CAST(SUM(h2) AS BIGINT) AS checksum_b
FROM rows_h
GROUP BY block
"""


@query("dq_block_checksums", oracle=bare_tables(_CHECKSUM_SQL))
def dq_block_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level table checksums for cheap replica/migration diffing:
    each {CHECKSUM_BLOCK}-key block of orders reduces to (row count, two
    independent additive fingerprints), so two copies of a 100 TB table
    compare by exchanging KBs of block digests and re-reading only the
    blocks whose digests disagree — the anti-entropy pattern behind
    every table-sync tool, as a first-class engine query.

    The fingerprint is a PORTABLE polynomial mix in overflow-free
    modular BIGINT arithmetic — deliberately NOT xxhash64/md5, whose
    implementations (and thus digests) differ across engines; the same
    SQL text yields the same digests in Spark and DuckDB, which is the
    entire point of a cross-system diff.  Additive (SUM) folding makes
    the digest order-insensitive — no sort, safe under any partitioning
    — and the second independent mix drives the collision probability
    to ~(1/P)² per block.

    Scale: one partial-aggregated groupBy keyed by the block id (which
    is key-affine, so a key-range-partitioned table computes digests
    with ZERO shuffle after pushdown); output is |keys|/{CHECKSUM_BLOCK}
    rows."""
    return spark.sql(_CHECKSUM_SQL, orders=load_table(spark, sf_dir, "orders"))


LDIV_L = 3  # minimum distinct sensitive values per QI class

_LDIV_SQL = f"""
WITH classed AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band
    FROM {{customer}}
)
SELECT c_nationkey, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS class_size,
       CAST(COUNT(DISTINCT bal_band) AS BIGINT) AS l_distinct,
       CASE WHEN COUNT(DISTINCT bal_band) < {LDIV_L} THEN 1 ELSE 0 END
           AS below_l
FROM classed
GROUP BY c_nationkey, c_mktsegment
"""


@query("dq_l_diversity", oracle=bare_tables(_LDIV_SQL))
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attack k-anonymity misses: a QI class can
    be large (k-anonymous) yet have every member share ONE sensitive
    value, so membership alone discloses it (the homogeneity attack).
    Per quasi-identifier class (nation, market segment): size, the
    number of DISTINCT sensitive values (the $1000 balance band
    dq_k_anonymity uses as a QI plays the sensitive attribute here —
    the release decides which columns are which), and the below-l flag
    at l={LDIV_L}.  Together the two audits are the standard
    pre-release privacy gate pair.

    Exact integer counts; the band is the same single FLOOR-division
    IEEE op as the k-anonymity query, so the two audits band
    identically by construction.

    Scale: one partial-aggregated groupBy on the QI key; COUNT(DISTINCT
    band) expands to (QI, band) partials first — both bounded by
    |nations|x|segments|x|bands|, regardless of fact size."""
    return spark.sql(_LDIV_SQL, customer=load_table(spark, sf_dir, "customer"))


DOUBLE_CHARGE_WINDOW_DAYS = 1  # same amount within a day = suspect

_DOUBLE_CHARGE_SQL = f"""
WITH w AS (
    SELECT o_custkey, o_totalprice,
           CAST(o_orderdate AS DATE) AS day,
           o_orderkey,
           LAG(CAST(o_orderdate AS DATE)) OVER (
               PARTITION BY o_custkey, o_totalprice
               ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev_day,
           LAG(o_orderkey) OVER (
               PARTITION BY o_custkey, o_totalprice
               ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev_key
    FROM orders
)
SELECT o_custkey,
       CAST(o_totalprice AS DOUBLE) AS amount,
       prev_key AS first_orderkey,
       o_orderkey AS dup_orderkey,
       CAST(date_diff('day', prev_day, day) AS BIGINT) AS days_apart
FROM w
WHERE prev_day IS NOT NULL
  AND day - prev_day <= {DOUBLE_CHARGE_WINDOW_DAYS}
"""


@query("dq_double_charge_audit", oracle=_DOUBLE_CHARGE_SQL)
def dq_double_charge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-charge / duplicate-invoice audit: pairs of orders from the
    SAME customer for the EXACT same amount within
    {DOUBLE_CHARGE_WINDOW_DAYS} day of each other — the refund-queue
    report every billing pipeline runs (dup submissions, retried
    charges, double-clicked checkouts).  Distinct from dedup_exact
    (same CONTENT) and dq_primary_key_audit (same KEY): these are
    legitimate distinct rows whose business meaning is suspect.

    One window pass partitioned by the (customer, amount) candidate
    key, consecutive-pair semantics (each dup chains to its
    predecessor, so a triple charge emits two pairs — the refund queue
    wants each incremental charge once).  Ordering is pinned by
    (day, orderkey) so pair identity is deterministic; the raw double
    amount is never summed, only equality-grouped — hash-safe.

    Scale: the shuffle is keyed by (custkey, amount) — high-cardinality
    composite, no hot partition; state per group is one lag row."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_totalprice").orderBy(
        F.col("o_orderdate").cast("date"), "o_orderkey"
    )
    d = o.select(
        "o_custkey",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("day"),
        "o_orderkey",
        F.lag(F.col("o_orderdate").cast("date")).over(w).alias("prev_day"),
        F.lag("o_orderkey").over(w).alias("prev_key"),
    )
    return d.filter(
        F.col("prev_day").isNotNull()
        & (F.datediff("day", "prev_day") <= DOUBLE_CHARGE_WINDOW_DAYS)
    ).select(
        "o_custkey",
        F.col("o_totalprice").cast("double").alias("amount"),
        F.col("prev_key").alias("first_orderkey"),
        F.col("o_orderkey").alias("dup_orderkey"),
        F.datediff("day", "prev_day").cast("long").alias("days_apart"),
    )


_ERASURE_ORACLE = """
    SELECT 'customer' AS tbl,
           CAST(SUM(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_erased,
           CAST(SUM(CASE WHEN c_custkey % 97 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_retained,
           CAST(0 AS BIGINT) AS n_residual
    FROM customer
    UNION ALL
    SELECT 'orders',
           CAST(SUM(CASE WHEN o_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN o_custkey % 97 <> 0 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(0 AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem',
           CAST(SUM(CASE WHEN o_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN o_custkey % 97 <> 0 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(0 AS BIGINT)
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
"""


@query("dq_erasure_audit", oracle=_ERASURE_ORACLE)
def dq_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure with a CASCADING audit — the
    privacy-ops pass that the k-anonymity / l-diversity / PII-scrub
    trio still leaves open: given an erasure list (every 97th customer,
    the staged request set), delete the subject rows AND their
    transitive fact footprint (orders via custkey, lineitems via the
    erased orders — the cascade is where hand-rolled erasure fails),
    then prove completeness: per table, rows erased, rows retained,
    and the RESIDUAL count of subject-linked rows still present —
    which must be exactly 0 and is computed from the post-erasure
    frames themselves, not assumed.

    The oracle derives all three numbers per table from the intact
    sources, so an incomplete cascade (lineitems orphaned by erased
    orders surviving) or an over-delete both hash-mismatch.

    Scale: three anti-joins on their natural keys (customer broadcast,
    order keys shuffled); the residual probe reuses the same join
    shapes — erasure at 100 TB is exactly this plan plus the rewrite
    of affected files (lakehouse_merge_on_read's deletion-vector tier
    is the no-rewrite variant).  The audit row assembly cross-joins
    1x1 count folds (the agg_hll_sketch_rollup pattern — scale-free,
    allowlisted)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    subjects = customer.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    # cascade: subject rows, their orders, those orders' lineitems
    erased_orders = orders.join(
        subjects, orders["o_custkey"] == subjects["c_custkey"], "left_semi"
    ).select("o_orderkey")
    cust_after = customer.join(subjects, "c_custkey", "left_anti")
    orders_after = orders.join(
        subjects, orders["o_custkey"] == subjects["c_custkey"], "left_anti"
    )
    li_after = lineitem.join(
        erased_orders, lineitem["l_orderkey"] == erased_orders["o_orderkey"],
        "left_anti",
    )

    def audit(tbl, before, after, residual):
        n_before = before.agg(F.count(F.lit(1)).cast("long").alias("n"))
        n_after = after.agg(F.count(F.lit(1)).cast("long").alias("n"))
        n_res = residual.agg(F.count(F.lit(1)).cast("long").alias("n"))
        return (
            n_before.crossJoin(
                n_after.withColumnRenamed("n", "n_after")
            ).crossJoin(n_res.withColumnRenamed("n", "n_res"))
            .select(
                F.lit(tbl).alias("tbl"),
                (F.col("n") - F.col("n_after")).alias("n_erased"),
                F.col("n_after").alias("n_retained"),
                F.col("n_res").alias("n_residual"),
            )
        )

    res_c = cust_after.join(subjects, "c_custkey", "left_semi")
    res_o = orders_after.join(
        subjects, orders_after["o_custkey"] == subjects["c_custkey"], "left_semi"
    )
    res_l = li_after.join(
        erased_orders, li_after["l_orderkey"] == erased_orders["o_orderkey"],
        "left_semi",
    )
    return (
        audit("customer", customer, cust_after, res_c)
        .unionByName(audit("orders", orders, orders_after, res_o))
        .unionByName(audit("lineitem", lineitem, li_after, res_l))
    )


_IQR_FENCES_ORACLE = """
    WITH ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ), quartiles AS (
        SELECT event_type,
               MIN(CASE WHEN rn = (n - 1) // 4 + 1 THEN value END) AS q1,
               MIN(CASE WHEN rn = 3 * (n - 1) // 4 + 1 THEN value END) AS q3
        FROM ranked GROUP BY event_type
    ), fences AS (
        SELECT event_type, q1, q3,
               q1 - 1.5 * (q3 - q1) AS fence_low,
               q3 + 1.5 * (q3 - q1) AS fence_high
        FROM quartiles
    )
    SELECT e.event_type, f.q1, f.q3, f.fence_low, f.fence_high,
           CAST(SUM(CASE WHEN e.value < f.fence_low
                           OR e.value > f.fence_high
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events e
    JOIN fences f ON f.event_type = e.event_type
    GROUP BY e.event_type, f.q1, f.q3, f.fence_low, f.fence_high
"""


@query("dq_iqr_fences", oracle=_IQR_FENCES_ORACLE)
def dq_iqr_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot fences per metric series: outliers are values
    outside [Q1 − 1.5·IQR, Q3 + 1.5·IQR] — the third member of the
    robust-outlier family (z-score assumes normality and is itself
    dragged by outliers; MAD — agg_mad_outliers — resists but has no
    conventional threshold; the 1.5·IQR fence is the boxplot default
    every data-profiling tool reports).

    Quartiles are exact DISCRETE picks (rank ⌊(n−1)·p⌋+1, event_id
    tie-break — the agg_quantiles_exact discipline: interpolated
    quantiles round engine-specifically, element picks cannot); fences
    are one shared arithmetic text on those picked doubles; outlier
    classification compares raw values against identically computed
    fences.

    Plan: one per-type window sort (the inherent exact-quantile cost —
    the scale relief is percentile_approx, documented there), then the
    5-row fence table broadcast-joins back to the fact scan for the
    count — two scans total, no fact-sized shuffle beyond the sort."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    quartiles = ranked.groupBy("event_type").agg(
        F.min(
            F.when(F.col("rn") == F.expr("(n - 1) div 4 + 1"), F.col("value"))
        ).alias("q1"),
        F.min(
            F.when(F.col("rn") == F.expr("3 * (n - 1) div 4 + 1"), F.col("value"))
        ).alias("q3"),
    )
    fences = quartiles.select(
        "event_type",
        "q1",
        "q3",
        (F.col("q1") - F.lit(1.5) * (F.col("q3") - F.col("q1"))).alias("fence_low"),
        (F.col("q3") + F.lit(1.5) * (F.col("q3") - F.col("q1"))).alias("fence_high"),
    )
    return (
        ev.join(F.broadcast(fences), "event_type")
        .groupBy("event_type", "q1", "q3", "fence_low", "fence_high")
        .agg(
            F.sum(
                F.when(
                    (F.col("value") < F.col("fence_low"))
                    | (F.col("value") > F.col("fence_high")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )


T_CLOSENESS_MAX = 0.25  # flag QI classes whose sensitive distribution drifts further


_TCLOSE_SQL = f"""
WITH classed AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS band
    FROM {{customer}}
), gband AS (
    SELECT band, CAST(COUNT(*) AS BIGINT) AS g FROM classed GROUP BY band
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(DISTINCT band) AS BIGINT) AS m
    FROM classed
), classes AS (
    SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_class
    FROM classed GROUP BY c_nationkey, c_mktsegment
), cells AS (
    SELECT c_nationkey, c_mktsegment, band, CAST(COUNT(*) AS BIGINT) AS n_cb
    FROM classed GROUP BY c_nationkey, c_mktsegment, band
), spine AS (
    SELECT cl.c_nationkey, cl.c_mktsegment, cl.n_class, gb.band, gb.g,
           COALESCE(ce.n_cb, CAST(0 AS BIGINT)) AS n_cb
    FROM classes cl
    CROSS JOIN gband gb
    LEFT JOIN cells ce
      ON ce.c_nationkey = cl.c_nationkey
     AND ce.c_mktsegment = cl.c_mktsegment
     AND ce.band = gb.band
), cums AS (
    SELECT c_nationkey, c_mktsegment, n_class, band,
           SUM(n_cb * n_total - g * n_class) OVER (
               PARTITION BY c_nationkey, c_mktsegment
               ORDER BY band ROWS UNBOUNDED PRECEDING) AS cumdiff,
           n_total, m
    FROM spine CROSS JOIN tot
), emd AS (
    SELECT c_nationkey, c_mktsegment, n_class, n_total, m,
           CAST(SUM(ABS(cumdiff)) AS BIGINT) AS emd_scaled
    FROM cums
    GROUP BY c_nationkey, c_mktsegment, n_class, n_total, m
)
SELECT c_nationkey, c_mktsegment,
       n_class AS class_size,
       CAST(emd_scaled AS DOUBLE)
           / (CAST(n_class AS DOUBLE) * n_total * (m - 1)) AS t_closeness,
       CASE WHEN CAST(emd_scaled AS DOUBLE)
                     / (CAST(n_class AS DOUBLE) * n_total * (m - 1))
                 > {T_CLOSENESS_MAX}
            THEN 1 ELSE 0 END AS above_t
FROM emd
"""


@query("dq_t_closeness", oracle=bare_tables(_TCLOSE_SQL))
def dq_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the attack l-diversity misses: a QI class can
    hold l distinct sensitive values yet still LEAK because its
    DISTRIBUTION differs from the table's (a class that is 90% top
    balance band discloses "probably rich" even with diverse members —
    the skewness attack).  Per (nation, segment) class: Earth Mover's
    Distance between the class' balance-band distribution and the
    global one, flagged at t > {T_CLOSENESS_MAX}.  Completes the
    release-gate triad: dq_k_anonymity (class size), dq_l_diversity
    (value diversity), t-closeness (value distribution) — same bands,
    so the three audits read one consistent anonymization model.

    Exactness: for ordered bands with unit ground distance, EMD =
    Σ_b |Σ_{{b'≤b}} (P − Q)| / (m−1); clearing denominators scales each
    cumulative term to the integer n_cb·N − g_b·n_class, so the whole
    distance is exact BIGINT window arithmetic with one closing
    division (magnitudes ≤ N²·m — int64-safe past 10⁸ customers).

    Scale: two QI-key reductions (fact-sized, map-side combined), then
    a |classes|×|bands| spine (bounded dimension product — the only
    cartesian, rows ≤ nations×segments×bands), one ordered window per
    class, one rollup.  The 1-row totals join is the q11 scalar
    pattern."""
    return spark.sql(_TCLOSE_SQL, customer=load_table(spark, sf_dir, "customer"))


# Cross-field rule audit: every rule is an exact predicate over one joined
# row; counts fold map-side.  Rates are floor-scaled basis points.
_CROSS_FIELD_SQL = """
WITH joined AS (
    SELECT l.l_shipdate, l.l_discount, l.l_tax, l.l_quantity, o.o_orderdate
    FROM {lineitem} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey
), audited AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END)
                AS BIGINT) AS ship_before_order,
           CAST(SUM(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END)
                AS BIGINT) AS discount_over_cap,
           CAST(SUM(CASE WHEN l_tax > 0.06 THEN 1 ELSE 0 END)
                AS BIGINT) AS tax_over_cap,
           CAST(SUM(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END)
                AS BIGINT) AS quantity_over_cap
    FROM joined
)
SELECT rule, n_violations, n_rows,
       CAST(n_violations * 10000 // n_rows AS BIGINT) AS violation_bp
FROM (
    SELECT 'ship_before_order' AS rule, ship_before_order AS n_violations,
           n_rows FROM audited
    UNION ALL
    SELECT 'discount_over_cap', discount_over_cap, n_rows FROM audited
    UNION ALL
    SELECT 'tax_over_cap', tax_over_cap, n_rows FROM audited
    UNION ALL
    SELECT 'quantity_over_cap', quantity_over_cap, n_rows FROM audited
) t
"""


@query("dq_cross_field_rules", oracle=bare_tables(_CROSS_FIELD_SQL))
def dq_cross_field_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-FIELD consistency audit — the DQ layer between the per-column
    expectation suite (dq_expectations_suite: type/range/set checks one
    column at a time) and the aggregate reconciliation
    (dq_reconcile_order_totals): each rule is a predicate over MULTIPLE
    fields of one logical row (ship date vs its order's date; discount
    and tax vs policy caps; quantity vs the order-size cap), reported as
    violation counts and floor-scaled basis-point rates.  These are the
    "impossible row" checks that catch timezone bugs, unit confusions,
    and policy drift — none of which a single-column profile can see.

    Exactness: predicates compare raw stored values; rates are integer
    cross-multiplied (n·10000 // total).

    Scale: ONE pass over the join (all four rules fold in the same
    aggregate — adding a rule costs a column, not a scan); the join is
    the orderkey equi-join every TPC-H query already shuffles on, and
    at 100 TB rides the same bucketing.  Output is |rules| rows."""
    return spark.sql(
        _CROSS_FIELD_SQL.replace("//", "DIV"),
        lineitem=load_table(spark, sf_dir, "lineitem"),
        orders=load_table(spark, sf_dir, "orders"),
    )


_DISTINCT_PROFILE_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS d_returnflag,
       CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS d_linestatus,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS d_partkey,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS d_suppkey,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS d_orderkey
FROM {lineitem}
"""


@query("profile_distinct_counts", oracle=bare_tables(_DISTINCT_PROFILE_SQL))
def profile_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column EXACT cardinality profile in one statement — the
    first question against any new table (which columns are enums,
    which are keys, which are degenerate) answered for five lineitem
    columns at once.  Complements profile_key_skew (per-key frequency
    shape for ONE column) and agg_approx_distinct (the sketch tier):
    this is the exact multi-column census.

    Scale: Spark plans N simultaneous COUNT(DISTINCT) via Expand — one
    scan multiplied N ways then aggregated, trading memory for a single
    pass; at 100 TB with high-cardinality columns the documented swap is
    one approx_count_distinct pass (agg_approx_distinct) or per-column
    jobs.  The plan is still one shuffle round, no joins."""
    return spark.sql(
        _DISTINCT_PROFILE_SQL,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


def _psi_closing(src: str) -> str:
    """PSI + Jensen-Shannon closing over a bin-count relation
    (bin, c1, c2): Laplace-smoothed proportions p=(c1+1)/(N1+B),
    q=(c2+1)/(N2+B); each per-bin ln-term is ONE double chain over
    exact integers rounded to DECIMAL(28,9) BEFORE the cross-bin sum
    (the G-test/Bartlett LN discipline — raw double sums are
    order-sensitive and banned), so the fold is exact decimal and the
    rescale is shared text.  JSD uses ln, reported in NATS."""
    p = (
        f"((CAST(c1 AS DOUBLE) + 1e0)"
        f" / (CAST((SELECT SUM(c1) FROM {src}) AS DOUBLE)"
        f"    + CAST((SELECT COUNT(*) FROM {src}) AS DOUBLE)))"
    )
    q = (
        f"((CAST(c2 AS DOUBLE) + 1e0)"
        f" / (CAST((SELECT SUM(c2) FROM {src}) AS DOUBLE)"
        f"    + CAST((SELECT COUNT(*) FROM {src}) AS DOUBLE)))"
    )
    return f"""
SELECT CAST((SELECT SUM(c1) FROM {src}) AS BIGINT) AS n_baseline,
       CAST((SELECT SUM(c2) FROM {src}) AS BIGINT) AS n_current,
       CAST((SELECT COUNT(*) FROM {src}) AS BIGINT) AS n_bins,
       CAST(SUM(CAST(ROUND(({p} - {q}) * LN({p} / {q}), 9)
                     AS DECIMAL(28,9))) AS DOUBLE) AS psi,
       CAST(SUM(CAST(ROUND(0.5e0 * {p} * LN(2e0 * {p} / ({p} + {q}))
                           + 0.5e0 * {q} * LN(2e0 * {q} / ({p} + {q})),
                           9) AS DECIMAL(28,9))) AS DOUBLE) AS jsd_nats
FROM {src}
"""


_PSI_ORACLE = f"""
WITH halves AS (
    SELECT CASE WHEN o_orderdate < (SELECT MIN(o_orderdate)
                                    + (MAX(o_orderdate) - MIN(o_orderdate)) / 2
                                    FROM orders)
                THEN 0 ELSE 1 END AS half,
           CAST(FLOOR(o_totalprice / {_DRIFT_BIN}) AS BIGINT) AS bin
    FROM orders
), counts AS (
    SELECT bin,
           CAST(COUNT(*) FILTER (WHERE half = 0) AS BIGINT) AS c1,
           CAST(COUNT(*) FILTER (WHERE half = 1) AS BIGINT) AS c2
    FROM halves GROUP BY bin
)
{_psi_closing("counts")}"""


@query("dq_psi_jsd_value_drift", oracle=_PSI_ORACLE)
def dq_psi_jsd_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI and Jensen-Shannon divergence between the two data epochs —
    the two drift metrics ML-monitoring dashboards actually alert on
    (PSI with its 0.1/0.25 industry fences; JSD as the bounded,
    symmetric alternative), completing the drift family beside
    dq_distribution_drift's total variation: TV is the exact-integer
    tier, PSI/JSD the log-scoring tier that weights tail bins TV
    under-counts.  Same epochs, same fixed-width bins as the TV
    operator, so the three numbers are directly comparable on one
    dashboard.

    Determinism: bins are Laplace-smoothed (+1 per bin — the standard
    zero-bin fence, making every log argument a strictly positive
    exact rational); each per-bin term is one shared double chain over
    exact integers ROUNDED to DECIMAL(28,9) before the cross-bin sum —
    the Bartlett/G-test LN discipline (engines may differ in ln's last
    ulp; the fixed-scale rounding absorbs it except on rounding-
    boundary knife edges, the accepted trade of that family).  The
    closing text is literally shared between the oracle and the
    Spark-built bin table, bound as the query's input.

    Scale: one scan building both histograms map-side (conditional
    counts per bin), then a |bins|-sized fold — same posture as the TV
    drift operator."""
    o = load_table(spark, sf_dir, "orders")
    mid = F.broadcast(
        o.agg(
            (
                F.min("o_orderdate")
                + (F.max("o_orderdate") - F.min("o_orderdate")) / 2
            ).alias("mid")
        )
    )
    counts = (
        o.crossJoin(mid)
        .select(
            F.when(F.col("o_orderdate") < F.col("mid"), 0)
            .otherwise(1)
            .alias("half"),
            F.floor(F.col("o_totalprice") / _DRIFT_BIN).cast("long").alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
            .cast("long")
            .alias("c1"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("long")
            .alias("c2"),
        )
    )
    return spark.sql(_psi_closing("{counts}"), counts=counts)


def _format_conf_sql(idiv: str) -> str:
    """Shared format-conformance text; integer-division spelling per
    dialect (Spark CAST(double AS BIGINT) truncates where DuckDB
    rounds — the documented cross-engine trap)."""
    return f"""
WITH raw AS (
    -- the fixture carries no phone column; synthesize the canonical
    -- CC-NNN-NNN-NNNN value deterministically from the key (the
    -- text_instruction_format_screen missing-modality convention) so
    -- the FORMAT check runs against a real population on both engines
    SELECT c_custkey, c_nationkey,
           CONCAT(CAST(10 + c_custkey % 25 AS STRING), '-',
                  LPAD(CAST(c_custkey % 1000 AS STRING), 3, '0'), '-',
                  LPAD(CAST((c_custkey * 7) % 1000 AS STRING), 3, '0'), '-',
                  LPAD(CAST((c_custkey * 13) % 10000 AS STRING), 4, '0'))
               AS phone
    FROM {{customer}}
), phones AS (
    -- planted corruption (the dq_sequence_gaps discipline): every 97th
    -- customer's phone arrives REVERSED — same deterministic filter on
    -- both engines, so the detector's recall is exactly checkable
    SELECT c_nationkey,
           CASE WHEN c_custkey % 97 = 0 THEN REVERSE(phone)
                ELSE phone END AS ph
    FROM raw
), checked AS (
    SELECT c_nationkey,
           CASE WHEN LENGTH(ph) = 15
                     AND SUBSTRING(ph, 3, 1) = '-'
                     AND SUBSTRING(ph, 7, 1) = '-'
                     AND SUBSTRING(ph, 11, 1) = '-'
                     AND TRANSLATE(ph, '0123456789', '') = '---'
                THEN 1 ELSE 0 END AS ok
    FROM phones
)
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(1 - ok) AS BIGINT) AS n_violations,
       CAST(SUM(ok) * 1000000 {idiv} COUNT(*) AS BIGINT) AS conformance_ppm
FROM checked GROUP BY c_nationkey
"""


_FORMAT_CONF_ORACLE = _format_conf_sql("//")


@query("dq_format_conformance", oracle=bare_tables(_FORMAT_CONF_ORACLE))
def dq_format_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-conformance audit for a structured string column — the
    per-nation share of phone numbers matching the CC-NNN-NNN-NNNN
    contract (synthesized deterministically from the key — the fixture
    carries no phone column; the missing-modality convention), with
    planted reversed-phone corruption the detector must
    catch exactly (a fixture whose violations are all zero certifies
    nothing — the dq_sequence_gaps planted-loss discipline).  The
    missing member of the DQ shape family beside null/unique/accepted-
    values (dq_expectations_suite) and k-anonymity: most ingest bugs
    corrupt FORMAT before they corrupt values.

    The check is PORTABLE string arithmetic (LENGTH + positional
    SUBSTRING + TRANSLATE strip-digits), not a regex — the
    text_code_detection_screen lesson: regex flag/class dialects
    differ between engines, LENGTH/TRANSLATE do not.  Integer-exact
    counts; the ppm is explicit integer floor division (DIV / //), the
    dialect-stable spelling.

    Scale: one scan, one map-side-combinable (nation) rollup — 25-row
    output.  No window, no join."""
    return spark.sql(
        _format_conf_sql("DIV"),
        customer=load_table(spark, sf_dir, "customer"),
    )
