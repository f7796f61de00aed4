"""Window-function operators (SURVEY.md §2.B "Window functions"): ranking,
analytic (lag/lead/first/last), framed running aggregates, top-k per group.

Determinism: every window ORDER BY ends in a unique key (orderkey+linenumber
/ event_id) so ranking and frame contents are total-ordered — the rule from
SURVEY.md §7 stage 5.  Running double sums go through decimal (frame order
differs between engines' window implementations; exact decimals make order
irrelevant).

Scale: a window over partitionBy(k) shuffles once on k and sorts within
partitions — same cost shape as a groupBy on k.  Skewed partition keys hurt
exactly like skewed join keys; for heavy skew pre-aggregate or salt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_pipeline_aws_spark.catalog import bare_tables, load_table
from etl_pipeline_aws_spark.functions.numeric import dec
from etl_pipeline_aws_spark.registry import query


@query(
    "window_ranking",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile
    FROM lineitem
    WINDOW w AS (PARTITION BY l_returnflag
                 ORDER BY l_quantity DESC, l_orderkey, l_linenumber)
    """,
)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy(
        F.col("l_quantity").desc(), "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT event_id, user_id, value,
           LAG(value) OVER w AS prev_value,
           LEAD(value) OVER w AS next_value,
           LAG(value, 2, -1.0) OVER w AS prev2_or_default,
           CAST(EPOCH_US(ts - LAG(ts) OVER w) AS BIGINT) AS micros_since_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event deltas — lag/lead plus the time-since-previous-event
    pattern that feeds sessionization."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.lag("value", 2, -1.0).over(w).alias("prev2_or_default"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)).alias("micros_since_prev"),
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_spend,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
               AS moving_avg3
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running/moving framed aggregates; decimal inside the frame so both
    engines' frame-evaluation orders produce the identical exact value.
    Moving average = exact decimal frame-sum / frame-count divided as
    doubles (engines' built-in avg-over-decimal differ: Spark widens the
    decimal scale, DuckDB computes in floating point)."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double")
        .alias("running_spend"),
        (
            F.sum(dec("o_totalprice")).over(w.rowsBetween(-2, W.currentRow)).cast("double")
            / F.count(F.lit(1)).over(w.rowsBetween(-2, W.currentRow))
        ).alias("moving_avg3"),
    )


@query(
    "window_first_last_value",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_key,
           LAST_VALUE(o_orderkey) OVER w AS last_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last over an explicit full-partition frame (the default frame
    would make LAST_VALUE mean 'current row' — a classic trap both engines
    share)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(w).alias("last_key"),
    )


@query(
    "window_topk_per_group",
    oracle="""
    SELECT * FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                       ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rn
        FROM customer)
    WHERE rn <= 5
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: the window+filter pattern Catalyst rewrites into a
    per-partition top-k (WindowGroupLimit) — no full sort of each group."""
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return (
        cust.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )


@query(
    "window_percent_cume",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_percent_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-position analytics: percent_rank / cume_dist.  Total order
    (totalprice then unique orderkey) makes both fractions deterministic;
    the division (rank-1)/(n-1) is the same two integers on both engines,
    so the doubles are bit-identical."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice
               RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_within_10k_below,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice
               RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS sum_within_10k_below
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric ORDER BY: the frame is value-based
    (all peers within 10k below the current price), not row-count-based —
    ties share identical frames, so no unique-key tiebreak is needed.
    The framed sum goes through exact decimal (frame contents are a set;
    decimal addition is order-free)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-10000, W.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.count("*").over(w).cast("long").alias("n_within_10k_below"),
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("sum_within_10k_below"),
    )


@query(
    "window_time_range_rolling",
    oracle="""
    SELECT event_id, event_type, ts,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
               AS sum_last_hour
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def window_time_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-interval range frame: for every event, the count and exact
    decimal sum of its series' events in the trailing hour — the
    "requests in the last N minutes" rolling metric, expressed as a
    true event-time RANGE frame (peers with equal ts aggregate
    together; a ROWS frame cannot say that).

    One window pass per series, frame state bounded by the hour span —
    the engine evicts rows falling out of the range as the frame
    slides, so memory tracks the densest hour, not the partition.  SQL
    form because the interval-literal frame bound is the declaration
    Catalyst plans natively."""
    return spark.sql(
        """
        SELECT event_id, event_type, ts,
               COUNT(*) OVER w AS n_last_hour,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                   AS sum_last_hour
        FROM {events}
        WINDOW w AS (PARTITION BY event_type ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        """,
        events=load_table(spark, sf_dir, "events"),
    )


@query(
    "window_ratio_to_report",
    oracle="""
    WITH rev AS (
        SELECT n.n_regionkey AS regionkey, n.n_name AS nation_name,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS nation_rev
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    )
    SELECT nation_name, nation_rev,
           nation_rev / CAST(SUM(CAST(nation_rev AS DECIMAL(18,2)))
                                 OVER (PARTITION BY regionkey) AS DOUBLE)
               AS share_of_region
    FROM rev
    """,
)
def window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its REGION's revenue — the
    percent-of-parent column every drill-down table carries, expressed
    as a whole-partition window sum over the aggregated child rows (25
    nations; the window input is the aggregate, never the fact table).

    Share = exact-decimal nation revenue / exact-decimal regional window
    sum, both surfaced as doubles before ONE division — deterministic
    across engines.  The expensive work (fact join + agg) happens before
    the window, which then costs nothing at any scale because it runs
    on #nations rows."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_regionkey", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("nation_rev")
        )
    )
    w = W.partitionBy("n_regionkey")
    region_rev = F.sum(F.col("nation_rev").cast("decimal(18,2)")).over(w).cast("double")
    return rev.select(
        F.col("n_name").alias("nation_name"),
        "nation_rev",
        (F.col("nation_rev") / region_rev).alias("share_of_region"),
    )


@query(
    "window_topk_with_ties",
    oracle="""
    SELECT l_returnflag, l_orderkey, l_extendedprice
    FROM (
        SELECT l_returnflag, l_orderkey, l_extendedprice,
               RANK() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC) AS rk
        FROM lineitem)
    WHERE rk <= 3
    """,
)
def window_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group WITH TIES (``rank() <= k``): every row whose value
    ties a top-3 price is kept — the semantics ``row_number`` top-k
    (window_topk_per_group) silently violates when values repeat, and
    the difference auditors care about ("show all orders at the top
    three price points", not "three arbitrary orders").  Same
    WindowGroupLimit pushdown applies: rank-based limits prune inside
    the shuffle read, no full per-group sort materialization."""
    li = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy(F.col("l_extendedprice").desc())
    return (
        li.select("l_returnflag", "l_orderkey", "l_extendedprice")
        .withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
        .drop("rk")
    )


@query(
    "window_distinct_rolling",
    oracle="""
    SELECT user_id, event_id,
           CAST(COUNT(DISTINCT event_type)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS INT) AS distinct_types_last7
    FROM events
    """,
)
def window_distinct_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling DISTINCT count over a bounded frame: how many different
    event types each user touched across their last 7 events — the
    behavioral-diversity signal engagement models use.  Spark has no
    DISTINCT window aggregate, so the composition is
    ``size(collect_set(...))`` over the frame — exactly equivalent, and
    safe ONLY because the frame bounds the state at 7 rows (the same
    expression over an unbounded frame is the collect_list trap the
    funnel rewrite removed).  One window pass per user."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.size(F.collect_set("event_type").over(w)).alias("distinct_types_last7"),
    )


PRICE_BAND = 10_000  # trailing value-range width (price units)


@query(
    "window_numeric_range_frame",
    oracle=f"""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(COUNT(*) OVER (
               PARTITION BY o_orderpriority ORDER BY o_totalprice
               RANGE BETWEEN {PRICE_BAND} PRECEDING AND CURRENT ROW)
             AS BIGINT) AS n_in_band,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_orderpriority ORDER BY o_totalprice
               RANGE BETWEEN {PRICE_BAND} PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS band_total
    FROM orders
    WHERE o_orderkey < 3000
    """,
)
def window_numeric_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-based RANGE frame on a numeric ordering — for each order,
    how many peers in its priority class sit within the trailing
    {PRICE_BAND}-unit price band, and their exact total: the density /
    crowding question (price clustering, salary banding, percentile
    neighborhoods) that ROWS frames cannot express because the frame
    width is in the MEASURE's units, not in row counts.  Completes the
    frame-type coverage: ROWS (running/moving), time-interval RANGE
    (window_time_range_rolling), and now numeric RANGE.

    Determinism note: a RANGE frame includes ALL peers of the current
    value, so tied prices share identical frames regardless of tie
    order — no tie-break needed (the property that makes RANGE the
    audit-safe default over ROWS when duplicates exist).  The sum is an
    exact decimal (associative) surfaced as double.  Frame state is
    bounded by band density, not partition size."""
    od = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy("o_totalprice")
        .rangeBetween(-PRICE_BAND, 0)
    )
    return od.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.count(F.lit(1)).over(w).cast("long").alias("n_in_band"),
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("band_total"),
    )


@query(
    "window_nth_value",
    oracle="""
    SELECT o_custkey, o_orderkey,
           nth_value(o_totalprice, 2) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_order_price,
           nth_value(o_orderkey, 3) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS third_order_key
    FROM orders
    WHERE o_custkey < 500
    """,
)
def window_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value over the full partition frame — "the customer's SECOND
    order's price" / "third order's key" — the positional lookup that
    first/last can't express and self-joins express expensively.  The
    frame must be UNBOUNDED BOTH WAYS: with the default frame (up to
    current row) early rows can't see position n yet and get NULL — the
    classic nth_value trap, pinned here by the oracle (NULLs appear only
    for customers with fewer than n orders, identically in both
    engines).  Completes the ranking/positional family
    (row_number/rank/ntile/percent_rank/cume_dist/first/last/lag/lead).

    Scale: same single (key) shuffle-sort as every window in this
    module; both nth_values share one Window node."""
    from pyspark.sql.window import Window as W2

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 500)
    w = (
        W2.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W2.unboundedPreceding, W2.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.nth_value("o_totalprice", 2).over(w).alias("second_order_price"),
        F.nth_value("o_orderkey", 3).over(w).alias("third_order_key"),
    )


_RANGE_INTERVAL_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           SUM(CAST(value AS DECIMAL(18,2))) AS v
    FROM {events} GROUP BY event_type, CAST(ts AS DATE)
)
SELECT event_type, day,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_days_in_window,
       CAST(CAST(SUM(v) OVER w AS DECIMAL(28,2)) AS DOUBLE) AS trailing_7d_value
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day
             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
"""


@query("window_range_interval_frame", oracle=bare_tables(_RANGE_INTERVAL_SQL))
def window_range_interval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native RANGE-BETWEEN-INTERVAL window frame — the calendar-aware
    frame the ROWS family cannot express in one clause: the trailing
    7-day total per series where the frame boundary is a TIME span, so
    a calendar gap narrows the window (n_days_in_window exposes it)
    instead of silently stretching a 7-ROW frame across missing days.
    Completes the frame-clause surface (ROWS ✓ unbounded/sliding/
    preceding, GROUPS unsupported by Spark — documented, RANGE-interval
    here), and is the declarative twin of the explode-to-anchors
    rolling-median formulation (window_rolling_median_7d documents the
    same ROWS-vs-calendar distinction for order statistics, which RANGE
    frames cannot compute since percentile aggregates don't window).

    IDENTICAL SQL text on both engines — Spark 4 and DuckDB both accept
    the interval-bounded RANGE clause over a DATE ordering.  Exact
    decimal window sums (order-defined), exact counts; the decimal sum
    is SURFACED AS DOUBLE (module convention, see band_total above) so
    both engines hand the driver the same float64 dtype — a raw
    DECIMAL output canonicalizes as ``Decimal('25018.60')`` on the
    Spark side but ``25018.6`` through DuckDB's pandas bridge, a
    string-hash mismatch on identical values (r8 driver red).

    Scale: the frame runs on the (type, day) daily reduction —
    calendar-sized input partitioned on the series key; Spark's range
    frame is a sliding aggregate over the sorted partition, state
    bounded by the interval span."""
    return spark.sql(_RANGE_INTERVAL_SQL, events=load_table(spark, sf_dir, "events"))
