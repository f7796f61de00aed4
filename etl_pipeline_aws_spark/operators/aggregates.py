"""Aggregation operators (SURVEY.md §2.B "Aggregation"): grouped and global
aggregates, count-distinct (exact + approx), HAVING, rollup/cube/grouping
sets, percentiles/median, moment statistics, min_by/max_by, collect_list,
pivot.

Scale posture: every groupBy below benefits from Spark's partial aggregation
(map-side combine) — the shuffle carries pre-aggregated partials, not rows.
Determinism rules for the oracle (functions/numeric.py): double sums via
exact decimals; variance/corr computed from exact decimal power sums with an
explicit double formula instead of the engines' (order-sensitive) built-in
accumulators; collect_list sorted + joined to a string so multiset order
cannot leak into the comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_aws_spark.catalog import bare_tables, load_table
from etl_pipeline_aws_spark.functions.numeric import davg, dec, dsum
from etl_pipeline_aws_spark.registry import query, rows_only_query


@query(
    "agg_grouped_basic",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o_totalprice)
               AS avg_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_grouped_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        davg("o_totalprice").alias("avg_price"),
    )


@query(
    "agg_global",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           MIN(l_shipdate) AS first_ship,
           MAX(l_shipdate) AS last_ship
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-key) aggregate: Spark plans a two-stage partial/final agg
    collapsing to a single row — no full-table shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        dsum("l_quantity").alias("total_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(DISTINCT l_partkey) AS n_parts
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column count-distinct: Spark expands to two shuffles
    (expand + final) — the price of exactness; see agg_approx_distinct for
    the 100 TB-friendly single-pass sketch."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS within_2pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct: one pass, fixed memory, the only
    viable distinct-count at 100 TB.  DuckDB's sketch is a different
    algorithm, so the raw estimate can't be value-hashed; instead the
    query itself PINS the error bound — ``within_2pct`` compares the
    sketch against the exact twin computed in the same aggregation, and
    the oracle asserts that claim (plus the exact counts) as values."""
    li = load_table(spark, sf_dir, "lineitem")
    approx = F.approx_count_distinct("l_partkey", 0.01)
    exact = F.countDistinct("l_partkey")
    return li.groupBy("l_returnflag").agg(
        exact.alias("exact_parts"),
        (
            F.abs(approx.cast("double") - exact.cast("double")) / exact.cast("double")
            < 0.02
        ).alias("within_2pct"),
    )


@query(
    "agg_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 3
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 3)
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals; rolled-up levels surface as NULL keys in both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity").alias("sum_qty"),
    )


@query(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via spark.sql — DataFrame API has no direct
    grouping-sets builder; the SQL route produces the identical plan.
    The lineitem input is bound for this call only, so a query built at
    another sf_dir can never leave it reading stale data."""
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@query(
    "agg_median",
    oracle="""
    SELECT l_returnflag,
           CAST(MEDIAN(l_quantity) AS DOUBLE) AS median_qty,
           CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE) AS p25_qty,
           CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE) AS p75_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median/quartiles over l_quantity (whole numbers, so the linear
    interpolation a + 0.5*(b-a) is exactly representable and both engines
    agree bit-for-bit).  At 100 TB use percentile_approx instead — exact
    percentile requires a per-group sort."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("median_qty"),
        F.percentile("l_quantity", F.lit(0.25)).alias("p25_qty"),
        F.percentile("l_quantity", F.lit(0.75)).alias("p75_qty"),
    )


@query(
    "agg_percentile_approx",
    oracle="""
    SELECT l_returnflag, TRUE AS within_1pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch approximate percentiles — single pass, mergeable, the
    scale path.  Sketch internals differ from DuckDB's, so the raw
    estimate can't be value-hashed; the query pins the error bound
    instead: ``within_1pct`` compares the sketch median against the exact
    median computed in the same aggregation, and the oracle asserts that
    claim per group."""
    li = load_table(spark, sf_dir, "lineitem")
    approx = F.percentile_approx("l_extendedprice", 0.5, 10000)
    exact = F.median("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        (F.abs(approx - exact) / exact < 0.01).alias("within_1pct"),
    )


@query(
    "agg_variance_stats",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s2,
           (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
            - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
           / (COUNT(*) - 1) AS var_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_variance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance from exact decimal power sums (s1, s2) + an explicit
    double formula.  The built-in stddev/variance accumulators are
    order-sensitive in double and cannot hash-match across engines; the
    power-sum formulation is deterministic AND single-pass/mergeable — the
    same shape a 1000-executor partial aggregation produces."""
    li = load_table(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    s1 = F.sum(dec("l_quantity")).cast("double")
    s2 = F.sum(dec("l_quantity") * dec("l_quantity")).cast("double")
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        s1.alias("s1"),
        s2.alias("s2"),
        ((s2 - s1 * s1 / n) / (n - F.lit(1))).alias("var_qty"),
    )


@query(
    "agg_builtin_moments",
    oracle="""
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_quantity), 6) AS stddev_qty,
           ROUND(VAR_SAMP(l_quantity), 6) AS var_qty,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_builtin_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in stddev/variance/corr surface.  The accumulators are
    order-sensitive in double (partial-aggregation merge order differs
    between engines), so the last few ulps can't hash-match; both sides
    round to 6 decimals — far above the ~1e-9 relative wobble, far below
    anything a caller reads — to make the VALUES comparable.  The exact
    decimal power-sum twin (agg_variance_stats) remains the bit-identical
    formulation."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev("l_quantity"), 6).alias("stddev_qty"),
        F.round(F.variance("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
    )


@query(
    "agg_min_by_max_by",
    oracle="""
    SELECT o_custkey,
           MIN_BY(o_orderkey, o_orderkey) AS first_orderkey,
           MIN_BY(o_totalprice, o_orderkey) AS first_order_price,
           MAX_BY(o_totalprice, o_orderkey) AS last_order_price
    FROM orders
    GROUP BY o_custkey
    """,
)
def agg_min_by_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last-style selection made deterministic: ordered by the unique
    o_orderkey instead of Spark's nondeterministic first()/last()."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.min_by("o_orderkey", "o_orderkey").alias("first_orderkey"),
        F.min_by("o_totalprice", "o_orderkey").alias("first_order_price"),
        F.max_by("o_totalprice", "o_orderkey").alias("last_order_price"),
    )


@query(
    "agg_collect_list",
    oracle="""
    SELECT n.n_regionkey,
           array_to_string(list_sort(list(n.n_name)), ',') AS nations_sorted,
           array_to_string(list_sort(list(DISTINCT n.n_regionkey + 0)), ',') AS keys_distinct
    FROM nation n
    GROUP BY n.n_regionkey
    """,
)
def agg_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list/collect_set surfaced as sorted joined strings — the
    collection order is partition-arrival order (nondeterministic), so the
    canonical form sorts before comparing."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations_sorted"),
        F.array_join(
            F.sort_array(F.collect_set((F.col("n_regionkey") + 0).cast("string"))), ","
        ).alias("keys_distinct"),
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS qty_o,
           CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS qty_f
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list — at scale always pass the list so
    Spark skips the extra distinct-values job."""
    li = load_table(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(dec("l_quantity")))
    )
    return piv.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0)).cast("double").alias("qty_o"),
        F.coalesce(F.col("F"), F.lit(0)).cast("double").alias("qty_f"),
    )


@query(
    "agg_hll_sketch_rollup",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, TRUE AS within_5pct
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__' AS event_type, COUNT(DISTINCT user_id), TRUE
    FROM events
    ORDER BY event_type
    """,
)
def agg_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch rollup (Apache DataSketches via Spark 4
    ``hll_sketch_agg`` / ``hll_union_agg``): per-event-type distinct-user
    sketches, then a global estimate obtained by UNIONING THE SKETCHES —
    never re-touching the raw data.  This is the pre-aggregation pattern
    that makes distinct counts tractable at 100 TB: materialize per-
    partition sketch tables once (bytes per partition, not rows), answer
    any rollup by sketch union.  Unlike approx_count_distinct's opaque
    intermediate, these sketches are storable binary columns mergeable
    across jobs and days.  The DataSketches estimate itself can't be
    value-hashed cross-engine, so the query pins the claim instead:
    ``within_5pct`` compares each estimate (including the sketch-union
    global) against the exact distinct count, and the oracle asserts it
    per row alongside the exact counts.  The exact twins ride the same
    aggregations; the 1×1 cross join for the global row is scale-free."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    est = F.hll_sketch_estimate("sk")
    within = (
        F.abs(est.cast("double") - F.col("exact_users").cast("double"))
        / F.col("exact_users").cast("double")
        < 0.05
    )
    per_type_rows = per_type.select("event_type", "exact_users", within.alias("within_5pct"))
    sk_all = per_type.agg(F.hll_union_agg("sk").alias("sk"))
    exact_all = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    global_row = sk_all.crossJoin(exact_all).select(
        F.lit("__all__").alias("event_type"), "exact_users", within.alias("within_5pct")
    )
    return per_type_rows.unionByName(global_row).orderBy("event_type")


_DECILES = [round(0.1 * i, 1) for i in range(1, 10)]


@query(
    "feature_quantile_binning",
    oracle=f"""
    WITH b AS (
        SELECT {", ".join(f"quantile_disc(o_totalprice, {q}) AS b{i}"
                          for i, q in enumerate(_DECILES))}
        FROM orders
    )
    SELECT 1 {" ".join(f"+ CAST(o_totalprice > b{i} AS INT)"
                       for i in range(len(_DECILES)))} AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM orders, b
    GROUP BY 1
    """,
)
def feature_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile feature discretization (decile binning) — the
    feature-engineering step that turns a continuous column into 10
    equal-population ordinal bins, scale-correctly: boundaries are
    discrete picks (the smallest value whose cumulative fraction
    reaches q — PERCENTILE_DISC semantics, so both engines select an
    identical DATA value, no interpolation ulp risk), ride a single-row
    broadcast, and bin assignment is a pure scalar expression.  No
    global sort, no ntile window over a single partition — the
    formulation that survives 100 TB where ``ntile(10) OVER (ORDER BY
    x)`` cannot.  Bin populations differ from exactly-10% only by
    boundary ties, which both engines resolve identically by the >
    comparison against the same boundary value.

    r12 (guide §2.3/§5): the former spelling ran NINE
    ``percentile_disc`` aggregates — each buffering its own
    value→count map of the whole column in one final reducer (nine
    redundant maps, and a single-reducer memory footprint that grows
    with the column's distinct count at 100 TB).  Boundaries now come
    from one (value, count) histogram pushed through the two-phase
    ranked_prefix_sum library (every stage parallel, driver holds only
    the n_ranges-row offsets): boundary_i = MIN(value WHERE
    cum_count/n >= q_i) — the same smallest-value-reaching-q pick,
    verified value-identical to the percentile_disc spelling at all 3
    fixture SFs and to the DuckDB quantile_disc oracle.  Measured
    3.4 → 1.7 s warm at sf0.1."""
    from etl_pipeline_aws_spark.functions.prefix import disc_quantile_bounds

    o = load_table(spark, sf_dir, "orders")
    bounds = F.broadcast(disc_quantile_bounds(o, "o_totalprice", _DECILES))
    bin_expr = F.lit(1)
    for i in range(len(_DECILES)):
        bin_expr = bin_expr + F.when(
            F.col("o_totalprice") > F.col(f"b{i}"), 1
        ).otherwise(0)
    return (
        o.crossJoin(bounds)
        .select(bin_expr.alias("bin"), "o_totalprice")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@rows_only_query("agg_hll_sliding_distinct")
def agg_hll_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day from DAILY HLL SKETCHES only
    — the sliding-window answer to the one aggregate a rollup lattice
    cannot sum: distinct counts don't add, but their sketches union.
    Day sketches are built once (the stored rollup state, bytes per
    day); each sketch is then exploded onto the <= 7 anchor days it
    contributes to and the trailing union becomes an EQUI group-by —
    never re-reading events, never a range self-join.

    No SQL oracle by design (HLL estimates are approximate);
    tests/test_aggregates.py pins every day's estimate within 5% of the
    exact trailing distinct count, and agg_sliding_distinct_exact is the
    oracle-backed exact twin certifying the window semantics.  At 100 TB: the union stage touches
    |days| x 7 sketch rows (KBs), so a year of sliding uniques over
    billions of users costs megabytes of sketch I/O — the entire point
    of mergeable sketch state."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
    # Each day's sketch CONTRIBUTES to its own and the next 6 anchor days:
    # explode onto those anchors and the windowing becomes an EQUI
    # group-by — the same explode-to-equi rewrite as range_join_binned,
    # replacing the naive range self-join (a cartesian over the day
    # spine) with a 7x replication of KB-sized sketch rows.
    contrib = daily.select(
        F.explode(
            F.expr("sequence(day, date_add(day, 6))")
        ).alias("anchor_day"),
        "sk",
    )
    spine = daily.select(F.col("day").alias("anchor_day"))
    return (
        contrib.join(spine, "anchor_day")  # keep only anchors that exist
        .groupBy("anchor_day")
        .agg(F.hll_union_agg("sk").alias("sk"))
        .select(
            "anchor_day",
            F.hll_sketch_estimate("sk").alias("approx_trailing_users"),
        )
    )


@query(
    "agg_sliding_distinct_exact",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), spine AS (
        SELECT DISTINCT day FROM du
    )
    SELECT s.day AS anchor_day,
           CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS trailing_users
    FROM spine s
    JOIN du ON du.day BETWEEN s.day - 6 AND s.day
    GROUP BY s.day
    """,
)
def agg_sliding_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-7-day distinct users per day — the oracle-backed
    twin of agg_hll_sliding_distinct (which answers the same question
    from mergeable HLL sketches and is rows-only by design because HLL
    estimates aren't hash-matchable).  This tier pays the exact cost so
    the sliding-distinct SEMANTICS have a value-certified pin.

    Same explode-to-equi rewrite as the sketch tier: the (user, day)
    DISTINCT pairs (one shuffle, map-side combined) each contribute to
    their own and the next 6 anchor days, so the trailing window becomes
    an EQUI group-by on anchor_day — never a range self-join over the
    day spine.  Cost is a 7x replication of (day, user) key rows, then
    one countDistinct shuffle; at 100 TB the replication factor stays 7
    regardless of corpus size, and the sketch twin takes over when
    per-day user cardinality makes exact distinct state too large.

    The oracle runs the naive range join — tractable at fixture scale —
    certifying the explode rewrite reproduces BETWEEN-semantics exactly."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"), "user_id"
    ).distinct()
    contrib = du.select(
        F.explode(F.expr("sequence(day, date_add(day, 6))")).alias("anchor_day"),
        "user_id",
    )
    spine = du.select(F.col("day").alias("anchor_day")).distinct()
    return (
        contrib.join(spine, "anchor_day")
        .groupBy("anchor_day")
        .agg(F.countDistinct("user_id").cast("long").alias("trailing_users"))
    )


@query(
    "agg_bitmap_exact_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users
    FROM events
    GROUP BY event_type
    """,
)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting with mergeable state — the bitmap
    aggregate family (Spark 4): integer keys map to (bucket, bit)
    positions, per-bucket bitmaps OR together associatively, and the
    final count is the sum of per-bucket popcounts.  Unlike
    countDistinct (which must expand and reshuffle raw keys) the
    partial state is a fixed 4 KB bitmap per 32k-key bucket — storable,
    unionable, and exact, which is the HLL trade reversed: pay memory
    proportional to key-space density, get exactness back.

    Built as the two-level rollup a 100 TB run would persist:
    (group, bucket) bitmaps first (the stage table), then the
    per-group popcount sum.  The oracle is plain COUNT(DISTINCT) —
    bitmaps must match it exactly, not approximately."""
    ev = load_table(spark, sf_dir, "events")
    per_bucket = ev.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id)").alias("bkt")
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm")
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_distinct_users")
    )


@query(
    "agg_approx_top_k",
    oracle="""
    SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    ORDER BY n DESC, item
    LIMIT 3
    """,
)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the approx_top_k sketch (Spark 4): single-pass,
    bounded-memory top-k — at 100 TB the only way to ask "most frequent
    values" of a high-cardinality column without a full groupBy-sort.
    Here the tracked-item budget exceeds the type cardinality, so the
    sketch's counts are EXACT and the oracle can hold it to the true
    top-3 (the general case degrades gracefully to approximate counts;
    the sketch state stays mergeable either way).  The exploded
    (item, count) rows are re-sorted with a value tiebreak so sketch
    emission order can't leak into the comparison."""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.agg(F.expr("approx_top_k(event_type, 3)").alias("top"))
    return (
        sk.select(F.explode("top").alias("e"))
        .select(F.col("e.item").alias("item"), F.col("e.count").alias("n"))
        .orderBy(F.col("n").desc(), F.col("item"))
    )


@query(
    "agg_trimmed_mean",
    oracle="""
    WITH ranked AS (
        SELECT event_type, value,
               cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS cd
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS trimmed_mean
    FROM ranked
    WHERE cd > 0.05 AND cd <= 0.95
    GROUP BY event_type
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust central tendency: the 5%-trimmed mean per series — the
    outlier-resistant average a metrics page shows when bots and
    glitches pollute the tails.  The trim cut uses ``cume_dist`` (a
    VALUE-based rank: ties share one rank, so the kept set is a
    deterministic function of the data, never of sort order), and the
    mean over the kept rows is the exact-decimal-sum / count pattern.

    Exact-tier state note (same as agg_median): cume_dist sorts each
    series within its partition — fine for bounded series cardinality;
    a 100 TB single-series trim swaps in approx_percentile bounds for
    the cut points and keeps the same aggregation."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    ranked = ev.select(
        "event_type", "value", F.cume_dist().over(w).alias("cd")
    ).filter((F.col("cd") > 0.05) & (F.col("cd") <= 0.95))
    return ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("trimmed_mean"),
    )


@query(
    "agg_rollup_grouping_flags",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup_grouping_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtotal-level labeling with ``grouping()``: each rollup row
    carries explicit flags saying WHICH keys are aggregated away —
    the disambiguation a consumer needs because a NULL key value is
    otherwise indistinguishable from a NULL-keyed subtotal (the classic
    rollup-report bug).  Same Expand-based plan as agg_rollup; the
    flags are free metadata on rows the rollup already produces."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_first_events_per_user",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS rn
        FROM events
    )
    SELECT user_id,
           string_agg(event_id, ',' ORDER BY rn) AS first_event_ids
    FROM ranked WHERE rn <= 5
    GROUP BY user_id
    """,
)
def agg_first_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded ordered-list aggregation: each user's FIRST five event ids
    — the "sample of activity" column a user-profile table carries.
    The discipline is the order of operations: rank-prune FIRST
    (row_number <= 5, pruned by WindowGroupLimit inside the shuffle),
    THEN collect — so the list agg's state is capped at 5 elements per
    key by construction.  Collecting first and slicing after
    (slice(sort_array(collect_list(...)))) computes the same answer
    with UNBOUNDED per-key state — the trap the funnel rewrite removed,
    avoided here the same way.

    Output shape: the ordered list is emitted ``array_join``-ed to one
    comma-separated string (the engine-wide convention for list-valued
    results, see module docstring) — complex-typed result columns are
    not canonicalizer-sortable on the driver side."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        "user_id", "event_id", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 5)
    return ranked.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("rn", "event_id"))
        ).alias("_s")
    ).select(
        "user_id",
        F.array_join(
            F.expr("transform(_s, x -> x.event_id)"), ","
        ).alias("first_event_ids"),
    )


@query(
    "agg_boolean_family",
    oracle="""
    SELECT o_orderpriority,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderkey % 1000 = 0) AS any_millenial,
           CAST(MIN(o_orderkey) AS BIGINT) AS stable_pick
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_boolean_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boolean aggregate family: ``count_if`` (predicate counting
    without the WHEN boilerplate), ``bool_and``/``every`` (does the
    invariant hold for ALL rows in the group — the data-quality
    assertion form), ``bool_or``/``any`` (does any row trip the flag).
    All are plain partial-aggregatable functions — map-side combined
    like any sum.  ``any_value`` is deliberately NOT used for the
    sample column: it is non-deterministic by contract, so the
    deterministic pick is MIN — the substitution every oracle-checked
    (or just reproducible) pipeline should make."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderkey") % 1000 == 0).alias("any_millenial"),
        F.min("o_orderkey").alias("stable_pick"),
    )


@query(
    "agg_mode",
    oracle="""
    WITH counts AS (
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders GROUP BY 1, 2
    ), ranked AS (
        SELECT o_orderstatus, o_orderpriority, n,
               ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                  ORDER BY n DESC, o_orderpriority) AS rn
        FROM counts
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority, CAST(n AS BIGINT) AS n
    FROM ranked WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent value) with a DETERMINISTIC tie-break
    (smallest value wins).  Built as count → top-1 window rather than the
    engine's ``mode()`` aggregate, whose tie behavior is unspecified — an
    oracle-checked pipeline cannot ship an unspecified tie.

    Plan: one (group, value) count shuffle with map-side combine, then a
    rank-1 window over the tiny distinct table (WindowGroupLimit prunes to
    the top row per group without sorting whole partitions).  Cardinality
    entering the window is |groups × distinct values|, not |rows| — at
    100 TB the heavy reduction happened in the first agg."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(F.col("n").desc(), "o_orderpriority")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "n")
    )


QUANTILE_PS = (1, 4)  # discrete quantile positions: p = 1/4, 2/4, 3/4


@query(
    "agg_quantiles_exact",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag, l_quantity,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    )
    SELECT l_returnflag,
           MIN(CASE WHEN rn = (n - 1) // 4 + 1 THEN l_quantity END) AS q25,
           MIN(CASE WHEN rn = (n - 1) // 2 + 1 THEN l_quantity END) AS q50,
           MIN(CASE WHEN rn = 3 * (n - 1) // 4 + 1 THEN l_quantity END) AS q75
    FROM ranked
    GROUP BY l_returnflag
    """,
)
def agg_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DISCRETE quantiles (q25/q50/q75) per group: the reported
    value is an actual element — the one at rank ⌊(n-1)·p⌋+1 — never an
    interpolation.  Continuous percentile interpolates ``a + (b-a)·frac``
    whose float rounding is engine-specific; picking a real element keeps
    the answer exact on any engine (the same reason approx sketches
    return elements).  Rank ties are broken by the (orderkey, linenumber)
    primary key, so equal values cannot reorder between runs.

    Plan: one window sort per group partition + a group agg — the
    sort-per-group is the inherent cost of EXACT quantiles; the scale
    alternative (percentile_approx / KLL) is agg_percentile_approx."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity", "l_orderkey", "l_linenumber")
    wn = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_quantity",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    def at(num: int, den: int):
        target = (num * (F.col("n") - 1)) / den
        return F.min(F.when(F.col("rn") == F.floor(target) + 1, F.col("l_quantity")))
    return ranked.groupBy("l_returnflag").agg(
        at(1, 4).alias("q25"), at(1, 2).alias("q50"), at(3, 4).alias("q75")
    )


@query(
    "agg_mad_outliers",
    oracle="""
    WITH ranked AS (
        SELECT o_orderpriority, o_totalprice, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    ), med AS (
        SELECT o_orderpriority,
               MIN(CASE WHEN rn = (n - 1) // 2 + 1 THEN o_totalprice END) AS med
        FROM ranked GROUP BY 1
    ), dev AS (
        SELECT r.o_orderpriority, ABS(r.o_totalprice - m.med) AS dv, r.o_orderkey,
               m.med
        FROM ranked r JOIN med m USING (o_orderpriority)
    ), dranked AS (
        SELECT o_orderpriority, med, dv,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY dv, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM dev
    ), mad AS (
        SELECT o_orderpriority, MIN(med) AS med,
               MIN(CASE WHEN rn = (n - 1) // 2 + 1 THEN dv END) AS mad
        FROM dranked GROUP BY 1
    )
    SELECT d.o_orderpriority, m.med, m.mad,
           CAST(COUNT(CASE WHEN d.dv > 3 * m.mad THEN 1 END) AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM dev d JOIN mad m USING (o_orderpriority)
    GROUP BY 1, 2, 3
    """,
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation: per
    priority group, median order value (exact element, pk tie-break),
    MAD = median of |x - med| (again an exact element), and the count of
    orders farther than 3 MAD from the median.  MAD tolerates up to 50%
    contamination where stddev-based z-scores are dragged by the very
    outliers they hunt — the robust twin of events_anomaly_zscore.

    Determinism: both medians are REAL elements (no interpolation); the
    deviation |x - med| is one IEEE subtraction of the same two doubles
    on either engine, and 3*mad one multiply — bit-identical.

    Plan shape: two window-sort passes per group partition (the inherent
    cost of exact medians — the 100 TB tier swaps them for
    percentile_approx) + one broadcast-sized (5-row) medians join and a
    final map-side-combined group agg."""
    from pyspark.sql.window import Window

    od = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wn = Window.partitionBy("o_orderpriority")
    ranked = od.select(
        "o_orderpriority",
        "o_totalprice",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mid = F.floor((F.col("n") - 1) / 2) + 1
    med = ranked.groupBy("o_orderpriority").agg(
        F.min(F.when(F.col("rn") == mid, F.col("o_totalprice"))).alias("med")
    )
    dev = ranked.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        "med",
        F.abs(F.col("o_totalprice") - F.col("med")).alias("dv"),
        "o_orderkey",
    )
    dw = Window.partitionBy("o_orderpriority").orderBy("dv", "o_orderkey")
    dranked = dev.select(
        "o_orderpriority",
        "med",
        "dv",
        F.row_number().over(dw).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mad = dranked.groupBy("o_orderpriority").agg(
        F.min("med").alias("med"),
        F.min(F.when(F.col("rn") == mid, F.col("dv"))).alias("mad"),
    )
    return (
        dev.drop("med")
        .join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority", "med", "mad")
        .agg(
            F.count(F.when(F.col("dv") > 3 * F.col("mad"), F.lit(1)))
            .cast("long")
            .alias("n_outliers"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )


# Count-min sketch parameters: d independent universal hash rows over the
# Mersenne prime, w buckets each.  Constants are fixed (no runtime RNG) so
# both engines compute the identical sketch.
CMS_P = (1 << 31) - 1
CMS_W = 256
CMS_ROWS = ((1234567, 7654321), (2345678, 8765432), (3456789, 9876543), (4567890, 1098765))
CMS_TOP = 5


def _cms_bucket_sql(a: int, b: int) -> str:
    return f"(({a} * (user_id % {CMS_P}) + {b}) % {CMS_P}) % {CMS_W}"


def _cms_oracle() -> str:
    cells = " UNION ALL ".join(
        f"SELECT {i} AS row_id, {_cms_bucket_sql(a, b)} AS bucket, user_id FROM events"
        for i, (a, b) in enumerate(CMS_ROWS)
    )
    return f"""
    WITH cells AS ({cells}),
    sketch AS (
        SELECT row_id, bucket, CAST(COUNT(*) AS BIGINT) AS c
        FROM cells GROUP BY row_id, bucket
    ), freq AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_n FROM events GROUP BY user_id
    ), top AS (
        SELECT user_id, true_n FROM (
            SELECT user_id, true_n,
                   ROW_NUMBER() OVER (ORDER BY true_n DESC, user_id) AS rn
            FROM freq) WHERE rn <= {CMS_TOP}
    ), est AS (
        SELECT t.user_id, t.true_n, MIN(s.c) AS est_n
        FROM top t
        JOIN cells x ON x.user_id = t.user_id
        JOIN sketch s ON s.row_id = x.row_id AND s.bucket = x.bucket
        GROUP BY t.user_id, t.true_n
    )
    SELECT user_id, true_n, CAST(est_n AS BIGINT) AS est_n,
           CAST(est_n - true_n AS BIGINT) AS overestimate
    FROM est
    """


@query("agg_count_min_sketch", oracle=_cms_oracle())
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation, built from exact
    DataFrame primitives: d=4 universal-hash rows
    ((a·k + b) mod 2³¹−1 mod 256) bucket every event, the sketch is
    the (row, bucket) count table — O(d·w) cells regardless of key
    cardinality, mergeable by addition (the property HLL gives distincts,
    CMS gives FREQUENCIES).  The report queries the sketch for the 5
    true-heaviest users and shows est ≥ true (CMS never underestimates;
    the overestimate column IS the collision error, bounded by 2N/w with
    probability 1−2⁻ᵈ).

    Fixed integer hash constants mean both engines build the
    bit-identical sketch — unlike engine-native sketch binaries, every
    cell is oracle-checkable.  Plan: one explode(d) over a narrow scan →
    (row, bucket) rollup (the sketch), plus the true-count rollup and a
    {CMS_TOP}-row probe join — all map-side-combined key shuffles."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    cells = ev.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_id"),
                        (
                            (F.lit(a) * (F.col("user_id") % CMS_P) + F.lit(b)) % CMS_P
                            % CMS_W
                        ).alias("bucket"),
                    )
                    for i, (a, b) in enumerate(CMS_ROWS)
                ]
            )
        ).alias("cell"),
    ).select("user_id", "cell.row_id", "cell.bucket")
    sketch = cells.groupBy("row_id", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    freq = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("true_n"))
    # top-k selection as orderBy().limit() — TakeOrderedAndProject keeps
    # per-partition state at k rows (r9: the former row_number()-then-
    # filter spelling sorted every user through ONE window task; the rank
    # column was dropped anyway, so limit() is semantics-identical under
    # the deterministic tie-break)
    top = freq.orderBy(F.col("true_n").desc(), "user_id").limit(CMS_TOP)
    probe = top.join(cells.distinct(), "user_id").join(sketch, ["row_id", "bucket"])
    return (
        probe.groupBy("user_id", "true_n")
        .agg(F.min("c").alias("est_n"))
        .select(
            "user_id",
            "true_n",
            F.col("est_n").cast("long").alias("est_n"),
            (F.col("est_n") - F.col("true_n")).cast("long").alias("overestimate"),
        )
    )


_WEIGHTED_MEDIAN_ORACLE = """
    WITH per_price AS (
        SELECT l_returnflag, l_extendedprice AS price,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem GROUP BY 1, 2
    ), cum AS (
        SELECT l_returnflag, price, w,
               SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price
                   ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(w) OVER (PARTITION BY l_returnflag) AS tot
        FROM per_price
    )
    SELECT l_returnflag,
           MIN(price) FILTER (WHERE 2 * cw >= tot) AS weighted_median,
           CAST(MAX(tot) AS BIGINT) AS total_weight
    FROM cum GROUP BY l_returnflag
"""


def weighted_lower_median(
    df: DataFrame, group_col: str, value_col: str, weight_col: str
) -> DataFrame:
    """Reusable core of agg_weighted_median: per group, the MINIMUM value
    whose running weight (over distinct values, ascending) reaches half
    the total — integer/exact arithmetic only.  Returns (group,
    weighted_median, total_weight).  Property-tested against a Decimal
    ground truth in tests/test_properties.py."""
    from pyspark.sql.window import Window

    per_value = df.groupBy(
        F.col(group_col).alias("g"), F.col(value_col).alias("price")
    ).agg(F.sum(F.col(weight_col).cast("long")).alias("w"))
    wc = (
        Window.partitionBy("g")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("g")
    cum = per_value.select(
        "g",
        "price",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tot"),
    )
    return cum.groupBy("g").agg(
        F.min(F.when(2 * F.col("cw") >= F.col("tot"), F.col("price"))).alias(
            "weighted_median"
        ),
        F.max("tot").cast("long").alias("total_weight"),
    ).withColumnRenamed("g", group_col)


@query("agg_weighted_median", oracle=_WEIGHTED_MEDIAN_ORACLE)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (lower median convention): the price at
    which half the total QUANTITY sits at-or-below — the robust "typical
    unit price" that an unweighted median gets wrong whenever cheap items
    ship in bulk.  No engine has this as a builtin; the composition is
    the classic cumulative-weight construction:

    1. pre-aggregate weight per distinct value (this dedups ties, so the
       running sum never depends on intra-tie order — the determinism
       trap in naive formulations);
    2. one ordered window per group for the running weight;
    3. the answer is the MINIMUM value whose running weight reaches half
       the total (2*cw >= tot in integer arithmetic — no division, no
       floats until the selected value itself, which is an exact element,
       not an aggregate).

    Scale: the window runs over DISTINCT (group, value) pairs, not rows
    — the raw fact table is reduced by the per-price partial agg before
    any ordered operation, and each group's window sorts only its own
    distinct values."""
    li = load_table(spark, sf_dir, "lineitem")
    return weighted_lower_median(
        li, "l_returnflag", "l_extendedprice", "l_quantity"
    )


_GINI_ORACLE = """
    WITH ranked AS (
        SELECT o_orderpriority,
               CAST(o_totalprice AS DECIMAL(18,2)) AS x,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS i
        FROM orders
    ), sums AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(i * x) AS DOUBLE) AS six
        FROM ranked GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           (2.0 * six) / (n * sx) - (n + 1.0) / n AS gini
    FROM sums
"""


@query("agg_gini_coefficient", oracle=_GINI_ORACLE)
def agg_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of order value per priority class —
    the inequality metric concentration dashboards (revenue
    concentration, whale analysis) report, via the rank formula
    G = 2·Σ(i·x_i) / (n·Σx) − (n+1)/n over values sorted ascending.

    Exactness: ranks are integers with a pinned total order (value, then
    order key — ties broken identically in both engines), Σx and Σ(i·x)
    accumulate in exact decimal (i·x is an exact integer-scaled decimal
    product), and the final expression is the same three IEEE ops on
    identical operands.

    Scale: one rank window per (bounded-cardinality) priority class,
    then a partial-aggregated rollup — the shuffle carries decimal
    partials, not rows."""
    orders = load_table(spark, sf_dir, "orders")
    return gini_by_rank_formula(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey"
    )


def gini_by_rank_formula(
    df: DataFrame, group_col: str, value_col: str, tiebreak_col: str
) -> DataFrame:
    """Reusable core of agg_gini_coefficient: the rank-formula Gini per
    group over a pinned total order.  Property-tested against the
    definitional pairwise formula in tests/test_properties.py."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(value_col, tiebreak_col)
    ranked = df.select(
        group_col,
        dec(value_col).alias("x"),
        F.row_number().over(w).cast("long").alias("i"),
    )
    sums = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("i") * F.col("x")).cast("double").alias("six"),
    )
    return sums.select(
        group_col,
        "n",
        (
            (F.lit(2.0) * F.col("six")) / (F.col("n") * F.col("sx"))
            - (F.col("n") + F.lit(1.0)) / F.col("n")
        ).alias("gini"),
    )


@query(
    "agg_regression_builtins",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS x,
               COUNT(*) AS y
        FROM events GROUP BY 1
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               regr_avgx(y, x) AS mean_x, regr_avgy(y, x) AS mean_y
        FROM daily
    )
    SELECT n AS n_days, mean_x, mean_y,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
           (CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) AS intercept
    FROM s
    """,
)
def agg_regression_builtins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL:2016 linear-regression aggregate family over the daily
    event series — with a measured determinism finding worth the pin:
    regr_count/regr_avgx/regr_avgy ARE exactly reproducible cross-engine
    (integer inputs; their sums are exact in doubles in any order), but
    regr_slope/regr_intercept are NOT — both engines use mean-CENTERED
    internal accumulators whose per-partition centering order leaks
    ~1e-12 divergence even on integer data (measured Spark
    -0.0636262513905095 vs DuckDB -0.06362625139048617 on the fixture).
    So this query exercises the exactly-checkable builtins directly and
    pins slope/intercept through the EXPLICIT integer power-sum formula
    (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) — every sum an exact BIGINT, the
    final division one identical double op on both engines (the
    events_trend_slope discipline, which emits scaled integers; this
    emits the doubles).

    Scale: one map-side-combined daily rollup, then one 7-aggregate pass
    over the days-sized spine."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
        .select(F.datediff("day", F.lit("1970-01-01").cast("date")).alias("x"), "y")
    )
    s = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.regr_avgx("y", "x").alias("mean_x"),
        F.regr_avgy("y", "x").alias("mean_y"),
    )
    slope = F.expr(
        "cast(n * sxy - sx * sy as double) / cast(n * sxx - sx * sx as double)"
    )
    return s.select(
        F.col("n").alias("n_days"),
        "mean_x",
        "mean_y",
        slope.alias("slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("intercept"),
    )


# --------------------------------------------------------------------------
# agg_topk_plus_others — the reporting rollup: top-K rows + an OTHERS bucket
# --------------------------------------------------------------------------

TOPK_OTHERS_K = 3

_TOPK_OTHERS_SQL = f"""
WITH rev AS (
    SELECT n.n_name, c.c_custkey,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS rev_cents
    FROM {{orders}} o
    JOIN {{customer}} c ON c.c_custkey = o.o_custkey
    JOIN {{nation}} n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name, c.c_custkey
), ranked AS (
    SELECT n_name, c_custkey, rev_cents,
           ROW_NUMBER() OVER (PARTITION BY n_name
                              ORDER BY rev_cents DESC, c_custkey) AS rk
    FROM rev
)
SELECT n_name, CAST(rk AS BIGINT) AS rk,
       CAST(c_custkey AS BIGINT) AS c_custkey,
       rev_cents,
       CAST(1 AS BIGINT) AS n_customers
FROM ranked WHERE rk <= {TOPK_OTHERS_K}
UNION ALL
SELECT n_name, CAST(0 AS BIGINT) AS rk,
       CAST(NULL AS BIGINT) AS c_custkey,
       CAST(SUM(rev_cents) AS BIGINT) AS rev_cents,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM ranked WHERE rk > {TOPK_OTHERS_K}
GROUP BY n_name
"""


@query("agg_topk_plus_others", oracle=bare_tables(_TOPK_OTHERS_SQL))
def agg_topk_plus_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reporting rollup every dashboard ships: per nation, the top
    {TOPK_OTHERS_K} customers by revenue AS ROWS plus one aggregated
    OTHERS bucket (rk = 0) carrying the remaining revenue and customer
    count — so the page totals reconcile to the full fold without
    rendering thousands of rows.  window_topk_per_group keeps only the
    head; this keeps the head AND conserves the total (the
    reconciliation property dq_reconcile_order_totals audits
    elsewhere).

    Determinism: revenue folds to exact cents; rank ties break on
    custkey; the OTHERS bucket is an exact integer fold of the tail.

    Scale: one fact groupBy to |nation x customer| rows, one
    partitioned window over it (bounded per nation), and the tail
    re-aggregates map-side — the head/tail split reads the ranked
    table twice but both reads are |customers|-sized, never
    fact-sized."""
    return spark.sql(
        _TOPK_OTHERS_SQL,
        customer=load_table(spark, sf_dir, "customer"),
        nation=load_table(spark, sf_dir, "nation"),
        orders=load_table(spark, sf_dir, "orders"),
    )
