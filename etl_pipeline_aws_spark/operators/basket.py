"""Market-basket analysis — association rules over order baskets.

The classic retail-analytics shape the reference's warehouse columns can
express: baskets are orders, items are parts, and a rule ``a -> b`` is
scored by support / confidence / lift.  Complements graph.py (which turns
the same co-occurrence structure into PageRank / triangles) with the
*probabilistic rule* reading of it.

Determinism discipline: confidence and lift are emitted as scaled-integer
floor divisions (basis points / parts-per-million) — ``pair_n * 10000 div
sup_ante`` is exact on any engine, while a double division of two doubles
already rounded differently per engine is not.  All counts are BIGINT.

Scale posture: pair generation is the bounded within-basket self-join
(orders hold <= 7 lines => <= 21 pairs per order — the same boundedness
argument as graph.py's edge build); per-item supports and per-pair counts
are each one keyed shuffle; the global basket count joins as a single-row
broadcast (scale-independent).  Min-support pruning cuts the rule set
before the supports join, so the join probe carries only surviving pairs.
At 100 TB nothing here is quadratic in the catalog — work is linear in
lineitem with a constant fan-out.

Reference parity: the reference's engine (SURVEY.md §2.A R3) only maps and
filters records; this module is part of the mandated analytics surface
extension (SURVEY.md §2.B, BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_aws_spark.catalog import bare_tables, load_table
from etl_pipeline_aws_spark.operators.graph import co_occurrence_pairs
from etl_pipeline_aws_spark.registry import query

MB_MIN_PAIR = 3  # a rule needs >= 3 co-occurrences to be reported


MARKET_BASKET_ORACLE = f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), sup AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS s FROM items GROUP BY 1
    ), nb AS (
        SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM items
    ), pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS pn
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {MB_MIN_PAIR}
    ), rules AS (
        SELECT pa AS antecedent, pb AS consequent, pn FROM pairs
        UNION ALL
        SELECT pb AS antecedent, pa AS consequent, pn FROM pairs
    )
    SELECT r.antecedent, r.consequent, r.pn AS pair_n,
           sa.s AS sup_ante, sc.s AS sup_cons,
           CAST(r.pn * 10000 // sa.s AS BIGINT) AS conf_bp,
           CAST(r.pn * nb.n * 1000000 // (sa.s * sc.s) AS BIGINT) AS lift_ppm
    FROM rules r
    JOIN sup sa ON sa.l_partkey = r.antecedent
    JOIN sup sc ON sc.l_partkey = r.consequent
    CROSS JOIN nb
"""


@query("market_basket_rules", oracle=MARKET_BASKET_ORACLE)
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules a -> b over order baskets: support (pair count),
    confidence = P(b | a) in basis points, lift = P(a,b) / (P(a)P(b)) in
    parts-per-million — both as exact scaled-integer floor divisions.

    Plan shape: distinct (order, part) projection; bounded within-order
    self-join -> pair counts (one shuffle on the pair key, HAVING prunes
    low-support pairs map-side-combined); per-part supports (one keyed
    shuffle) joined twice onto the surviving rules; the global basket
    count enters as a single-row broadcast cross join."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    sup = items.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("s"))
    n_baskets = items.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n")
    )
    pairs = co_occurrence_pairs(li, MB_MIN_PAIR, distinct_items=True).select(
        "pa", "pb", F.col("n").cast("long").alias("pn")
    )
    rules = pairs.select(
        F.col("pa").alias("antecedent"), F.col("pb").alias("consequent"), "pn"
    ).unionByName(
        pairs.select(
            F.col("pb").alias("antecedent"), F.col("pa").alias("consequent"), "pn"
        )
    )
    sa = sup.select(F.col("l_partkey").alias("ka"), F.col("s").alias("sup_ante"))
    sc = sup.select(F.col("l_partkey").alias("kc"), F.col("s").alias("sup_cons"))
    return (
        rules.join(sa, F.col("antecedent") == F.col("ka"))
        .join(sc, F.col("consequent") == F.col("kc"))
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "antecedent",
            "consequent",
            F.col("pn").alias("pair_n"),
            "sup_ante",
            "sup_cons",
            F.expr("pn * 10000 div sup_ante").cast("long").alias("conf_bp"),
            F.expr("pn * n * 1000000 div (sup_ante * sup_cons)")
            .cast("long")
            .alias("lift_ppm"),
        )
    )


SIM_JACCARD_MIN_PPM = 100_000  # emit pairs with Jaccard >= 0.10
SIM_MAX_ITEM_CUSTOMERS = 40  # stop-item cutoff: skip parts half the base buys

_CUST_JACCARD_ORACLE = f"""
    WITH bought AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), item_pop AS (
        SELECT p, COUNT(*) AS n_cust FROM bought GROUP BY p
    ), posting AS (
        SELECT b.c, b.p FROM bought b JOIN item_pop i USING (p)
        WHERE i.n_cust <= {SIM_MAX_ITEM_CUSTOMERS}
    ), sizes AS (
        SELECT c, COUNT(*) AS sz FROM posting GROUP BY c
    ), inter AS (
        SELECT a.c AS cust_a, b.c AS cust_b, COUNT(*) AS n_common
        FROM posting a JOIN posting b ON a.p = b.p AND a.c < b.c
        GROUP BY a.c, b.c
    )
    SELECT cust_a, cust_b, n_common,
           CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON cust_a = sa.c
    JOIN sizes sb ON cust_b = sb.c
    WHERE n_common * 1000000 >= {SIM_JACCARD_MIN_PPM} * (sa.sz + sb.sz - n_common)
"""


@query("similarity_customers_jaccard", oracle=_CUST_JACCARD_ORACLE)
def similarity_customers_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-to-customer similarity on purchased-part SETS (Jaccard >=
    0.10) — collaborative-filtering candidate generation, the
    "customers like you" primitive.  Same posting-list discipline as
    text_cosine_pairs: the intersection join runs on (part -> customers)
    posting lists AFTER a stop-item cutoff removes parts bought by more
    than {SIM_MAX_ITEM_CUSTOMERS} customers — the hot items that would
    quadratically dominate the pair join while carrying no similarity
    signal (everyone buys them).  The threshold test is integer
    cross-multiplication; the emitted jaccard is one division of two
    exact ints.

    At 100 TB the posting join's fan-out is sum over kept items of
    |customers|² — bounded by the cutoff, tunable per run; the MinHash
    route (dedup.py) is the same problem's sketch tier when even pruned
    postings are too hot."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    bought = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    pop = bought.groupBy("p").agg(F.count(F.lit(1)).alias("n_cust"))
    posting = bought.join(
        pop.filter(F.col("n_cust") <= SIM_MAX_ITEM_CUSTOMERS).select("p"), "p"
    )
    sizes = posting.groupBy("c").agg(F.count(F.lit(1)).alias("sz"))
    a, b = posting.alias("a"), posting.alias("b")
    inter = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.c") < F.col("b.c")))
        .groupBy(F.col("a.c").alias("cust_a"), F.col("b.c").alias("cust_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("c").alias("cust_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("c").alias("cust_b"), F.col("sz").alias("szb"))
    union_sz = F.col("sza") + F.col("szb") - F.col("n_common")
    return (
        inter.join(sa, "cust_a")
        .join(sb, "cust_b")
        .filter(F.col("n_common") * 1_000_000 >= SIM_JACCARD_MIN_PPM * union_sz)
        .select(
            "cust_a",
            "cust_b",
            "n_common",
            (F.col("n_common").cast("double") / union_sz).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# basket_brand_transitions — next-order brand migration matrix
# --------------------------------------------------------------------------

_BRAND_TRANS_SQL = """
WITH ordered AS (
    SELECT o_custkey, o_orderkey,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS rn
    FROM {orders}
), items AS (
    SELECT DISTINCT o.o_custkey, o.rn, p.p_brand
    FROM ordered o
    JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
    JOIN {part} p ON p.p_partkey = l.l_partkey
), trans AS (
    SELECT DISTINCT a.o_custkey, a.p_brand AS brand_from,
           b.p_brand AS brand_to, a.rn
    FROM items a
    JOIN items b ON b.o_custkey = a.o_custkey AND b.rn = a.rn + 1
), counts AS (
    SELECT brand_from, brand_to, CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM trans GROUP BY brand_from, brand_to
), margins AS (
    SELECT brand_from, brand_to, n_transitions,
           SUM(n_transitions) OVER (PARTITION BY brand_from) AS from_total
    FROM counts
)
SELECT brand_from, brand_to, n_transitions,
       CAST(n_transitions * 1000000 {idiv} from_total AS BIGINT) AS share_ppm
FROM margins
"""


@query(
    "basket_brand_transitions",
    oracle=bare_tables(_BRAND_TRANS_SQL.replace("{idiv}", "//")),
)
def basket_brand_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-basket brand migration: for every customer's CONSECUTIVE
    order pair (ranked by date), which brands follow which — the
    (brand_from, brand_to) transition matrix with per-origin share.
    This is sequence mining at the catalog grain ("what do they buy
    NEXT"), the input to cross-sell timing and brand-loyalty reads;
    item-grain sequences are support-starved at any realistic
    catalog size, so the engine aggregates to the |brands|² matrix the
    way events_transition_matrix does for event types.

    Determinism: order ranking ties break on o_orderkey; transitions
    dedup to (customer, from, to, position) before counting so one
    basket pair cannot double-count a brand pair; shares are exact
    integer-division ppm over window margins.

    Scale: per-customer ranking is a partitioned window; the
    consecutive-pair join is an equi-join on (custkey, rn+1) — per
    transition cost is |basket|² at the BRAND grain (bounded by the
    25-brand catalog, not by basket size); the matrix is |brands)|²
    rows and its margin window runs on that bounded table."""
    return spark.sql(
        _BRAND_TRANS_SQL.replace("{idiv}", "DIV"),
        lineitem=load_table(spark, sf_dir, "lineitem"),
        orders=load_table(spark, sf_dir, "orders"),
        part=load_table(spark, sf_dir, "part"),
    )
