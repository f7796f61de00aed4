"""Upsert / slowly-changing-dimension merge — the warehouse maintenance
operator the reference's overwrite-only sink (glue/job.py:36 write to
``transformed/``) never needed, but any dimensional model built on this
engine does.

Spark has no MERGE INTO against plain Parquet (that's a table-format
feature), so the SCD2 merge is expressed as a single declarative pass:
each input row conditionally EXPANDS into its post-merge version rows via
``explode`` of a per-row array — zero shuffles, zero joins, pure narrow
map+generate, which scales embarrassingly (and beats the
full-outer-join formulation whenever updates are derivable or already
co-partitioned with the base)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_aws_spark.catalog import bare_tables, load_table
from etl_pipeline_aws_spark.registry import query

_EPOCH = "1990-01-01"
_NOW = "2026-01-01"
_FOREVER = "9999-12-31"


@query(
    "scd2_merge_orders",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS price,
           '{_EPOCH}' AS valid_from, '{_FOREVER}' AS valid_to,
           TRUE AS is_current
    FROM orders WHERE o_orderkey % 10 <> 0
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           '{_EPOCH}', '{_NOW}', FALSE
    FROM orders WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT o_orderkey, 'X', o_totalprice * CAST(1.1 AS DOUBLE),
           '{_NOW}', '{_FOREVER}', TRUE
    FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def scd2_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 merge: a deterministic update batch (every 10th order
    changes status to 'X' and reprices +10%) is merged into the orders
    dimension, closing the previous version (valid_to = merge date,
    is_current = false) and appending the new current version.

    One scan, one Generate: updated keys explode into [closed-old, new],
    untouched keys into [current] — no join, no shuffle.  The +10% is a
    double×double product, bit-identical across engines."""
    o = load_table(spark, sf_dir, "orders")

    def version(status, price, valid_from: str, valid_to: str, current: bool):
        return F.struct(
            status.alias("status"),
            price.alias("price"),
            F.lit(valid_from).alias("valid_from"),
            F.lit(valid_to).alias("valid_to"),
            F.lit(current).alias("is_current"),
        )

    updated = F.col("o_orderkey") % 10 == 0
    versions = F.when(
        updated,
        F.array(
            version(F.col("o_orderstatus"), F.col("o_totalprice"), _EPOCH, _NOW, False),
            version(F.lit("X"), F.col("o_totalprice") * 1.1, _NOW, _FOREVER, True),
        ),
    ).otherwise(
        F.array(
            version(F.col("o_orderstatus"), F.col("o_totalprice"), _EPOCH, _FOREVER, True)
        )
    )
    return o.select(
        "o_orderkey", F.explode(versions).alias("v")
    ).select("o_orderkey", "v.*")


@query(
    "cdc_apply_changelog",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, 0 AS seq, 'I' AS op,
               o_orderstatus AS status, o_totalprice AS price
        FROM orders
    ), changes AS (
        SELECT o_orderkey, 1 AS seq, 'U' AS op,
               'U' AS status, o_totalprice * CAST(1.05 AS DOUBLE) AS price
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, 2, 'D', CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
        FROM orders WHERE o_orderkey % 21 = 0
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC)
                      AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM changes)
    )
    SELECT o_orderkey, status, price, CAST(seq AS INT) AS version
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply: a keyed changelog of inserts / updates /
    deletes is folded onto a base snapshot by LAST-WRITER-WINS per key —
    the standard upsert-compaction a CDC consumer (Debezium-style feed,
    table-format merge-on-read) runs to materialize current state.

    The changelog is derived deterministically from orders so the oracle
    can replay it: every 7th key gets an update (seq 1: status 'U',
    +5% reprice), every 21st additionally a delete (seq 2) — so %21 keys
    vanish, %7-but-not-%21 keys surface the update, all others keep their
    base row.

    Plan: union base + changelog (narrow), ONE shuffle on the key for the
    row_number window, filter.  Per-key state is the single winning row —
    at 100 TB this is the same single-shuffle shape whether the changelog
    is 0.1% or 100% of the base, and it beats the join formulation
    whenever a key can carry several changelog entries (the window
    resolves seq ordering in the same pass that picks the winner)."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.lit(0).alias("seq"),
        F.lit("I").alias("op"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    updates = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
        F.lit("U").alias("status"),
        (F.col("o_totalprice") * F.lit(1.05)).alias("price"),
    )
    deletes = o.filter(F.col("o_orderkey") % 21 == 0).select(
        "o_orderkey",
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("double").alias("price"),
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.col("seq").desc())
    return (
        base.unionByName(updates)
        .unionByName(deletes)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("o_orderkey", "status", "price", F.col("seq").alias("version"))
    )


_SCD_SPLIT = "2024-01-15 00:00:00"


@query(
    "pit_temporal_dim_join",
    oracle=f"""
    WITH dim AS (
        SELECT c_custkey, c_mktsegment AS segment,
               TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
               CASE WHEN c_custkey % 10 = 0
                    THEN TIMESTAMP '{_SCD_SPLIT}'
                    ELSE TIMESTAMP '9999-12-31 00:00:00' END AS valid_to
        FROM customer
        UNION ALL
        SELECT c_custkey, 'MIGRATED',
               TIMESTAMP '{_SCD_SPLIT}',
               TIMESTAMP '9999-12-31 00:00:00'
        FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT d.segment,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events e
    JOIN dim d
      ON e.user_id = d.c_custkey
     AND e.ts >= d.valid_from AND e.ts < d.valid_to
    GROUP BY d.segment
    """,
)
def pit_temporal_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME dimension join — the feature-store operator that
    keeps training data leak-free: each event joins the SCD2 dimension
    version that was valid AT THE EVENT'S TIMESTAMP (validity-interval
    containment), never the current one.  Every 10th customer migrates
    segment mid-corpus, and events before/after the split genuinely
    resolve to different versions — joining "current state" here would
    backfill future knowledge into past events, the classic feature
    leakage.

    Plan shape: equi join on the entity key carries the work; the
    validity-range predicate is a residual on the matched (key,
    version) rows — a customer has few versions, so fan-out is bounded
    by version count, not table size.  At 100 TB both sides bucket on
    the key; the residual stays a per-row filter."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    split = F.lit(_SCD_SPLIT).cast("timestamp")
    far = F.lit("9999-12-31").cast("timestamp")
    epoch = F.lit("1990-01-01").cast("timestamp")
    migrated = F.col("c_custkey") % 10 == 0
    dim = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        epoch.alias("valid_from"),
        F.when(migrated, split).otherwise(far).alias("valid_to"),
    ).unionByName(
        cust.filter(migrated).select(
            "c_custkey",
            F.lit("MIGRATED").alias("segment"),
            split.alias("valid_from"),
            far.alias("valid_to"),
        )
    )
    return (
        ev.join(
            dim,
            (ev.user_id == dim.c_custkey)
            & (ev.ts >= dim.valid_from)
            & (ev.ts < dim.valid_to),
        )
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_TIME_TRAVEL_ORACLE = """
    WITH log AS (
        SELECT o_orderkey, 0 AS seq, 'I' AS op, o_orderstatus AS status,
               o_totalprice AS price
        FROM orders
        UNION ALL
        SELECT o_orderkey, 1, 'U', 'U', o_totalprice * CAST(1.05 AS DOUBLE)
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, 2, 'D', NULL, NULL
        FROM orders WHERE o_orderkey % 21 = 0
    ), winners AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey, version
                                     ORDER BY seq DESC) AS rn
        FROM (
            SELECT l.*, v.version
            FROM log l JOIN (VALUES (0), (1), (2)) AS v(version)
              ON l.seq <= v.version
        )
    )
    SELECT version, o_orderkey, status, price
    FROM winners
    WHERE rn = 1 AND op <> 'D'
"""


@query("cdc_time_travel", oracle=_TIME_TRAVEL_ORACLE)
def cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over a CDC log WITHOUT a table format: the state of
    the orders table AS OF each version (0 = initial load, 1 = after the
    update wave, 2 = after the delete wave), reconstructed from the same
    deterministic changelog cdc_apply_changelog folds — ``SELECT ... AS
    OF`` is just last-writer-wins with the log truncated at the asked
    version.

    The version fan-out is an explicit <=-join onto a 3-row version dim
    (replication factor = number of versions ASKED FOR, not log length);
    one key shuffle resolves every version's winner in a single window
    pass.  At 100 TB a table format (Iceberg/Delta) gives this via
    snapshot metadata without replay; this operator is the capability on
    PLAIN parquet logs — the audit answer to "what did the table say
    last Tuesday" when no format manages the files."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.lit(0).alias("seq"),
        F.lit("I").alias("op"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    updates = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
        F.lit("U").alias("status"),
        (F.col("o_totalprice") * F.lit(1.05)).alias("price"),
    )
    deletes = o.filter(F.col("o_orderkey") % 21 == 0).select(
        "o_orderkey",
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("double").alias("price"),
    )
    log = base.unionByName(updates).unionByName(deletes)
    versions = spark.range(3).select(F.col("id").cast("int").alias("version"))
    fanned = log.join(F.broadcast(versions), log.seq <= versions.version)
    w = Window.partitionBy("o_orderkey", "version").orderBy(F.col("seq").desc())
    return (
        fanned.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("version", "o_orderkey", "status", "price")
    )


_SCD1_ORACLE = """
    WITH upserts AS (
        -- the deterministic batch: every 10th key repriced +100 (update),
        -- plus brand-new keys above the current max (insert)
        SELECT o_orderkey AS k, o_totalprice + 100.0 AS price, 'U' AS src
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT (SELECT MAX(o_orderkey) FROM orders) + rn AS k,
               1000.0 * rn AS price, 'I' AS src
        FROM (SELECT unnest(range(1, 6)) AS rn)
    ), unioned AS (
        SELECT o_orderkey AS k, o_totalprice AS price, 0 AS pri, 'B' AS src
        FROM orders
        UNION ALL
        SELECT k, price, 1 AS pri, src FROM upserts
    ), latest AS (
        SELECT k, price, src,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY pri DESC) AS rn
        FROM unioned
    )
    SELECT k AS o_orderkey, price AS o_totalprice,
           src = 'U' AS was_updated,
           src = 'I' AS was_inserted
    FROM latest WHERE rn = 1
"""


@query("scd1_upsert_orders", oracle=_SCD1_ORACLE)
def scd1_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-1 upsert (MERGE ... WHEN MATCHED UPDATE / WHEN NOT
    MATCHED INSERT, without a table format): latest-wins per key over
    the union of base and batch, with provenance flags auditing what the
    merge DID — the overwrite-in-place complement of scd2_merge_orders'
    history-keeping form, and the semantics every warehouse MERGE
    statement compiles to.

    Plan: union + one key-window (priority desc) + rank-1 filter — the
    standard upsert-as-window rewrite, one shuffle on the merge key.
    Same discipline as cdc_apply_changelog but with a two-source
    priority instead of a change sequence; at 100 TB the window
    partitions by the merge key so AQE handles batch/base skew.

    Determinism: the batch is derived from the base (every 10th key
    repriced by an exact +100.0; five synthetic insert keys above
    MAX(key)), so both engines build the identical batch."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    max_key = F.broadcast(o.agg(F.max("o_orderkey").alias("mk")))
    updates = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            (F.col("o_totalprice") + 100.0).alias("price"),
            F.lit(1).alias("pri"),
            F.lit("U").alias("src"),
        )
    )
    inserts = (
        spark.range(1, 6)
        .crossJoin(max_key)
        .select(
            (F.col("mk") + F.col("id")).alias("k"),
            (F.lit(1000.0) * F.col("id")).alias("price"),
            F.lit(1).alias("pri"),
            F.lit("I").alias("src"),
        )
    )
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.lit(0).alias("pri"),
        F.lit("B").alias("src"),
    )
    unioned = base.unionByName(updates).unionByName(inserts)
    w = Window.partitionBy("k").orderBy(F.col("pri").desc())
    return (
        unioned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("k").alias("o_orderkey"),
            F.col("price").alias("o_totalprice"),
            (F.col("src") == "U").alias("was_updated"),
            (F.col("src") == "I").alias("was_inserted"),
        )
    )


BT_RESTATE_LAG_DAYS = 10  # corrections become KNOWN 10 days after order date
BT_K1 = "1998-01-01"  # mid-history knowledge date (fixture spans 1995..2001)
BT_K2 = "9999-12-31"  # "as currently known"


def _bitemporal_sql(explode_expr: str) -> str:
    """Shared bitemporal-restatement text; generator spelling per
    dialect."""
    return f"""
WITH log AS (
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS valid_date,
           CAST(o_orderdate AS DATE) AS known_date,
           0 AS seq,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price
    FROM {{orders}}
    UNION ALL
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE),
           CAST(o_orderdate AS DATE) + {BT_RESTATE_LAG_DAYS},
           1,
           CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2))
                      * CAST(1.05 AS DECIMAL(3,2)), 2) AS DECIMAL(18,2))
    FROM {{orders}} WHERE o_orderkey % 7 = 0
), fanned AS (
    SELECT l.*, k.kdate
    FROM log l, LATERAL (SELECT {explode_expr} AS kdate) k
    WHERE l.known_date <= k.kdate
), winners AS (
    SELECT kdate, o_orderkey, valid_date, price,
           ROW_NUMBER() OVER (PARTITION BY kdate, o_orderkey
                              ORDER BY seq DESC) AS rn
    FROM fanned
)
SELECT CAST(kdate AS DATE) AS knowledge_date,
       date_trunc('month', valid_date) AS order_month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(price) AS DECIMAL(28,2)) AS DOUBLE) AS revenue
FROM winners
WHERE rn = 1
GROUP BY kdate, date_trunc('month', valid_date)
"""


_BT_ORACLE = _bitemporal_sql(
    f"unnest([DATE '{BT_K1}', DATE '{BT_K2}'])"
)
_BT_SPARK = _bitemporal_sql(
    f"explode(array(DATE '{BT_K1}', DATE '{BT_K2}'))"
)


@query("bitemporal_restatement", oracle=bare_tables(_BT_ORACLE))
def bitemporal_restatement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL query — two independent time axes: VALID time (when
    the order economically happened) and TRANSACTION/knowledge time
    (when the system learned the current figure).  Price restatements
    (every 7th order, +5%) become known {BT_RESTATE_LAG_DAYS} days
    after the order date but apply retroactively, so monthly revenue
    "as known on {BT_K1}" differs from revenue "as currently known" for
    exactly the months whose restatements hadn't landed yet — the
    restatement-drift report every finance close runs, and the query
    class (AS OF knowledge-time over valid-time rollups) that
    uni-temporal SCD2/time-travel cannot answer (cdc_time_travel
    replays versions; this slices BOTH axes at once).

    Determinism: restated prices are EXACT decimal arithmetic end to
    end (decimal x decimal, rounded in decimal — a double x1.05 then
    round-to-cents diverges between engines at representation ties,
    measured);
    last-writer-wins is a seq-ordered ROW_NUMBER; revenue is an exact
    decimal sum.  The knowledge-date fan-out is a LATERAL 2-element
    generator filtered by known_date <= K — replication factor = number
    of knowledge dates ASKED, never log length, and no join node.

    Scale: one (kdate, key) shuffle resolves every winner; the rollup
    is months x 2 rows.  The log union reads orders twice — at 100 TB
    the corrections side is a real changelog table, far smaller."""
    return spark.sql(_BT_SPARK, orders=load_table(spark, sf_dir, "orders"))


_LATE_DIM_ORACLE = """
    WITH active AS (
        SELECT DISTINCT o_custkey FROM orders
    ), dim AS (
        SELECT c.c_mktsegment AS segment, c.c_custkey,
               CASE WHEN c.c_custkey % 5 = 0 THEN 1 ELSE 0 END AS backfilled
        FROM customer c JOIN active a ON a.o_custkey = c.c_custkey
    ), rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                   AS cents
        FROM orders GROUP BY o_custkey
    )
    SELECT d.segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(d.backfilled) AS BIGINT) AS n_backfilled,
           CAST(SUM(r.cents) AS BIGINT) AS revenue_cents
    FROM dim d JOIN rev r ON r.o_custkey = d.c_custkey
    GROUP BY d.segment
"""


@query("dim_late_arriving_inferred", oracle=_LATE_DIM_ORACLE)
def dim_late_arriving_inferred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension handling — the Kimball pattern every
    warehouse eventually needs: facts reference a dimension key whose
    row hasn't landed yet, so the load creates an INFERRED MEMBER
    (key + UNKNOWN attributes + audit flag) instead of dropping or
    quarantining the fact, and the late dimension batch SCD1-overwrites
    the placeholder in place when it arrives.  Staged for real: the
    initial dimension load deliberately withholds every fifth customer,
    inferred members are minted from the orphaned fact keys, the late
    batch backfills them, and the report rolls up the HEALED dimension
    — per segment, member count, how many went through the inferred
    path (the audit column the pattern requires), and fact revenue now
    fully attributable.

    The oracle recomputes the end state from the intact source tables,
    so a broken heal (lost inferred member, unflipped flag, duplicated
    key, revenue dropped with the orphan) value-hash-mismatches.

    Scale: two key-hashed merges (anti-join to find orphans, union +
    SCD1 coalesce to heal) and the standard fact-rollup join — nothing
    beyond the scd1_upsert_orders shapes."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    # phase 0: the on-time dimension load is missing every 5th customer
    on_time = customer.filter(F.col("c_custkey") % 5 != 0)
    late_batch = customer.filter(F.col("c_custkey") % 5 == 0)
    fact_keys = orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    # phase 1: mint inferred members for orphaned fact keys
    inferred = (
        fact_keys.join(on_time, "c_custkey", "left_anti")
        .select(
            "c_custkey",
            F.lit("INFERRED MEMBER").alias("c_name"),
            F.lit("UNKNOWN").alias("c_mktsegment"),
            F.lit(1).alias("is_inferred"),
        )
    )
    dim_v1 = on_time.withColumn("is_inferred", F.lit(0)).unionByName(inferred)
    # phase 2: the late batch SCD1-overwrites attributes, keeps the audit flag
    healed = (
        dim_v1.alias("d")
        .join(late_batch.alias("l"), "c_custkey", "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("l.c_name"), F.col("d.c_name")).alias("c_name"),
            F.coalesce(F.col("l.c_mktsegment"), F.col("d.c_mktsegment")).alias(
                "segment"
            ),
            F.col("d.is_inferred").alias("was_inferred"),
        )
    )
    rev = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100))
        .cast("long")
        .alias("cents")
    )
    return (
        healed.join(rev, "c_custkey")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("was_inferred").cast("long").alias("n_backfilled"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


_SCD6_ORACLE = """
    WITH base AS (
        SELECT c_custkey, c_mktsegment AS seg,
               CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END AS changed
        FROM customer
    )
    SELECT c_custkey,
           seg AS segment_asof,
           CASE WHEN changed = 1 THEN 'RESEGMENTED' ELSE seg END
               AS current_segment,
           CASE WHEN changed = 1 THEN 0 ELSE 1 END AS is_current,
           1 AS version
    FROM base
    UNION ALL
    SELECT c_custkey,
           'RESEGMENTED' AS segment_asof,
           'RESEGMENTED' AS current_segment,
           1 AS is_current,
           2 AS version
    FROM base WHERE changed = 1
"""


@query("scd6_hybrid_dim", oracle=_SCD6_ORACLE)
def scd6_hybrid_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 6 (1+2+3 hybrid) — the dimension shape BI teams
    actually ask for: full history rows (Type 2: a change closes the
    old row and appends a new version) PLUS a current_segment column
    OVERWRITTEN ON EVERY HISTORICAL ROW (Type 1 within the row set), so
    one dimension answers both "slice facts by the segment AS OF the
    fact date" (join on the history row) and "slice ALL history by
    today's segment" (filter on current_segment) without a second
    dimension or a self-join at query time.  Staged change batch: every
    7th customer is re-segmented.

    Mechanics on the engine side are the real ones, not a CASE
    construction: the change batch closes matching rows and appends
    version-2 rows (the scd2_merge_orders shape), then the Type-1
    current-attribute PROPAGATION is one window — max_by(segment,
    version) over the customer's rows painted onto every version.  The
    oracle builds the expected end state independently from the source
    table; the hash certifies history preserved, current painted
    everywhere, flags and versions exact.

    Scale: one key-hashed union-merge + one customer-keyed window —
    the standard SCD shuffle shapes."""
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    changes = customer.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.lit("RESEGMENTED").alias("new_seg")
    )
    v1 = customer.join(changes, "c_custkey", "left").select(
        "c_custkey",
        F.col("seg").alias("segment_asof"),
        F.when(F.col("new_seg").isNotNull(), 0).otherwise(1).alias("is_current"),
        F.lit(1).alias("version"),
    )
    v2 = changes.select(
        "c_custkey",
        F.col("new_seg").alias("segment_asof"),
        F.lit(1).alias("is_current"),
        F.lit(2).alias("version"),
    )
    hist = v1.unionByName(v2)
    from pyspark.sql import Window as W

    wc = W.partitionBy("c_custkey")
    return hist.select(
        "c_custkey",
        "segment_asof",
        F.expr("max_by(segment_asof, version)").over(wc).alias("current_segment"),
        "is_current",
        "version",
    )


@query(
    "scd4_history_split",
    oracle=f"""
    SELECT 'current' AS table_role, o_orderkey,
           CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END
               AS status,
           CASE WHEN o_orderkey % 10 = 0
                THEN o_totalprice * CAST(1.1 AS DOUBLE)
                ELSE o_totalprice END AS price,
           CAST(NULL AS VARCHAR) AS archived_at
    FROM orders
    UNION ALL
    SELECT 'history', o_orderkey, o_orderstatus, o_totalprice, '{_NOW}'
    FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def scd4_history_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-4 SCD: the CURRENT table stays clean (no validity columns —
    every consumer query hits a key-unique, always-latest dimension)
    while each overwritten version is archived to a separate HISTORY
    table stamped with its archive time.  This is the remaining member
    of the SCD family (1 overwrite / 2 in-table versions / 6 hybrid all
    exist); warehouses pick Type 4 exactly when point-in-time queries
    are rare enough that the current table shouldn't pay Type 2's
    row-version tax on every read.  One batch of updates (the staged
    key%10 slice, the scd2_merge_orders change feed) is applied; the
    result carries both tables role-tagged, which is how a single-output
    engine materializes a two-table contract (the sink splits on
    table_role — the partitioned-write discipline of write_partitioned).

    Scale: pure narrow map + conditional explode per row (the module's
    zero-shuffle SCD shape) — each input row emits its current version
    and, if changed, one archive row.  No join, no shuffle; the history
    append is O(changed rows)."""
    o = load_table(spark, sf_dir, "orders")
    changed = F.col("o_orderkey") % 10 == 0
    fan = o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.explode(
            F.when(
                changed,
                F.array(
                    F.struct(
                        F.lit("current").alias("table_role"),
                        F.lit("X").alias("status"),
                        (F.col("o_totalprice") * F.lit(1.1)).alias("price"),
                        F.lit(None).cast("string").alias("archived_at"),
                    ),
                    F.struct(
                        F.lit("history").alias("table_role"),
                        F.col("o_orderstatus").alias("status"),
                        F.col("o_totalprice").alias("price"),
                        F.lit(_NOW).cast("string").alias("archived_at"),
                    ),
                ),
            ).otherwise(
                F.array(
                    F.struct(
                        F.lit("current").alias("table_role"),
                        F.col("o_orderstatus").alias("status"),
                        F.col("o_totalprice").alias("price"),
                        F.lit(None).cast("string").alias("archived_at"),
                    )
                )
            )
        ).alias("r"),
    )
    return fan.select(
        F.col("r.table_role").alias("table_role"),
        "o_orderkey",
        F.col("r.status").alias("status"),
        F.col("r.price").alias("price"),
        F.col("r.archived_at").alias("archived_at"),
    )


# --------------------------------------------------------------------------
# scd3_previous_value — Type 3: previous-value column, bounded history
# --------------------------------------------------------------------------

_SCD3_ORACLE = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END
           AS status_current,
       CASE WHEN o_orderkey % 10 = 0 THEN o_orderstatus END
           AS status_previous,
       o_orderkey % 10 = 0 AS was_changed,
       o_totalprice AS price
FROM orders
"""


@query("scd3_previous_value", oracle=_SCD3_ORACLE)
def scd3_previous_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 3 — previous-value columns: apply the deterministic
    change batch (every 10th key's status becomes 'X' — the scd2 ops'
    fixture convention) by WIDENING the row instead of versioning it:
    current value overwritten in place, the displaced value retained in
    a ``status_previous`` column, unchanged rows keep NULL there.  This
    completes the engine's SCD family — Type 1 (overwrite,
    scd1_upsert_orders), Type 2 (row versioning, scd2_merge_orders),
    Type 3 (bounded one-step history, here), Type 4 (history table,
    scd4_history_split), Type 6 (hybrid, scd6_hybrid_dim).  Type 3 is
    the right tool when consumers need exactly "value before the last
    reorg" without the row explosion of Type 2.

    Mechanics: the dimension LEFT-joins the change batch on the natural
    key; current = COALESCE(new, old), previous = old WHERE a new value
    arrived.  One hash join on the key, no window, no history fan-out —
    per-refresh cost is O(|dim| + |batch|), and at 100 TB the join is
    bucketed on the key like every other merge in this module.

    Determinism: the change batch is key-arithmetic-defined; values are
    carried, never computed."""
    orders = load_table(spark, sf_dir, "orders")
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .select("o_orderkey", F.lit("X").alias("new_status"))
    )
    return (
        orders.join(updates, "o_orderkey", "left")
        .select(
            "o_orderkey",
            F.coalesce("new_status", "o_orderstatus").alias("status_current"),
            F.when(F.col("new_status").isNotNull(), F.col("o_orderstatus")).alias(
                "status_previous"
            ),
            F.col("new_status").isNotNull().alias("was_changed"),
            F.col("o_totalprice").alias("price"),
        )
    )
