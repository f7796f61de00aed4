"""Tabular feature-engineering operators — the encode/clip/cap transforms a
training-data pipeline applies between the warehouse and the trainer.  They
complement the existing scaling tiers (embedding_minmax_scale /
embedding_standardize for vectors, feature_quantile_binning for deciles,
feature_hashed_bow for text) with the categorical-and-robust-numeric side.

Cross-engine determinism: encodings are ratios of exact decimal/integer
aggregates through one shared formula text; percentile bounds are DISCRETE
order-statistic picks (no interpolation rule can diverge); category caps
break frequency ties lexicographically so the chosen vocabulary is a pure
function of the data.

Scale: every operator is a key-grouped reduction plus (at most) a
broadcast-sized lookup joined back to the fact — group cardinality, not
fact size, crosses the wire after the first partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_aws_spark.catalog import bare_tables, load_table
from etl_pipeline_aws_spark.registry import query

_TARGET_ENC_SQL = """
WITH joined AS (
    SELECT c.c_mktsegment AS segment,
           CAST(o.o_totalprice AS DECIMAL(18,2)) AS y
    FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
), seg AS (
    SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_g, SUM(y) AS s_g
    FROM joined GROUP BY segment
), with_prior AS (
    SELECT segment, n_g, s_g,
           SUM(n_g) OVER () AS n_all,
           SUM(s_g) OVER () AS s_all
    FROM seg
)
SELECT segment, n_g,
       CAST(s_g AS DOUBLE) / n_g AS raw_mean,
       (CAST(s_g AS DOUBLE)
            + 20 * (CAST(s_all AS DOUBLE) / n_all)) / (n_g + 20) AS encoded
FROM with_prior
"""


@query("feature_target_encoding", oracle=bare_tables(_TARGET_ENC_SQL))
def feature_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target (mean) encoding of customer market segment against
    order value — the leakage-prone-but-ubiquitous categorical encoder,
    in its additive-smoothing form: enc = (Σy_g + α·μ_all)/(n_g + α)
    with α=20, which shrinks thin categories toward the global prior
    instead of memorizing them.

    Determinism: Σy per segment and globally are exact decimal sums; the
    global prior enters through a window SUM OVER () on the 5-row
    segment table (no scalar-subquery join), and the encoding is one
    shared IEEE formula.  Leakage discipline (fit on train only) is the
    caller's split — composed with corpus_split_leakage_safe upstream.

    Scale: the fact reduces to |segments| rows before any window; the
    join to customer is the standard broadcast-dim pattern."""
    return spark.sql(
        _TARGET_ENC_SQL,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


_WINSOR_SQL = """
WITH g AS (
    SELECT o_orderpriority AS grp, CAST(o_totalprice AS DECIMAL(18,2)) AS x
    FROM {orders}
), ranked AS (
    SELECT grp, x,
           ROW_NUMBER() OVER (PARTITION BY grp ORDER BY x) AS rn,
           COUNT(*) OVER (PARTITION BY grp) AS n
    FROM g
), bounds AS (
    SELECT grp,
           MAX(n) AS n,
           MAX(CASE WHEN rn = CAST(FLOOR((n + 99) / 100.0) AS BIGINT)
                    THEN x END) AS lo,
           MAX(CASE WHEN rn = CAST(FLOOR((99 * n + 99) / 100.0) AS BIGINT)
                    THEN x END) AS hi
    FROM ranked GROUP BY grp
), clipped AS (
    SELECT g.grp, b.n, b.lo, b.hi,
           CASE WHEN g.x < b.lo THEN b.lo
                WHEN g.x > b.hi THEN b.hi
                ELSE g.x END AS cx,
           g.x
    FROM g JOIN bounds b ON g.grp = b.grp
)
SELECT grp, CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(lo) AS DOUBLE) AS p01,
       CAST(MAX(hi) AS DOUBLE) AS p99,
       CAST(SUM(x) AS DOUBLE) / MAX(n) AS raw_mean,
       CAST(SUM(cx) AS DOUBLE) / MAX(n) AS winsorized_mean,
       CAST(SUM(CASE WHEN cx <> x THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
FROM clipped
GROUP BY grp
"""


@query("feature_winsorize", oracle=bare_tables(_WINSOR_SQL))
def feature_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization at [p1, p99]: order totals clipped to the
    group's 1st/99th percentile — the outlier treatment that keeps every
    row (unlike trimming, agg_trimmed_mean's tier) while bounding
    leverage, reported as the before/after mean shift plus clip counts.

    Bounds are DISCRETE order statistics at ceil(q·n) (the ceiling is
    computed as FLOOR((q·100·n + 99)/100.0) — exact for every n within
    double's integer range, identical on both engines), so no
    interpolation rule can diverge; clipped sums stay decimal-exact.

    Scale: rank window partitions on the group key; bounds are
    |groups| rows broadcast back onto the fact."""
    return spark.sql(_WINSOR_SQL, orders=load_table(spark, sf_dir, "orders"))


_CATCAP_SQL = """
WITH counts AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
    FROM {events} GROUP BY event_type
), topn AS (
    SELECT event_type FROM counts
    ORDER BY c DESC, event_type LIMIT 3
), mapped AS (
    SELECT e.user_id,
           COALESCE(t.event_type, 'other') AS feature_key
    FROM {events} e LEFT JOIN topn t ON e.event_type = t.event_type
)
SELECT user_id, feature_key, CAST(COUNT(*) AS BIGINT) AS n
FROM mapped
GROUP BY user_id, feature_key
"""


@query("feature_category_capping", oracle=bare_tables(_CATCAP_SQL))
def feature_category_capping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N category capping (the 'other' bucket): per-user counts over
    a vocabulary capped to the 3 most frequent event types, every other
    type folded into 'other' — the encoder that keeps one-hot width
    bounded no matter what the tail does in production.

    The vocabulary is data-derived but deterministic (count desc, name
    asc tie-break — the text_vocab_oov_rate discipline) and joins back
    as a broadcast; emitted LONG-form (user, feature_key, n) so the
    schema is static regardless of which types win.

    Scale: vocabulary selection reduces to |types| rows; the cap join is
    a 3-row broadcast; output is |users|×≤4."""
    return spark.sql(_CATCAP_SQL, events=load_table(spark, sf_dir, "events"))


def _robust_scaler_sql(idiv: str) -> str:
    """Shared robust-scaler text; integer-division spelling per dialect.
    The numerator (x - median) can be NEGATIVE, where Spark's DIV
    truncates toward zero but DuckDB's // floors — the CASE makes both
    engines truncate toward zero explicitly."""
    return f"""
WITH g AS (
    SELECT c_custkey, c_mktsegment AS seg,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM {{customer}}
), ranked AS (
    SELECT seg, c_custkey, cents,
           ROW_NUMBER() OVER (PARTITION BY seg ORDER BY cents, c_custkey) AS rn,
           COUNT(*) OVER (PARTITION BY seg) AS n
    FROM g
), fences AS (
    SELECT seg,
           MAX(CASE WHEN rn = CAST(FLOOR((n + 1) / 2.0) AS BIGINT)
                    THEN cents END) AS med,
           MAX(CASE WHEN rn = CAST(FLOOR((n + 3) / 4.0) AS BIGINT)
                    THEN cents END) AS q1,
           MAX(CASE WHEN rn = CAST(FLOOR((3 * n + 3) / 4.0) AS BIGINT)
                    THEN cents END) AS q3
    FROM ranked GROUP BY seg
)
SELECT g.c_custkey, g.seg, g.cents AS acctbal_cents,
       f.med AS median_cents, f.q3 - f.q1 AS iqr_cents,
       CASE WHEN g.cents >= f.med
            THEN CAST(((g.cents - f.med) * 1000000) {idiv} (f.q3 - f.q1) AS BIGINT)
            ELSE -CAST(((f.med - g.cents) * 1000000) {idiv} (f.q3 - f.q1) AS BIGINT)
       END AS scaled_ppm
FROM g JOIN fences f ON g.seg = f.seg
"""


_ROBUST_SCALER_ORACLE = _robust_scaler_sql("//")
_ROBUST_SCALER_SPARK = _robust_scaler_sql("DIV")


@query("feature_robust_scaler", oracle=bare_tables(_ROBUST_SCALER_ORACLE))
def feature_robust_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment robust scaling of account balances: (x - median)/IQR
    — the scaler of choice when the column has outliers (z-score's mean
    and std are themselves outlier-dragged; median and IQR have 50% and
    25% breakdown points).  Completes the scaler ladder beside
    embedding_minmax_scale / embedding_standardize (those scale clean
    embedding coordinates; this scales dirty business measures).

    Exactness: balances in integer cents; median/Q1/Q3 are DISCRETE
    order statistics at ceil-index fences (the feature_winsorize
    machinery) picked by a deterministic (cents, custkey) ordering;
    the scaled output is floor-ppm integer division with an explicit
    sign split so both engines truncate toward zero (Spark DIV
    truncates, DuckDB // floors — divergent on negatives otherwise).

    Scale: one window partitioned by segment (bounded partitions), one
    |segments|-row broadcast join back to the fact."""
    return spark.sql(
        _ROBUST_SCALER_SPARK,
        customer=load_table(spark, sf_dir, "customer"),
    )


# Leave-one-out leakage audit for the target encoder: per-row gap between
# the naive full-fit encoding and the LOO-corrected one, folded to
# order-insensitive per-segment MAX/threshold counts.
_LEAKAGE_AUDIT_SQL = """
WITH joined AS (
    SELECT c.c_mktsegment AS segment,
           CAST(o.o_totalprice AS DECIMAL(18,2)) AS y
    FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
), seg AS (
    SELECT segment, y,
           COUNT(*) OVER (PARTITION BY segment) AS n_g,
           SUM(y) OVER (PARTITION BY segment) AS s_g,
           COUNT(*) OVER () AS n_all,
           SUM(y) OVER () AS s_all
    FROM joined
), gaps AS (
    SELECT segment, n_g,
           ABS((CAST(s_g AS DOUBLE) + 20 * (CAST(s_all AS DOUBLE) / n_all))
                   / (n_g + 20)
               - (CAST(s_g AS DOUBLE) - CAST(y AS DOUBLE)
                      + 20 * (CAST(s_all AS DOUBLE) / n_all))
                   / (n_g - 1 + 20)) AS gap
    FROM seg
)
SELECT segment,
       CAST(MAX(n_g) AS BIGINT) AS n_rows,
       MAX(gap) AS max_loo_gap,
       CAST(SUM(CASE WHEN gap > 1.0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rows_gap_gt_1
FROM gaps GROUP BY segment
"""


@query("ml_leakage_audit_target_encoding", oracle=bare_tables(_LEAKAGE_AUDIT_SQL))
def ml_leakage_audit_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-encoding leakage audit — QUANTIFIES what the encoder's
    docstring only warns about: the naive full-fit encoding includes
    each row's own label, and the leave-one-out correction
    (S_g - y_i in the numerator, n_g - 1 in the denominator) is exactly
    what the row would have seen at honest training time.  The per-row
    gap between the two is the leakage; this reports, per segment, its
    MAX and the count of rows leaking more than one currency unit —
    the go/no-go evidence for "is full-fit encoding safe on this data"
    (big segments: gap ~ y_i/n_g, negligible; thin segments: the
    encoder memorizes, and this table shows it).

    Determinism: exact decimal sums via segment windows; each row's gap
    is one shared IEEE formula over exact operands; the fold uses only
    MAX (order-insensitive on identical doubles) and an integer
    threshold count — never a double SUM across rows.

    Scale: two window passes over the joined fact (segment-keyed +
    global), then a |segments|-row fold."""
    return spark.sql(
        _LEAKAGE_AUDIT_SQL,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )
