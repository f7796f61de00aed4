"""Geospatial operators — grid-bucketed spatial joins on plain columns.

The reference's enrichment stage (glue/job.py:29-35) adds derived columns
row-locally; these operators extend that idea to the one enrichment family
the engine did not yet cover: SPATIAL relations between two keyed entity
sets.  Spark has no built-in ``st_*`` functions (SURVEY.md env-probe —
Sedona/ESRI jars are not installable here), but the distributed shapes that
make spatial joins viable at 100 TB need none of them:

- **grid bucketing**: each point lands in exactly one integer cell whose
  edge is >= the search radius, so every radius query is answered by the
  3x3 neighborhood — the join is an EQUI-join on cell coordinates (hash
  shuffle, broadcastable small side), never a theta/cross join;
- **probe-side explode**: the 9 neighbor probes are generated by exploding
  a 0..8 index on the (smaller) probe side — pairs appear exactly once
  because each point's home cell is unique;
- **resolution selection**: the multi-resolution rollup is the advisor
  that picks the finest cell size whose max occupancy still fits an
  executor's memory budget (the spatial analogue of
  layout_partition_size_advisor).

Coordinates: the TPC-H-ish tables carry no lat/lon, so each entity gets a
DETERMINISTIC synthetic position from its key via the same multiplicative
integer mixing the z-order planner samples with (``(key % p) * c % range``,
exact BIGINT at any scale — pre-modulo keeps every intermediate far below
2^63).  Both engines compute the identical integers, so the oracle models
the identical geometry.

Determinism: positions, cells, and squared distances are pure BIGINT
arithmetic; distance thresholds compare integer micro-degree squares
(planar model — production swaps haversine into the final bounded
candidate filter without touching the join shape; the 3x3 neighborhood
guarantee is unchanged because cell edge >= radius holds in degree space).
No double is ever summed across rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_aws_spark.catalog import bare_tables, load_table
from etl_pipeline_aws_spark.registry import query

# Synthetic positions in integer micro-degrees: lat in [-90e6, 90e6),
# lon in [-180e6, 180e6).  Different mixing constants per entity set so
# customer/supplier geometries are uncorrelated.
_CUST_PTS = """
    SELECT c_custkey, c_nationkey,
           ((c_custkey % 1000003) * 2654435761) % 180000000 - 90000000
               AS latm,
           ((c_custkey % 999983) * 1540483477) % 360000000 - 180000000
               AS lonm
    FROM {customer}
"""
_SUP_PTS = """
    SELECT s_suppkey,
           ((s_suppkey % 999979) * 2246822519) % 180000000 - 90000000
               AS latm,
           ((s_suppkey % 1000033) * 2654435769) % 360000000 - 180000000
               AS lonm
    FROM {supplier}
"""

# Radius join: cell edge 5e6 micro-deg >= radius 2e6 micro-deg.
_GEO_CELL = 5_000_000
_GEO_R2 = (2_000_000) ** 2

# Spark vs DuckDB spelling of "9 probe indexes per input row" and integer
# division (the z-order planner's parametrization pattern).
_UNNEST9_SPARK = "explode(sequence(0, 8))"
_UNNEST9_DUCK = "unnest(range(0, 9))"


def _radius_join_sql(idiv: str, unnest9: str) -> str:
    return f"""
WITH cust AS ({_CUST_PTS}
), cust_cells AS (
    SELECT c_custkey, latm, lonm,
           (lonm + 180000000) {idiv} {_GEO_CELL} AS cx,
           (latm + 90000000) {idiv} {_GEO_CELL} AS cy
    FROM cust
), sup AS ({_SUP_PTS}
), probes AS (
    SELECT s_suppkey, latm, lonm,
           (lonm + 180000000) {idiv} {_GEO_CELL} AS cx,
           (latm + 90000000) {idiv} {_GEO_CELL} AS cy,
           {unnest9} AS k
    FROM sup
), hits AS (
    SELECT p.s_suppkey, c.c_custkey,
           (p.latm - c.latm) * (p.latm - c.latm)
               + (p.lonm - c.lonm) * (p.lonm - c.lonm) AS d2
    FROM probes p
    JOIN cust_cells c
      ON c.cx = p.cx + (p.k % 3) - 1
     AND c.cy = p.cy + (p.k {idiv} 3) - 1
    WHERE (p.latm - c.latm) * (p.latm - c.latm)
              + (p.lonm - c.lonm) * (p.lonm - c.lonm) <= {_GEO_R2}
), ranked AS (
    SELECT s_suppkey, c_custkey, d2,
           MIN(d2) OVER (PARTITION BY s_suppkey) AS min_d2
    FROM hits
), agg AS (
    SELECT s_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_within,
           CAST(MIN(min_d2) AS BIGINT) AS nearest_d2,
           CAST(MIN(CASE WHEN d2 = min_d2 THEN c_custkey END) AS BIGINT)
               AS nearest_custkey
    FROM ranked GROUP BY s_suppkey
)
SELECT s.s_suppkey,
       CAST(COALESCE(a.n_within, 0) AS BIGINT) AS n_within,
       a.nearest_d2,
       a.nearest_custkey
FROM sup s LEFT JOIN agg a ON a.s_suppkey = s.s_suppkey
"""


@query(
    "geo_grid_radius_join",
    oracle=bare_tables(_radius_join_sql("//", _UNNEST9_DUCK)),
)
def geo_grid_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed radius join: for every supplier, the customers within
    a 2-degree planar radius — count, squared distance to the nearest,
    and the nearest customer key (MIN over exact-distance ties, so the
    answer is deterministic without an argmin).  This is THE spatial-join
    shape ("which service points are near each facility") and the engine
    expresses it with zero special machinery: grid-bucket both sides at
    cell edge >= radius, explode the 9-cell probe neighborhood on the
    SMALLER side, equi-join on cell coordinates, then apply the exact
    distance predicate to the bounded candidate set.

    Determinism: synthetic positions / cells / squared distances are pure
    BIGINT arithmetic (module header); the nearest key is the minimum
    custkey among minimum-d2 rows.

    Scale: the join is a hash equi-join on cell ids — candidate pairs are
    SUM over cells of (suppliers-in-neighborhood x customers-in-cell),
    linear in data at constant density, never |S|x|C|; the probe explode
    multiplies only the small side by 9.  Skewed cells are AQE-splittable
    because the join IS a shuffle hash join.  The per-supplier window
    runs partitioned (bounded by the supplier's own candidate count)."""
    return spark.sql(
        _radius_join_sql("DIV", _UNNEST9_SPARK),
        customer=load_table(spark, sf_dir, "customer"),
        supplier=load_table(spark, sf_dir, "supplier"),
    )


# Multi-resolution rollup: 45 / 15 / 5 degree cells (level 0/1/2).
_MULTIRES_SIZES = "CASE lvl WHEN 0 THEN 45000000 WHEN 1 THEN 15000000 ELSE 5000000 END"
_UNNEST3_SPARK = "explode(sequence(0, 2))"
_UNNEST3_DUCK = "unnest(range(0, 3))"


def _multires_sql(idiv: str, unnest3: str) -> str:
    return f"""
WITH cust AS ({_CUST_PTS}
), leveled AS (
    SELECT c_custkey, latm, lonm, {unnest3} AS lvl
    FROM cust
), coded AS (
    SELECT lvl,
           {_MULTIRES_SIZES} AS cell_sz,
           (lonm + 180000000) {idiv} ({_MULTIRES_SIZES}) AS cx,
           (latm + 90000000) {idiv} ({_MULTIRES_SIZES}) AS cy
    FROM leveled
), per_cell AS (
    SELECT lvl, cell_sz, cy * 1000 + cx AS cell_id,
           CAST(COUNT(*) AS BIGINT) AS n_pts
    FROM coded GROUP BY lvl, cell_sz, cy * 1000 + cx
), topped AS (
    SELECT lvl, cell_sz, cell_id, n_pts,
           MAX(n_pts) OVER (PARTITION BY lvl) AS max_pts
    FROM per_cell
)
SELECT CAST(lvl AS BIGINT) AS level,
       CAST(cell_sz AS BIGINT) AS cell_microdeg,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(n_pts) AS BIGINT) AS n_points,
       CAST(MAX(max_pts) AS BIGINT) AS max_cell_pts,
       CAST(SUM(n_pts) * 10000 {idiv} COUNT(*) AS BIGINT) AS avg_pts_e4,
       CAST(MIN(CASE WHEN n_pts = max_pts THEN cell_id END) AS BIGINT)
           AS top_cell_id
FROM topped GROUP BY lvl, cell_sz
"""


@query(
    "geo_cell_rollup_multires",
    oracle=bare_tables(_multires_sql("//", _UNNEST3_DUCK)),
)
def geo_cell_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution spatial occupancy rollup — the resolution ADVISOR
    for every grid-bucketed operator in this module: bucket the customer
    point set at 45/15/5-degree cells and report, per level, occupied
    cells, max/mean occupancy, and the hottest cell id.  The operational
    read: pick the finest level whose ``max_cell_pts`` fits the executor
    budget — the spatial analogue of layout_partition_size_advisor, and
    the number a geo skew-mitigation plan (split hot cells one level
    down) starts from.

    Determinism: one explode over 3 literal levels; cells and counts are
    exact integers; the hottest-cell tiebreak is MIN(cell_id); mean
    occupancy is reported as an exact integer-division x1e4 ratio.

    Scale: one fact-scan explode (x3) into a map-side-combinable groupBy
    on (level, cell) — bounded output (sum of grid sizes); the max-window
    runs partitioned by level over that bounded cell table."""
    return spark.sql(
        _multires_sql("DIV", _UNNEST3_SPARK),
        customer=load_table(spark, sf_dir, "customer"),
    )


# DBSCAN core points: eps 8e6 micro-deg (cell edge 10e6 >= eps), minPts 4.
_DBSCAN_CELL = 10_000_000
_DBSCAN_EPS2 = (8_000_000) ** 2
_DBSCAN_MINPTS = 4


def _dbscan_sql(idiv: str, unnest9: str) -> str:
    return f"""
WITH cust AS ({_CUST_PTS}
), pts AS (
    SELECT c_custkey, c_nationkey, latm, lonm,
           (lonm + 180000000) {idiv} {_DBSCAN_CELL} AS cx,
           (latm + 90000000) {idiv} {_DBSCAN_CELL} AS cy
    FROM cust
), probes AS (
    SELECT c_custkey, latm, lonm, cx, cy, {unnest9} AS k
    FROM pts
), nbr AS (
    SELECT p.c_custkey, CAST(COUNT(*) AS BIGINT) AS n_nbr
    FROM probes p
    JOIN pts q
      ON q.cx = p.cx + (p.k % 3) - 1
     AND q.cy = p.cy + (p.k {idiv} 3) - 1
    WHERE q.c_custkey <> p.c_custkey
      AND (p.latm - q.latm) * (p.latm - q.latm)
              + (p.lonm - q.lonm) * (p.lonm - q.lonm) <= {_DBSCAN_EPS2}
    GROUP BY p.c_custkey
)
SELECT t.c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(CASE WHEN COALESCE(n.n_nbr, 0) >= {_DBSCAN_MINPTS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_core,
       CAST(SUM(CASE WHEN COALESCE(n.n_nbr, 0) >= {_DBSCAN_MINPTS}
                     THEN 1 ELSE 0 END) * 10000 {idiv} COUNT(*) AS BIGINT)
           AS core_bp
FROM pts t LEFT JOIN nbr n ON n.c_custkey = t.c_custkey
GROUP BY t.c_nationkey
"""


@query("geo_dbscan_core_points", oracle=bare_tables(_dbscan_sql("//", _UNNEST9_DUCK)))
def geo_dbscan_core_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN stage 1 at scale — core-point detection: a customer is CORE
    when >= 4 other customers sit within an 8-degree planar eps; reported
    as a per-nation density scorecard (points, core points, core share in
    basis points).  Core-point counting is the distributed-DBSCAN step
    that decides the whole algorithm's viability (expansion is a
    connected-components pass over core-core edges — the engine already
    ships that kernel in dedup_cluster_keepers); it is also a standalone
    density screen ("which regions have clusterable mass?").

    Determinism: pure-integer neighborhood counting (module header);
    ties cannot occur — the core predicate is a count threshold.

    Scale: the self-join is the same grid equi-join as
    geo_grid_radius_join — per-point candidates are bounded by 3x3-cell
    occupancy, so total pairs are linear in data at constant spatial
    density (the eps-vs-cell-size invariant); the advisor op picks the
    cell size that keeps hot-cell candidate products bounded.  One
    groupBy per point, one bounded per-nation rollup."""
    return spark.sql(
        _dbscan_sql("DIV", _UNNEST9_SPARK),
        customer=load_table(spark, sf_dir, "customer"),
    )


# --------------------------------------------------------------------------
# pipeline_geo_e2e — the three geo stages composed over ONE point build
# --------------------------------------------------------------------------


def _geo_e2e_sql(idiv: str, unnest9: str, unnest3: str) -> str:
    return f"""
WITH cust AS ({_CUST_PTS}
), cust_cells AS (
    SELECT c_custkey, latm, lonm,
           (lonm + 180000000) {idiv} {_GEO_CELL} AS cx,
           (latm + 90000000) {idiv} {_GEO_CELL} AS cy
    FROM cust
), sup AS ({_SUP_PTS}
), probes AS (
    SELECT s_suppkey, latm, lonm,
           (lonm + 180000000) {idiv} {_GEO_CELL} AS cx,
           (latm + 90000000) {idiv} {_GEO_CELL} AS cy,
           {unnest9} AS k
    FROM sup
), hits AS (
    SELECT p.s_suppkey, c.c_custkey
    FROM probes p
    JOIN cust_cells c
      ON c.cx = p.cx + (p.k % 3) - 1
     AND c.cy = p.cy + (p.k {idiv} 3) - 1
    WHERE (p.latm - c.latm) * (p.latm - c.latm)
              + (p.lonm - c.lonm) * (p.lonm - c.lonm) <= {_GEO_R2}
), leveled AS (
    SELECT latm, lonm, {unnest3} AS lvl FROM cust
), per_cell AS (
    SELECT lvl,
           CAST(COUNT(*) AS BIGINT) AS n_pts
    FROM (
        SELECT lvl,
               ((latm + 90000000) {idiv} ({_MULTIRES_SIZES})) * 1000
                   + ((lonm + 180000000) {idiv} ({_MULTIRES_SIZES})) AS cell_id
        FROM leveled
    ) c GROUP BY lvl, cell_id
), dpts AS (
    SELECT c_custkey, latm, lonm,
           (lonm + 180000000) {idiv} {_DBSCAN_CELL} AS cx,
           (latm + 90000000) {idiv} {_DBSCAN_CELL} AS cy
    FROM cust
), dprobes AS (
    SELECT c_custkey, latm, lonm, cx, cy, {unnest9} AS k FROM dpts
), nbr AS (
    SELECT p.c_custkey, CAST(COUNT(*) AS BIGINT) AS n_nbr
    FROM dprobes p
    JOIN dpts q
      ON q.cx = p.cx + (p.k % 3) - 1
     AND q.cy = p.cy + (p.k {idiv} 3) - 1
    WHERE q.c_custkey <> p.c_custkey
      AND (p.latm - q.latm) * (p.latm - q.latm)
              + (p.lonm - q.lonm) * (p.lonm - q.lonm) <= {_DBSCAN_EPS2}
    GROUP BY p.c_custkey
)
SELECT 'radius_join' AS stage, 'suppliers_with_neighbor' AS metric,
       CAST(COUNT(DISTINCT s_suppkey) AS BIGINT) AS value
FROM hits
UNION ALL
SELECT 'radius_join' AS stage, 'candidate_pairs' AS metric,
       CAST(COUNT(*) AS BIGINT) AS value
FROM hits
UNION ALL
SELECT 'grid_advisor' AS stage,
       CASE lvl WHEN 0 THEN 'max_cell_pts_45deg'
                WHEN 1 THEN 'max_cell_pts_15deg'
                ELSE 'max_cell_pts_5deg' END AS metric,
       CAST(MAX(n_pts) AS BIGINT) AS value
FROM per_cell GROUP BY lvl
UNION ALL
SELECT 'dbscan' AS stage, 'n_core_points' AS metric,
       CAST(COUNT(*) AS BIGINT) AS value
FROM nbr WHERE n_nbr >= {_DBSCAN_MINPTS}
"""


@query(
    "pipeline_geo_e2e",
    oracle=bare_tables(_geo_e2e_sql("//", _UNNEST9_DUCK, _UNNEST3_DUCK)),
)
def pipeline_geo_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The geo family composed END TO END over ONE synthetic point
    build: (1) the supplier-radius join's match census, (2) the
    resolution advisor's max-occupancy line per level, (3) the DBSCAN
    core-point count — the one-job manifest a spatial-enrichment
    rollout records (how many facilities matched, which grid level is
    safe, is there clusterable mass).  Each stage is registry-proven
    standalone (geo_grid_radius_join / geo_cell_rollup_multires /
    geo_dbscan_core_points); this pins that they COMPOSE over a shared
    point scan — the composition discipline of the other pipeline_*_e2e
    entries.

    Determinism & scale: inherited from the member stages (pure-BIGINT
    geometry; grid equi-joins; bounded rollups) — see the module
    header.  One customers scan feeds all three stages; output is a
    6-row manifest."""
    return spark.sql(
        _geo_e2e_sql("DIV", _UNNEST9_SPARK, _UNNEST3_SPARK),
        customer=load_table(spark, sf_dir, "customer"),
        supplier=load_table(spark, sf_dir, "supplier"),
    )
