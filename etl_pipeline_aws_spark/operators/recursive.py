"""Spark 4 SQL-surface extensions: recursive CTEs and SQL scripting.

Two declarations the engine previously could not express in one statement:

- ``WITH RECURSIVE`` (SPARK-24497, shipped in Spark 4.0): iterative
  reachability stated *declaratively* — the engine drives the fixpoint loop
  instead of a Python ``for`` round loop (contrast graph.py, which unrolls
  its five PageRank rounds by hand).  Each recursion level is one join +
  union under the hood, so the 100 TB posture is identical to the manual
  loop: shuffle on the node key per level, bounded by the hop cap.
- SQL scripting (``BEGIN ... END`` blocks, SPARK-48338, Spark 4.0):
  procedural parameterization — DECLARE a session variable, SET it from a
  scalar query, use it in the report — the shape of every "compute a
  threshold, then filter by it" operational job, without a driver-side
  round trip between the two statements.

The reference has no recursion or scripting (its one transform is a
map-only enrichment, glue/job.py:27-34); both are north-star
generalizations.  Oracles: DuckDB speaks WITH RECURSIVE natively; the
scripting block's oracle inlines the variable as a scalar subquery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_aws_spark.catalog import bare_tables, load_table
from etl_pipeline_aws_spark.registry import query

# Reachability over the support-pruned part co-occurrence graph (shared
# edge semantics with graph.py's PageRank / triangle family): nodes within
# MAX_HOPS of the smallest part key, labeled with their minimum hop count.
# The recursive member explodes *walks*, not shortest paths — correct
# because the final GROUP BY takes MIN(hops); bounded because the hop cap
# is 3 and the edge list is support-pruned (>= 2 shared orders).
_RECURSIVE_SQL = """
    WITH RECURSIVE pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= 2
    ), edges AS (
        SELECT pa AS u, pb AS v FROM pairs
        UNION ALL
        SELECT pb AS u, pa AS v FROM pairs
    ), seed AS (
        SELECT MIN(u) AS s FROM edges
    ), reach AS (
        SELECT s AS node, 0 AS hops FROM seed
        UNION ALL
        SELECT e.v AS node, r.hops + 1 AS hops
        FROM reach r JOIN edges e ON e.u = r.node
        WHERE r.hops < 3
    )
    SELECT node, CAST(MIN(hops) AS INT) AS hops
    FROM reach
    GROUP BY node
"""


@query("subquery_recursive_cte", oracle=_RECURSIVE_SQL)
def subquery_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS reachability (<= 3 hops) from the smallest part in the
    co-occurrence graph, as a single ``WITH RECURSIVE`` statement — the
    identical SQL text runs on Spark 4 and DuckDB.

    Scale shape: each recursion level joins the frontier against the edge
    list (node-key shuffle) and unions; the walk fan-out is bounded by
    hop cap x max degree.  At 100 TB the edge list would be bucketed on
    ``u`` so every level's join is exchange-free on the edge side.  The
    walk-growth caveat is real and measured: UNION ALL recursion carries
    duplicate frontier rows level to level (Spark 4.1 rejects
    UNION-distinct recursive members — UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE
    — probed on this build), so unbounded-diameter traversals belong on
    the manual frontier-dedup loop (entity_resolution_parts,
    graph_label_propagation); the recursive CTE is the right surface when
    the hop cap is small and declared, as here."""
    # Materialize the edge list BEFORE the recursion: Spark inlines
    # non-recursive CTEs into every recursion level, so the lineitem
    # self-join would otherwise re-execute once per level (measured 4x
    # the cost at hop cap 3).  localCheckpoint pays the build once; the
    # recursion then iterates over the materialized blocks — exactly how
    # a production traversal treats its edge table (a stored table, not
    # a view re-derived per step).
    edges = spark.sql(
        """
        WITH pairs AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM {lineitem} a JOIN {lineitem} b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
            HAVING COUNT(*) >= 2
        )
        SELECT pa AS u, pb AS v FROM pairs
        UNION ALL
        SELECT pb AS u, pa AS v FROM pairs
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    ).localCheckpoint()
    return spark.sql(
        """
        WITH RECURSIVE seed AS (
            SELECT MIN(u) AS s FROM {edges}
        ), reach AS (
            SELECT s AS node, 0 AS hops FROM seed
            UNION ALL
            SELECT e.v AS node, r.hops + 1 AS hops
            FROM reach r JOIN {edges} e ON e.u = r.node
            WHERE r.hops < 3
        )
        SELECT node, CAST(MIN(hops) AS INT) AS hops
        FROM reach
        GROUP BY node
        """,
        edges=edges,
    )


# Threshold = 80% of the maximum balance: MAX is exact, one double
# multiply is one deterministic IEEE op on both engines — no
# summation-order hazard in the cut value.
_SCRIPT_SQL = """
    BEGIN
        DECLARE cut DOUBLE;
        SET cut = (SELECT MAX(c_acctbal) * 0.8 FROM {customer});
        SELECT c_nationkey,
               COUNT(*) AS n_rich,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
        FROM {customer}
        WHERE c_acctbal > cut
        GROUP BY c_nationkey;
    END
"""

_SCRIPT_ORACLE = """
    SELECT c_nationkey,
           COUNT(*) AS n_rich,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
    FROM customer
    WHERE c_acctbal > (SELECT MAX(c_acctbal) * 0.8 FROM customer)
    GROUP BY c_nationkey
"""


@query("sql_scripting_block", oracle=_SCRIPT_ORACLE)
def sql_scripting_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compute-threshold-then-report as ONE SQL scripting block: DECLARE a
    variable, SET it from a scalar query, reference it in the final
    statement; ``spark.sql`` returns the block's last result set.

    This replaces the driver-side anti-pattern (``collect()`` the scalar,
    interpolate it into a second query string) with engine-side state —
    no extra driver round trip, and at scale no tiny driver-to-executor
    re-broadcast: Catalyst folds the variable as a literal into the
    second statement's plan."""
    return spark.sql(_SCRIPT_SQL, customer=load_table(spark, sf_dir, "customer"))


# --------------------------------------------------------------------------
# recursive_bom_explosion — multi-level bill-of-materials walk
# --------------------------------------------------------------------------

BOM_ROOT = 1  # the exploded assembly
BOM_MAX_DEPTH = 6


def _bom_sql(idiv: str) -> str:
    return f"""
WITH RECURSIVE bom AS (
    SELECT CAST({BOM_ROOT} AS BIGINT) AS component,
           CAST(0 AS BIGINT) AS lvl,
           CAST(1 AS BIGINT) AS qty
    UNION ALL
    SELECT p.p_partkey,
           b.lvl + 1,
           b.qty * (p.p_partkey % 3 + 1)
    FROM bom b JOIN {{part}} p ON p.p_partkey {idiv} 4 = b.component
    WHERE b.lvl < {BOM_MAX_DEPTH}
)
SELECT b.component,
       b.lvl AS level,
       b.qty AS effective_qty,
       CAST(b.qty AS DOUBLE) * p.p_retailprice AS extended_cost
FROM bom b JOIN {{part}} p ON p.p_partkey = b.component
"""


@query("recursive_bom_explosion", oracle=bare_tables(_bom_sql("//")))
def recursive_bom_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level bill-of-materials EXPLOSION as a declarative
    ``WITH RECURSIVE`` — the second classic recursion workload beside
    reachability (subquery_recursive_cte): walk the part hierarchy
    downward from assembly {BOM_ROOT}, multiplying per-edge quantities
    along the path (effective_qty — the number every MRP run needs),
    and extend by unit cost.  The hierarchy is synthesized by key
    arithmetic (parent(k) = k DIV 4, per-edge qty = k%3+1 — the
    engine's deterministic-fixture convention), giving a genuine
    multi-level tree (~log4 |parts| levels) with a unique parent per
    node, so each component is reached exactly once — no walk
    explosion, no MIN-dedup needed.

    Scale: each recursion level is one equi-join of the frontier
    against the part table + union — the same per-level shuffle the
    manual loop family (graph.py) pays, but the FIXPOINT is driven by
    the engine; depth is capped at {BOM_MAX_DEPTH} and the frontier is
    the subtree (4x per level), never the whole table.  qty products
    are bounded by 3^depth — exact BIGINTs.

    Determinism: pure integer tree arithmetic; extended cost is one
    double multiply per row."""
    return spark.sql(_bom_sql("DIV"), part=load_table(spark, sf_dir, "part"))
