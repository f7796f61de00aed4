"""Modern SQL-surface features (Spark 3.4–4.x): pipe syntax, GROUP BY
ALL, IDENTIFIER() binding, and lateral column aliases.

These are ergonomics features, not new physics — each compiles to the
same Catalyst plan as its classic form (asserted by the oracles, which
run the classic form on DuckDB).  They register because "a user of the
reference could switch and run every query they run today" includes the
query STYLE a modern SQL user writes; an engine that rejects the syntax
fails the user even when it has the semantics.

Complements recursive.py (WITH RECURSIVE, BEGIN/END scripting) and
relational_ext.sql_parameterized (typed named parameters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_aws_spark.catalog import load_table, table_path
from etl_pipeline_aws_spark.registry import query

_PIPE_ORACLE = """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
"""


@query("sql_pipe_syntax", oracle=_PIPE_ORACLE)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (SPARK-49555, Spark 4.0): the query reads as its
    dataflow — FROM |> WHERE |> AGGREGATE — the linear style DataFrame
    users already think in, now in SQL.  Catalyst compiles it to the
    identical plan as the classic SELECT (what the oracle runs), so
    adopting the style costs nothing at any scale."""
    return spark.sql(
        """
        FROM {orders}
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                         AS revenue
           GROUP BY o_orderpriority
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


# Classic twin of the multi-stage pipe chain below — the oracle, and also
# what the plan-identity test (tests/test_round8_ops.py) runs through Spark
# itself to assert the pipe spelling compiles to the IDENTICAL plan.
_PIPE_MULTI_CLASSIC = """
    SELECT n_name, n_orders, revenue
    FROM (
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderstatus = 'F'
        GROUP BY n_name
    ) agg
    WHERE n_orders > 10
    ORDER BY revenue DESC, n_name
    LIMIT 5
"""

_PIPE_MULTI_PIPE = """
    FROM {orders}
    |> WHERE o_orderstatus = 'F'
    |> JOIN {customer} ON o_custkey = c_custkey
    |> JOIN {nation} ON c_nationkey = n_nationkey
    |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS revenue
       GROUP BY n_name
    |> WHERE n_orders > 10
    |> ORDER BY revenue DESC, n_name
    |> LIMIT 5
    |> SELECT n_name, n_orders, revenue
"""


@query("sql_pipe_multi_stage", oracle=_PIPE_MULTI_CLASSIC)
def sql_pipe_multi_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL pipe-syntax chain (SPARK-49555, Spark 4.0; r7 verdict ask
    #8): filter |> two joins |> aggregate |> post-aggregate filter (the
    pipe spelling of HAVING) |> order |> limit |> final projection —
    the full dataflow shape an analyst writes, not just the one-hop
    demo sql_pipe_syntax registers.  Catalyst lowers every stage onto
    the same logical operators as the classic query (the oracle text),
    so the plan — broadcast dim joins, partial aggregation, TakeOrdered
    top-k — is IDENTICAL to the classic twin; asserted expression-id-
    insensitively in tests/test_round8_ops.py."""
    return spark.sql(
        _PIPE_MULTI_PIPE,
        customer=load_table(spark, sf_dir, "customer"),
        nation=load_table(spark, sf_dir, "nation"),
        orders=load_table(spark, sf_dir, "orders"),
    )


_GROUP_ALL_ORACLE = """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
"""


@query("sql_group_by_all", oracle=_GROUP_ALL_ORACLE)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL: every non-aggregate select item becomes a grouping
    key — kills the add-a-column-forget-the-group-by bug class in wide
    rollups.  DuckDB pioneered the shorthand; the oracle spells the keys
    out, proving the inference picked exactly the right set."""
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
        FROM {orders}
        GROUP BY ALL
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


_IDENTIFIER_ORACLE = """
    SELECT n_name, COUNT(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
"""


@query("sql_identifier_binding", oracle=_IDENTIFIER_ORACLE)
def sql_identifier_binding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() clause (Spark 3.5): bind a TABLE/COLUMN name from a
    parameter without string-splicing SQL — the injection-safe half of
    templated maintenance jobs ("run this audit over ${table}"), pairing
    with sql_parameterized which binds VALUES.  The name resolves at
    parse time, so the plan is identical to writing the name literally.

    The bound name needs a named relation: a temp view with a name of
    its own, dropped once the query is analyzed (one of the two named
    views on the engine's allowlist, tests/test_catalog.py)."""
    import uuid as _uuid

    tbl = f"customer_{_uuid.uuid4().hex[:8]}"
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(tbl)
    try:
        return spark.sql(
            """
            SELECT n_name, COUNT(*) AS n_customers
            FROM IDENTIFIER(:tbl) JOIN {nation} ON c_nationkey = n_nationkey
            GROUP BY n_name
            """,
            args={"tbl": tbl},
            nation=load_table(spark, sf_dir, "nation"),
        )
    finally:
        spark.catalog.dropTempView(tbl)


_LATERAL_ALIAS_ORACLE = """
    SELECT o_orderkey,
           o_totalprice * 0.9 AS discounted,
           (o_totalprice * 0.9) * (o_totalprice * 0.9) AS discounted_sq
    FROM orders
    WHERE o_orderkey < 1000
"""


@query("sql_lateral_column_alias", oracle=_LATERAL_ALIAS_ORACLE)
def sql_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4): a select item referencing an
    alias defined EARLIER IN THE SAME SELECT — no more nesting a derived
    table to reuse an expression.  The oracle re-expands the alias
    textually; both sides perform the same two IEEE multiplications per
    row, so values hash-match exactly."""
    return spark.sql(
        """
        SELECT o_orderkey,
               o_totalprice * 0.9 AS discounted,
               discounted * discounted AS discounted_sq
        FROM {orders}
        WHERE o_orderkey < 1000
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


_SQL_SCALAR_UDF_ORACLE = """
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - l_discount AS DECIMAL(18,2)) AS DOUBLE)
               AS net_price
    FROM lineitem
    WHERE l_orderkey < 1000
"""


@query("sql_scalar_udf", oracle=_SQL_SCALAR_UDF_ORACLE)
def sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF (SPARK-46057, Spark 4.0): ``CREATE FUNCTION ...
    RETURNS ... RETURN <expr>`` — reusable business logic named in pure
    SQL.  Unlike a Python UDF this is NOT an opaque black box: Catalyst
    inlines the body at every call site, so the expression stays inside
    whole-stage codegen, constant-folds, and pushes down like any other
    expression — the UDF that is *not* the slow path.  The oracle runs
    the textually-inlined body; identical decimal arithmetic on both
    engines, exact value match."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION net_price(
            price DECIMAL(18,2), discount DECIMAL(18,2))
        RETURNS DOUBLE
        RETURN CAST(price * (1 - discount) AS DOUBLE)
        """
    )
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               net_price(CAST(l_extendedprice AS DECIMAL(18,2)),
                         CAST(l_discount AS DECIMAL(18,2))) AS net_price
        FROM {lineitem}
        WHERE l_orderkey < 1000
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


_SQL_TABLE_UDF_ORACLE = """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_acctbal >= 9000.0
"""


@query("sql_table_udf", oracle=_SQL_TABLE_UDF_ORACLE)
def sql_table_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL table UDF (SQL UDTF, Spark 4.0): ``CREATE FUNCTION ...
    RETURNS TABLE(...) RETURN SELECT ...`` — a parameterized view.  The
    body is inlined into the calling plan (verifiable: the scan keeps
    its PushedFilters on c_acctbal), so unlike an opaque Python UDTF the
    optimizer sees through it — predicate pushdown, column pruning, and
    join reordering all still apply.  This is the 100 TB-safe way to
    package a reusable parameterized subquery.

    The body names its table, and Spark resolves that name when the
    function is called, not when it is created: a temp view with a name
    of its own, dropped once the call is analyzed (one of the two named
    views on the engine's allowlist, tests/test_catalog.py)."""
    import uuid as _uuid

    src = f"customer_{_uuid.uuid4().hex[:8]}"
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(src)
    try:
        spark.sql(
            f"""
            CREATE OR REPLACE TEMPORARY FUNCTION rich_customers(minbal DOUBLE)
            RETURNS TABLE(c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE)
            RETURN SELECT c_custkey, c_name, c_acctbal
                   FROM {src} WHERE c_acctbal >= minbal
            """
        )
        return spark.sql("SELECT * FROM rich_customers(9000.0)")
    finally:
        spark.catalog.dropTempView(src)


_EXEC_IMMEDIATE_ORACLE = """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 150000.0
    GROUP BY o_orderpriority
"""


@query("sql_execute_immediate", oracle=_EXEC_IMMEDIATE_ORACLE)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE (Spark 4): run a SQL string with ?-placeholders
    bound via USING — the dynamic-SQL escape hatch migrated stored
    procedures and BI tooling rely on, with real PARAMETER BINDING
    instead of string concatenation (the injection-unsafe pattern it
    replaces).  Complements IDENTIFIER() (dynamic names) and named
    parameters (sql_parameterized): together they cover the dynamic-SQL
    matrix — text, identifiers, and values.

    The bound statement compiles to the same Catalyst plan as its static
    form (the oracle), so dynamism costs nothing at plan time.  The
    orders input is bound like any other query's: the placeholder inside
    the statement string renders before Spark parses it."""
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority, COUNT(*) AS n_orders
           FROM {orders} WHERE o_orderstatus = ? AND o_totalprice > ?
           GROUP BY o_orderpriority'
          USING 'F', 150000.0
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


_HINTS_ORACLE = """
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
"""


@query("sql_optimizer_hints", oracle=_HINTS_ORACLE)
def sql_optimizer_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL optimizer hints (/*+ ... */): the escape hatch for the cases
    the planner cannot know — BROADCAST pins the build side for the
    bounded dims (this engine's broadcast policy routes ALL dim
    broadcasts through explicit hints; see session.py), REBALANCE lets
    AQE split/merge the post-aggregation output files.  Hint syntax is
    part of the query surface users port: an engine that parses but
    ignores them (or rejects them) breaks tuned production SQL.

    Semantically hints are no-ops — the oracle runs the bare query and
    values must hash-match exactly; tests/test_plans.py asserts the
    BROADCAST hints actually produced BroadcastHashJoins, so this entry
    checks both halves of the contract: same answer, requested plan."""
    return spark.sql(
        """
        SELECT /*+ BROADCAST(customer), BROADCAST(nation), REBALANCE */
               n_name,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM {orders}
        JOIN {customer} customer ON o_custkey = c_custkey
        JOIN {nation} nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """,
        customer=load_table(spark, sf_dir, "customer"),
        nation=load_table(spark, sf_dir, "nation"),
        orders=load_table(spark, sf_dir, "orders"),
    )


_DIRECT_FILE_ORACLE = """
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
"""


@query("sql_direct_file_query", oracle=_DIRECT_FILE_ORACLE)
def sql_direct_file_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Zero-registration SQL over files: ``FROM parquet.`/path\`` queries
    the file directly — no temp view, no catalog entry, no session
    state.  This is how ad-hoc exploration actually starts ("what's in
    this directory?"), and DuckDB users switching over expect it (their
    read_parquet('...') idiom).  The scan is the ordinary parquet
    relation — pushdown, pruning, and the type-adaptive behaviors all
    apply; only the name-resolution path differs.

    Works for every registered format (parquet./ json./ orc./ csv.);
    parquet shown joined against a second direct-file scan to prove the
    form composes like any relation."""
    cust = table_path(sf_dir, "customer")
    nat = table_path(sf_dir, "nation")
    return spark.sql(
        f"""
        SELECT n_name, COUNT(*) AS n_customers
        FROM parquet.`{cust}` JOIN parquet.`{nat}`
          ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


_VALUES_DIM_ORACLE = """
    WITH sla(priority, sla_days) AS (
        VALUES ('1-URGENT', 7), ('2-HIGH', 14), ('3-MEDIUM', 30),
               ('4-NOT SPECIFIED', 60), ('5-LOW', 90)
    )
    SELECT s.sla_days,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o JOIN sla s ON o.o_orderpriority = s.priority
    GROUP BY s.sla_days
"""


@query("sql_values_inline_dim", oracle=_VALUES_DIM_ORACLE)
def sql_values_inline_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES dimension — the literal lookup table embedded in
    the query text (SLA days per priority class), joined against the
    fact without any registration or file: how business-rule mappings
    actually enter ad-hoc SQL.  Spark plans the VALUES relation as a
    LocalRelation: constant-folded, broadcast by construction, zero
    scan — the cheapest possible dimension, and the right home for
    rules that change with the query rather than with the data.

    Same text shape runs on both engines (the oracle is literally the
    same CTE), so this also pins VALUES-syntax compatibility."""
    return spark.sql(
        """
        WITH sla(priority, sla_days) AS (
            VALUES ('1-URGENT', 7), ('2-HIGH', 14), ('3-MEDIUM', 30),
                   ('4-NOT SPECIFIED', 60), ('5-LOW', 90)
        )
        SELECT s.sla_days,
               COUNT(*) AS n_orders
        FROM {orders} o JOIN sla s ON o.o_orderpriority = s.priority
        GROUP BY s.sla_days
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "sql_listagg_ordered",
    oracle="""
    SELECT r_name AS region_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           string_agg(DISTINCT CAST(n_nationkey % 5 AS VARCHAR), '|'
                      ORDER BY CAST(n_nationkey % 5 AS VARCHAR)) AS key_mods
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r_name
    """,
)
def sql_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL:2023 LISTAGG aggregate, NATIVE (Spark 4.1) — ordered
    string aggregation as one aggregate function with a WITHIN GROUP
    order and a DISTINCT variant, replacing the
    array_sort(collect_list())+array_join composition that
    string_agg_per_group documents as the workaround (both stay
    registered: one pins the native function, one the composition older
    engines need).

    Determinism is the entire point of WITHIN GROUP here: an unordered
    LISTAGG concatenates in shuffle order and can never hash-match an
    oracle; the mandatory ORDER BY makes the aggregate a pure function
    of the group's SET.  Scale: partial aggregation applies (ordered
    merge of sorted partials), state bounded by group payload — same
    budget as collect_list, with the dim-sized groups this targets."""
    return spark.sql(
        """
        SELECT r_name AS region_name,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
               listagg(DISTINCT CAST(n_nationkey % 5 AS STRING), '|')
                   WITHIN GROUP (ORDER BY CAST(n_nationkey % 5 AS STRING))
                   AS key_mods
        FROM {nation} n JOIN {region} r ON n.n_regionkey = r.r_regionkey
        GROUP BY r_name
        """,
        nation=load_table(spark, sf_dir, "nation"),
        region=load_table(spark, sf_dir, "region"),
    )


@query(
    "sql_named_arguments",
    oracle="""
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(c_name,
               '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', '9', 'g')
               AS masked_name,
           regexp_replace(regexp_replace(c_mktsegment,
               '[A-Z]', 'X', 'g'), '[0-9]', '9', 'g') AS masked_segment
    FROM customer WHERE c_custkey < 200
    """,
)
def sql_named_arguments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAMED FUNCTION ARGUMENTS (Spark 3.5+/4 `param => value` call
    syntax) on the built-in PII masker — the call-site clarity feature
    for builtins with long optional parameter lists, demonstrated on the
    one that matters for a data-curation engine: ``mask()`` with
    keyword-selected replacement classes (pairs with text_pii_scrub's
    regex tier; mask() is the column-level default-deny variant).

    The oracle reproduces mask's class mapping with explicit regex
    chains — certifying both the named-argument binding (skipped
    positional params keep defaults: otherChar stays NULL = unchanged)
    and the masking semantics."""
    return spark.sql(
        """
        SELECT c_custkey,
               mask(c_name, upperChar => 'X', lowerChar => 'x',
                    digitChar => '9') AS masked_name,
               mask(c_mktsegment, digitChar => '9', upperChar => 'X')
                   AS masked_segment
        FROM {customer} WHERE c_custkey < 200
        """,
        customer=load_table(spark, sf_dir, "customer"),
    )


_SESSION_VAR_ORACLE = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_big_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS revenue_cents
    FROM orders
    WHERE CAST(o_totalprice AS DECIMAL(18,2)) > 450000.00
    GROUP BY o_orderpriority
"""


@query("sql_session_variables", oracle=_SESSION_VAR_ORACLE)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (SQL:2023, shipped in Spark 4.0:
    DECLARE VARIABLE / SET VAR) — typed, session-scoped state that
    parameterizes SQL WITHOUT string interpolation: the threshold below
    travels as a DECIMAL variable the optimizer sees as a foldable
    constant (so predicate pushdown still happens), not as text pasted
    into the query — the injection-proof sibling of
    sql_parameterized's named-argument binding.  DECLARE, re-SET (the
    initial DEFAULT is deliberately overridden, proving assignment),
    then reference in a WHERE.

    The oracle inlines the final constant; a binding bug (stale
    default, type coercion drift) value-hash-mismatches.

    Scale: zero — the variable folds at plan time; the query is a
    plain pushed-filter aggregation."""
    spark.sql(
        "DECLARE OR REPLACE VARIABLE big_order_floor DECIMAL(18,2) DEFAULT 100.00"
    )
    spark.sql("SET VAR big_order_floor = 450000.00")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_big_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                   AS revenue_cents
        FROM {orders}
        WHERE CAST(o_totalprice AS DECIMAL(18,2)) > big_order_floor
        GROUP BY o_orderpriority
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


_ANALYZE_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows_actual,
           CAST(COUNT(*) AS BIGINT) AS n_rows_stats,
           CAST(1 AS INT) AS stats_match
    FROM orders WHERE o_orderpriority = '1-URGENT'
"""


@query("sql_analyze_table_stats", oracle=_ANALYZE_ORACLE)
def sql_analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based-optimizer statistics — ANALYZE TABLE ... COMPUTE
    STATISTICS, the catalog surface that feeds Spark's CBO (join
    reordering, broadcast decisions from rowCount/sizeInBytes instead
    of file-size guesses).  A managed table is materialized, analyzed,
    and the ROW COUNT THE CATALOG NOW BELIEVES is read back from
    DESCRIBE EXTENDED and compared against the live count — the oracle
    pins both to the source construction, so stale or missing stats
    (the silent CBO failure mode: plans regress and nothing errors)
    hash-mismatch instead of lurking.

    Scale: ANALYZE is one scan (NOSCAN skips rowCount — deliberately
    not used); stats are per-table catalog metadata, the same
    mechanism that makes partitioned-fact CBO viable at 100 TB."""
    import re as _re
    import uuid as _uuid

    tbl = f"urgent_orders_{_uuid.uuid4().hex[:8]}"
    spark.sql(
        f"CREATE TABLE {tbl} USING parquet AS "
        "SELECT * FROM {orders} WHERE o_orderpriority = '1-URGENT'",
        orders=load_table(spark, sf_dir, "orders"),
    )
    try:
        spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
        desc = spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
        stats_line = next(
            r.data_type for r in desc if r.col_name.strip() == "Statistics"
        )
        m = _re.search(r"(\d+)\s+rows", stats_line)
        n_stats = int(m.group(1)) if m else -1
        # the audit's second operand: one scalar count action (the same
        # class as the iterative operators' convergence probes) — catalog
        # metadata vs live data is inherently a driver-side comparison
        actual = spark.table(tbl).count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    return spark.createDataFrame(
        [(actual, n_stats, 1 if n_stats == actual else 0)],
        "n_rows_actual bigint, n_rows_stats bigint, stats_match int",
    )


_DEFAULT_COL_ORACLE = """
    SELECT 'NEW' AS status, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM nation WHERE n_nationkey % 2 = 0
    UNION ALL
    SELECT 'LEGACY' AS status, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM nation WHERE n_nationkey % 2 = 1
"""


@query("sql_default_column_values", oracle=_DEFAULT_COL_ORACLE)
def sql_default_column_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFAULT column values (SQL standard, Spark 3.4+ for the parquet
    source) — the schema-evolution knob that lets writers OMIT a column
    and still land a typed value, which is how a table grows a new
    NOT-NULL-semantics column without rewriting producers: even-keyed
    nations are inserted WITHOUT the status column (the declared
    DEFAULT 'NEW' must fill it), odd-keyed rows write 'LEGACY'
    explicitly, and the read-back rollup is pinned by the oracle to the
    construction — a reader seeing NULL where the DEFAULT belongs (the
    pre-3.4 behavior, and the bug class this feature exists to kill)
    hash-mismatches.

    Scale: catalog metadata only — the default is applied at INSERT
    analysis time, no data-path cost."""
    import uuid as _uuid

    tbl = f"nation_status_{_uuid.uuid4().hex[:8]}"
    spark.sql(
        f"CREATE TABLE {tbl} (n_nationkey INT, status STRING DEFAULT 'NEW') "
        "USING parquet"
    )
    try:
        spark.sql(
            f"INSERT INTO {tbl} (n_nationkey) "
            "SELECT n_nationkey FROM {nation} WHERE n_nationkey % 2 = 0",
            nation=load_table(spark, sf_dir, "nation"),
        )
        spark.sql(
            f"INSERT INTO {tbl} "
            "SELECT n_nationkey, 'LEGACY' FROM {nation} WHERE n_nationkey % 2 = 1",
            nation=load_table(spark, sf_dir, "nation"),
        )
        out = (
            spark.table(tbl)
            .groupBy("status")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
            # eager checkpoint detaches the 2-row result from the managed
            # table so the DROP below can't invalidate it — no driver
            # collect in the query path
            .localCheckpoint()
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    return out


_ORDERED_SET_ORACLE = """
    SELECT event_type,
           quantile_disc(value, 0.5) AS median_disc,
           quantile_disc(value, 0.9) AS p90_disc,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
"""


@query("sql_ordered_set_aggregates", oracle=_ORDERED_SET_ORACLE)
def sql_ordered_set_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2023 ordered-set aggregate syntax: ``percentile_disc(p)
    WITHIN GROUP (ORDER BY value)`` — the standard's spelling of
    order-dependent aggregation, planned as a native aggregate (no
    window, no self-join).  Discrete percentiles return an ACTUAL
    element, which is what makes this oracle-checkable at all — the
    continuous variant interpolates with engine-specific float rounding
    (the agg_quantiles_exact lesson), while an element pick is exact on
    any engine.  Sibling of sql_listagg_ordered on the WITHIN GROUP
    surface.

    One map-side-combined aggregation; percentile_disc is implemented
    as a sort-based aggregate whose per-group state is the value
    multiset — at 100 TB swap for approx_percentile where the group
    cardinality is unbounded (documented trade, agg_percentile_approx)."""
    return spark.sql(
        """
        SELECT event_type,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY value)
                   AS median_disc,
               percentile_disc(0.9) WITHIN GROUP (ORDER BY value)
                   AS p90_disc,
               COUNT(*) AS n
        FROM {events} GROUP BY event_type
        """,
        events=load_table(spark, sf_dir, "events"),
    )


@query(
    "sql_select_star_except",
    oracle="""
    SELECT * EXCLUDE (n_comment)
    FROM (SELECT n_nationkey, n_name, n_regionkey,
                 'x' AS n_comment
          FROM nation) t
    ORDER BY n_nationkey LIMIT 5
    """,
)
def sql_select_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection-by-exclusion: ``SELECT * EXCEPT (cols)`` — the wide-
    table ergonomic (drop the 2 audit columns from a 400-column scan
    without enumerating 398) that also matters at 100 TB because the
    EXCEPT form still column-prunes: the analyzer expands it to a
    concrete projection, so the parquet reader reads exactly the kept
    columns, same as an explicit list.  Dialect note pinned by this op:
    Spark spells it EXCEPT, DuckDB spells it EXCLUDE — same semantics,
    different keyword (a migration grep target).

    The probe row fabricates a to-be-dropped column so the exclusion is
    observable in the compared schema."""
    return spark.sql(
        """
        SELECT * EXCEPT (n_comment)
        FROM (SELECT n_nationkey, n_name, n_regionkey,
                     'x' AS n_comment
              FROM {nation}) t
        ORDER BY n_nationkey LIMIT 5
        """,
        nation=load_table(spark, sf_dir, "nation"),
    )
