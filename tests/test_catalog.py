"""Catalog reader behavior — above all the type-adaptive events ``ts``
normalization that absorbed round 2's testdata drift."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_aws_spark.catalog import load_table, normalize_events_ts
from tests.conftest import SF_DIR, SF_SMALL


def test_normalize_events_ts_all_three_physical_shapes(spark):
    """The same instant stored three ways — nanos-as-long (legacy
    TIMESTAMP(NANOS) surface), TIMESTAMP_NTZ (MICROS, isAdjustedToUTC
    false), and TIMESTAMP (MICROS/UTC) — must normalize to the identical
    session-TZ TIMESTAMP value.  This is the unit-level guarantee behind
    the stream/batch schema-parity test: whichever shape the next
    testdata generation picks, every downstream ts consumer sees one
    type and one value."""
    micros = 1_705_315_800_123_456  # 2024-01-15 10:50:00.123456 UTC
    as_long = spark.createDataFrame([(micros * 1000,)], "ts long")
    as_ntz = spark.sql(
        f"SELECT CAST(timestamp_micros({micros}) AS TIMESTAMP_NTZ) AS ts"
    )
    as_ltz = spark.sql(f"SELECT timestamp_micros({micros}) AS ts")

    outs = [normalize_events_ts(df) for df in (as_long, as_ntz, as_ltz)]
    for out in outs:
        assert dict(out.dtypes)["ts"] == "timestamp"
    values = {out.select(F.unix_micros("ts")).first()[0] for out in outs}
    assert values == {micros}, values


def test_load_events_is_normalized_and_usable(spark):
    """Whatever the current testdata stores physically, the catalog's
    events surface must support the operations round 2 broke:
    unix_micros, window bucketing, and timestamp comparisons."""
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    row = (
        ev.select(
            F.unix_micros("ts").alias("us"),
            F.window("ts", "10 minutes").start.alias("w"),
        )
        .filter(F.col("us").isNotNull())
        .first()
    )
    assert row.us > 0 and row.w is not None


def test_operator_index_is_current():
    """OPERATORS.md must be regenerated whenever the registry changes —
    a stale index misleads exactly the reader it exists for.  The check
    renders to memory (no file side effects, so a stale index keeps
    failing until actually regenerated) and derives paths from this
    file's location, not a hardcoded checkout path."""
    import os
    import sys

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo_root, "tools"))
    try:
        import gen_operator_index
    finally:
        sys.path.pop(0)
    committed = open(os.path.join(repo_root, "OPERATORS.md")).read()
    assert committed == gen_operator_index.render(), (
        "OPERATORS.md stale: rerun tools/gen_operator_index.py"
    )


def test_schema_cache_returns_same_data_and_schema(spark):
    """r11: load_table hands the reader a cached schema (skipping per-call
    footer inference).  The cached read must be indistinguishable from a
    direct spark.read.parquet — same schema, same rows."""
    from etl_pipeline_aws_spark.catalog import _SCHEMA_CACHE, table_path

    sf = "/root/testdata/sf0.001"
    cached = load_table(spark, sf, "nation")
    direct = spark.read.parquet(table_path(sf, "nation"))
    assert cached.schema == direct.schema
    assert sorted(map(tuple, cached.collect())) == sorted(map(tuple, direct.collect()))
    assert table_path(sf, "nation") in _SCHEMA_CACHE


# Migrated queries of each input-binding shape: canonical tables only,
# a shared pipe-syntax text, derived frames bound beside a table, and
# the char-trigram consumer whose input is a spread documents frame.
INTERLEAVED = (
    "agg_grouping_sets",
    "sql_pipe_multi_stage",
    "parts_kraljic_matrix",
    "text_lang_id_char_ngram",
)


def test_interleaved_scale_factors_bind_their_own_inputs(spark):
    """SQL inputs are bound per call (``spark.sql(text, orders=...)``):
    queries built interleaved sf0.001 -> sf0.01 -> sf0.001 each return
    their first result at that scale factor, with no view bookkeeping,
    and leave no canonical-table or ``_pyspark_*`` view in the session
    catalog.  Under the old session-global views a build at one scale
    factor could re-point a view another query then read."""
    import etl_pipeline_aws_spark as engine
    from etl_pipeline_aws_spark.catalog import TABLES

    qs = engine.all_queries()
    first: dict[tuple[str, str], list] = {}
    for sf in (SF_SMALL, SF_DIR, SF_SMALL):
        for name in INTERLEAVED:
            rows = sorted(qs[name](spark, sf).collect(), key=repr)
            assert rows == first.setdefault((name, sf), rows), (name, sf)
            engine.clear_caches(spark)
    assert first[("agg_grouping_sets", SF_SMALL)] != first[("agg_grouping_sets", SF_DIR)]
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert not views & set(TABLES), views
    assert not [v for v in views if v.startswith("_pyspark_")], views


def test_bound_cached_frames_are_read_from_the_cache(spark):
    """spark.sql drops its per-call views on return, and dropping a view
    uncaches every cache entry whose plan matches the view's.  Builders
    that bind a persisted frame therefore bind it through a no-op
    filter, and their plan still reads the frame from the cache."""
    import etl_pipeline_aws_spark as engine

    qs = engine.all_queries()
    for name in ("orders_abc_xyz_classification", "parts_kraljic_matrix"):
        plan = qs[name](spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
        engine.clear_caches(spark)
        assert "InMemoryRelation [pk#" in plan, name


# The only engine sites that may name a session temp view, each because
# the named view is the feature: IDENTIFIER() binds a table by name, and
# a SQL table function's body names its table, resolved at call time.
# ``catalog.register_views`` survives only for the benchmark's traced
# mode (perfbench/layertrace.install_wrappers wraps it by name).
NAMED_VIEW_ALLOWLIST = {
    ("catalog.py", "register_views"),
    ("operators/sql_features.py", "sql_identifier_binding"),
    ("operators/sql_features.py", "sql_table_udf"),
}


def _named_view_sites():
    """(module path, innermost enclosing function, called name) of every
    call to ``createOrReplaceTempView`` or ``register_views`` in the
    package, and of every ``spark.table`` read of a canonical table."""
    import ast
    import pathlib

    from etl_pipeline_aws_spark.catalog import TABLES

    class Sites(ast.NodeVisitor):
        fn = "<module>"

        def visit_FunctionDef(self, node):
            outer, self.fn = self.fn, node.name
            self.generic_visit(node)
            self.fn = outer

        def visit_Call(self, node):
            f = node.func
            called = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            canonical = (
                called == "table" and node.args and getattr(node.args[0], "value", None) in TABLES
            )
            if called in ("createOrReplaceTempView", "register_views") or canonical:
                found.append((rel, self.fn, called))
            self.generic_visit(node)

    root = pathlib.Path(__file__).resolve().parent.parent / "etl_pipeline_aws_spark"
    found: list[tuple[str, str, str]] = []
    for path in sorted(root.rglob("*.py")):
        rel = str(path.relative_to(root))
        Sites().visit(ast.parse(path.read_text(encoding="utf-8")))
    return found


def test_named_temp_views_only_at_allowlisted_sites():
    """No engine query hands tables to SQL through a named session view
    or reads a canonical table by view name: outside the allowlist, SQL
    inputs are bound per call."""
    import etl_pipeline_aws_spark.catalog as catalog

    sites = set(_named_view_sites())
    assert {(path, fn) for path, fn, _ in sites} == NAMED_VIEW_ALLOWLIST, sites
    assert not hasattr(catalog, "_VIEWS_KEY")
