"""Event-time windowing over the ``events`` table, batch mode (SURVEY.md
§2.B "Streaming", batch-mode equivalents row).

These are the oracle-checkable twins of the Structured Streaming queries in
``streaming/stream_queries.py`` — same ``F.window`` / ``F.session_window``
expressions, run over the bounded table.  The batch/stream parity (same
DuckDB oracle for both) is the correctness argument for the streaming state
handling (SURVEY.md §7 stage 6 strategy).

Scale: event-time grouping shuffles on (window, keys) with partial
aggregation; at 100 TB the input would be hour/day-partitioned Parquet so
the shuffle only ever sees one partition's worth per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_aws_spark.catalog import bare_tables, load_table
from etl_pipeline_aws_spark.functions.numeric import dsum
from etl_pipeline_aws_spark.registry import query

TUMBLING_ORACLE = """
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
"""


@query("window_tumbling", oracle=TUMBLING_ORACLE)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute event-time windows per event type."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


SLIDING_ORACLE = """
    -- every event belongs to exactly size/slide = 2 sliding windows
    SELECT ws AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM (
        SELECT e.value,
               time_bucket(INTERVAL '5 minutes', e.ts) - k.k * INTERVAL '5 minutes' AS ws
        FROM events e
        CROSS JOIN (SELECT 0 AS k UNION ALL SELECT 1) k)
    GROUP BY ws
"""


@query("window_sliding", oracle=SLIDING_ORACLE)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows, 10-minute size / 5-minute slide: each event lands in
    two overlapping windows (Spark expands via its internal window
    generator; the oracle expands explicitly)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


SESSION_ORACLE = """
    -- gaps-and-islands: a >=30-minute silence starts a new session
    -- (matches Spark's half-open [start, last+gap) session semantics)
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
        SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
"""


@query("window_session", oracle=SESSION_ORACLE)
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "events_type_summary",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def events_type_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-stream rollup per event type (the foreachBatch routing
    check target in streaming/stream_queries.py)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        dsum("value").alias("sum_value"),
    )


GAPFILL_ORACLE = """
    WITH actual AS (
        SELECT event_type,
               time_bucket(INTERVAL '10 minutes', ts) AS bucket_start,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT MIN(time_bucket(INTERVAL '10 minutes', ts)) AS lo,
               MAX(time_bucket(INTERVAL '10 minutes', ts)) AS hi
        FROM events
    ), spine AS (
        SELECT t.event_type, g.bucket_start
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL '10 minutes'))
                        AS bucket_start
                    FROM bounds) g
    )
    SELECT s.event_type, s.bucket_start,
           CAST(COALESCE(a.n_events, 0) AS BIGINT) AS n_events,
           last_value(a.sum_value IGNORE NULLS)
               OVER (PARTITION BY s.event_type ORDER BY s.bucket_start
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS filled_value,
           a.n_events IS NULL AS is_gap
    FROM spine s
    LEFT JOIN actual a
      ON s.event_type = a.event_type AND s.bucket_start = a.bucket_start
"""

_GAP_BIN_US = 600_000_000  # 10 minutes in microseconds


@query("events_gapfill_locf", oracle=GAPFILL_ORACLE)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill with last-observation-carried-forward — the
    hypertable `time_bucket_gapfill + locf` shape: every (event_type,
    10-minute bucket) slot between the corpus' first and last bucket
    exists in the output, empty slots carry the previous bucket's value
    forward, and an ``is_gap`` flag marks the synthesized rows.

    Plan: one shuffle for the bucket aggregation; the spine is a 1-row
    min/max aggregate crossed with the distinct type set (scale-free
    broadcast) exploded through ``sequence`` — never a driver loop; the
    LOCF is one window pass partitioned per series.  At 100 TB the
    bucket agg is the only data-sized stage (map-side combined on a
    dense key); the spine's size is #series x #buckets — a property of
    the *time range*, not the row count."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    bucket = F.timestamp_micros(
        (F.floor(F.unix_micros(F.col("ts")) / _GAP_BIN_US) * _GAP_BIN_US).cast("long")
    )
    actual = (
        ev.groupBy("event_type", bucket.alias("bucket_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )
    bounds = ev.agg(
        F.min(bucket).alias("lo"),
        F.max(bucket).alias("hi"),
    )
    types = ev.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 10 MINUTES"))
            ).alias("bucket_start"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(actual, ["event_type", "bucket_start"], "left")
        .select(
            "event_type",
            "bucket_start",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("sum_value", ignorenulls=True).over(w).alias("filled_value"),
            F.col("n_events").isNull().alias("is_gap"),
        )
    )


SESSION_TTL_MIN = 30  # each event opens a 30-minute activity interval


CONCURRENCY_ORACLE = f"""
    WITH iv AS (
        SELECT ts AS s, ts + INTERVAL '{SESSION_TTL_MIN} minutes' AS e FROM events
    ), pieces AS (
        SELECT CAST(s AS DATE) AS day, s, LEAST(e, CAST(s AS DATE) + INTERVAL '1 day') AS e
        FROM iv
        UNION ALL
        SELECT CAST(e AS DATE) AS day, CAST(e AS DATE) AS s, e
        FROM iv
        WHERE CAST(e AS DATE) > CAST(s AS DATE) AND e > CAST(e AS DATE)
    ), pts AS (
        SELECT day, s AS t, 1 AS delta FROM pieces
        UNION ALL
        SELECT day, e AS t, -1 AS delta FROM pieces
    ), run AS (
        SELECT day,
               SUM(delta) OVER (PARTITION BY day ORDER BY t, delta
                                ROWS UNBOUNDED PRECEDING) AS conc
        FROM pts
    )
    SELECT day, CAST(MAX(conc) AS BIGINT) AS max_concurrent
    FROM run GROUP BY day
"""


@query("events_concurrent_sessions", oracle=CONCURRENCY_ORACLE)
def events_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day — the interval-sweep problem: every event
    opens a 30-minute activity interval, and the answer is the maximum
    number of simultaneously-open intervals each day (capacity planning's
    load question, which no group-by can answer).

    Classic sweep: intervals become +1/-1 boundary points, concurrency is
    the running sum in time order, the answer its per-day max.  Intervals
    crossing midnight are split at the boundary (the second piece opens AT
    midnight, so it is counted in the next day's sweep — clipping is
    exact, not an approximation).  Tie rule pinned by ordering (t, delta):
    an interval ending exactly when another starts is closed first
    (half-open [s, e) semantics), identical in both engines.

    Scale: the sweep window is partitioned by DAY — each partition sorts
    one day's boundary points, never a global order.  At 100 TB day
    partitions are still large; the same algorithm then runs at hour
    grain with per-bucket boundary carry (a two-pass prefix sum: open
    count entering each bucket = Σ earlier (+1) − Σ earlier (−1), a
    broadcast-sized per-bucket table) — the sweep itself is unchanged."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr(f"INTERVAL {SESSION_TTL_MIN} MINUTES")).alias("e"),
    )
    next_midnight = F.date_add(F.to_date("s"), 1).cast("timestamp")
    within = ev.select(
        F.to_date("s").alias("day"), "s", F.least("e", next_midnight).alias("e")
    )
    crossers = ev.filter(
        (F.to_date("e") > F.to_date("s")) & (F.col("e") > F.to_date("e").cast("timestamp"))
    ).select(
        F.to_date("e").alias("day"),
        F.to_date("e").cast("timestamp").alias("s"),
        "e",
    )
    pieces = within.unionByName(crossers)
    pts = pieces.select("day", F.col("s").alias("t"), F.lit(1).alias("delta")).unionByName(
        pieces.select("day", F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("day")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = pts.select("day", F.sum("delta").over(w).alias("conc"))
    return run.groupBy("day").agg(F.max("conc").cast("long").alias("max_concurrent"))


_DYN_SESSION_ORACLE = """
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN event_type = 'click' THEN INTERVAL 10 MINUTE
                    ELSE INTERVAL 30 MINUTE END AS gap
        FROM events
    ), marked AS (
        SELECT user_id, ts, ts + gap AS window_end,
               CASE WHEN ts >= MAX(ts + gap) OVER (
                        PARTITION BY user_id ORDER BY ts, ts + gap
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    OR MAX(ts + gap) OVER (
                        PARTITION BY user_id ORDER BY ts, ts + gap
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM g
    ), sess AS (
        SELECT user_id, ts, window_end,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, window_end
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS sess_id
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(window_end) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess
    GROUP BY user_id, sess_id
"""


@query("window_session_dynamic_gap", oracle=_DYN_SESSION_ORACLE)
def window_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows whose inactivity gap is a PER-ROW expression —
    clicks time out after 10 minutes, everything else after 30
    (``session_window(ts, when(...))``, the dynamic-gap form): the
    engagement model where a click signals active attention and a view
    may be idle reading.

    Semantics pinned by the oracle, which rebuilds Spark's merge rule
    from scratch: each event spans [ts, ts+gap); a new session starts
    exactly when an event's ts clears the RUNNING MAX of all previous
    span ends (not just the latest — a long-gap event can bridge over a
    short-gap one); session_end is the max span end, so it carries the
    closing event's own gap.  Same one-shuffle layout as the fixed-gap
    window_session; the gap expression is a codegen'd scalar, so dynamic
    costs nothing extra."""
    ev = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "click", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


_TWAP_ORACLE = """
    WITH e AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               ts,
               CAST(value AS DECIMAL(18,2)) AS v,
               epoch_us(COALESCE(
                   lead(ts) OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY ts, event_id),
                   date_trunc('day', ts) + INTERVAL 1 DAY)) - epoch_us(ts)
                   AS dt_us
        FROM events
    )
    SELECT event_type, day,
           CAST(SUM(v * dt_us) AS DOUBLE) / CAST(SUM(dt_us) AS DOUBLE) AS twap,
           CAST(SUM(dt_us) AS BIGINT) AS covered_us
    FROM e
    GROUP BY event_type, day
    HAVING SUM(dt_us) > 0
"""


@query("events_twap_daily", oracle=_TWAP_ORACLE)
def events_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per series per day (TWAP) — the metric
    for irregularly-sampled gauges, where a plain AVG over-weights bursts:
    each observation holds until the next one (step interpolation), the
    last until midnight; weight = held-interval microseconds.

    Exactness: weights are integer micros from one lead() pass (ties get
    zero weight, so the event_id tie-break cannot change the value);
    value x weight products are exact decimal x int; both sums are exact;
    the single closing division is two exact operands.  One window + one
    aggregation, both on the (event_type, day) partitioning — at 100 TB
    this is a narrow scan with calendar-bounded output."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    w = Window.partitionBy("event_type", day.alias("d")).orderBy("ts", "event_id")
    e = ev.select(
        "event_type",
        day.cast("date").alias("day"),
        F.col("value").cast("decimal(18,2)").alias("v"),
        (
            F.unix_micros(
                F.coalesce(
                    F.lead("ts").over(
                        Window.partitionBy(
                            "event_type", F.date_trunc("day", F.col("ts"))
                        ).orderBy("ts", "event_id")
                    ),
                    F.date_trunc("day", F.col("ts")) + F.expr("INTERVAL 1 DAY"),
                )
            )
            - F.unix_micros("ts")
        ).alias("dt_us"),
    )
    return (
        e.groupBy("event_type", "day")
        .agg(
            (
                F.sum(F.col("v") * F.col("dt_us")).cast("double")
                / F.sum("dt_us").cast("double")
            ).alias("twap"),
            F.sum("dt_us").alias("covered_us"),
        )
        .filter(F.col("covered_us") > 0)
    )


SESSION_CONV_ORACLE = """
    WITH flagged AS (
        SELECT user_id, ts, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
        SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    ), sessions AS (
        SELECT user_id, session_id,
               CAST(MIN(ts) AS DATE) AS session_day,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
               MAX(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS last_purchase
        FROM numbered
        GROUP BY user_id, session_id
    )
    SELECT session_day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shopping,
           CAST(SUM(CASE WHEN last_purchase >= first_view THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted,
           CAST(SUM(CASE WHEN first_view IS NOT NULL
                              AND (last_purchase IS NULL
                                   OR last_purchase < first_view)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned
    FROM sessions
    GROUP BY session_day
"""


@query("events_session_conversion", oracle=SESSION_CONV_ORACLE)
def events_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-scoped conversion / abandonment — the cart-abandonment
    metric: a session converts only if a purchase follows a view
    WITHIN THE SAME 30-minute-gap session (events_funnel's 7-day
    user-level window answers a different question: eventual
    conversion; this one answers "did they walk out of the store").
    Per session day: sessions, shopping sessions (saw a view),
    converted (ordered view→purchase inside the session), abandoned
    (viewed, never purchased after).

    Same sessionization rule as window_session / the streamed twins
    (one gaps-and-islands pass on the oracle side, native
    session_window on the engine side is NOT used here because the
    conversion needs intra-session event ORDER, which the window
    aggregate erases — the lag-based island build keeps it).

    Scale: one user-keyed window pass + a sessions-sized rollup; exact
    integer counts."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
                >= 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sessions = numbered.groupBy("user_id", "session_id").agg(
        F.min("ts").cast("date").alias("session_day"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "last_purchase"
        ),
    )
    return sessions.groupBy("session_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.count("first_view").cast("long").alias("n_shopping"),
        F.count(
            F.when(F.col("last_purchase") >= F.col("first_view"), F.lit(1))
        )
        .cast("long")
        .alias("n_converted"),
        F.count(
            F.when(
                F.col("first_view").isNotNull()
                & (
                    F.col("last_purchase").isNull()
                    | (F.col("last_purchase") < F.col("first_view"))
                ),
                F.lit(1),
            )
        )
        .cast("long")
        .alias("n_abandoned"),
    )


def _allen_sql(epoch_us: str) -> str:
    """Shared Allen-relation text; epoch-microsecond spelling per
    dialect.  Canonical (ua < ub) pairs, so the 6 inverse relations
    fold onto their primals and the classification is a 7-way CASE."""
    return f"""
WITH spans AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(MIN({epoch_us}(ts)) AS BIGINT) AS s,
           CAST(MAX({epoch_us}(ts)) AS BIGINT) AS e
    FROM {{events}}
    GROUP BY user_id, CAST(ts AS DATE)
    HAVING COUNT(*) >= 2
), pairs AS (
    SELECT a.s AS sa, a.e AS ea, b.s AS sb, b.e AS eb
    FROM spans a JOIN spans b
      ON a.day = b.day AND a.user_id < b.user_id
), classified AS (
    SELECT CASE
        WHEN ea < sb OR eb < sa THEN 'before'
        WHEN ea = sb OR eb = sa THEN 'meets'
        WHEN sa = sb AND ea = eb THEN 'equals'
        WHEN sa = sb THEN 'starts'
        WHEN ea = eb THEN 'finishes'
        WHEN (sa > sb AND ea < eb) OR (sb > sa AND eb < ea) THEN 'during'
        ELSE 'overlaps'
    END AS relation
    FROM pairs
)
SELECT relation, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM classified GROUP BY relation
"""


_ALLEN_ORACLE = _allen_sql("epoch_us")
_ALLEN_SPARK = _allen_sql("unix_micros")


@query("interval_allen_relations", oracle=bare_tables(_ALLEN_ORACLE))
def interval_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra over same-day user activity spans — the
    COMPLETE classification of how two intervals can relate (before /
    meets / overlaps / starts / during / finishes / equals, inverses
    folded onto primals by the canonical user ordering), where the
    existing interval operators only ever ask one of its cells:
    interval_overlap_pairs asks "overlaps?", events_concurrent_sessions
    asks "how many during?".  The full matrix is the temporal-reasoning
    read behind contact tracing, meeting-room conflicts, and
    co-session attribution — and `meets` (endpoint EQUALITY at
    microsecond grain) is exactly the boundary class a float or
    second-truncated timestamp pipeline silently destroys.

    Exactness: spans are exact microsecond MIN/MAX per (user, day)
    (≥2 events so every span is a genuine interval); the CASE ladder
    is ordered so each pair lands in exactly ONE relation (disjunction
    tested first, endpoint equalities before the open-interval
    classes); counts are the fold.

    Scale: the pair build is an EQUI-join on day (the concurrency
    family's shape); per-day pair counts are the documented quadratic
    tier — cap or bucket users-per-day at fact scale (the
    events_copresence_topk treatment)."""
    return spark.sql(_ALLEN_SPARK, events=load_table(spark, sf_dir, "events"))


COVERAGE_TTL_MIN = 30  # each event opens a 30-minute activity interval


def _coverage_sql(micros_fn: str) -> str:
    """Shared interval-union text; per-dialect epoch-micros accessor."""
    ttl_us = COVERAGE_TTL_MIN * 60 * 1_000_000
    return f"""
WITH iv AS (
    SELECT user_id,
           {micros_fn} AS s,
           {micros_fn} + {ttl_us} AS e
    FROM {{events}}
), marked AS (
    SELECT user_id, s, e,
           MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
    FROM iv
), islands AS (
    SELECT user_id, s, e,
           SUM(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS UNBOUNDED PRECEDING) AS island
    FROM marked
), merged AS (
    SELECT user_id, island,
           CAST(MIN(s) AS BIGINT) AS island_s,
           CAST(MAX(e) AS BIGINT) AS island_e
    FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(island_e - island_s) AS BIGINT) AS covered_micros,
       CAST(MAX(island_e - island_s) AS BIGINT) AS longest_island_micros
FROM merged GROUP BY user_id
"""


@query(
    "events_active_coverage_union",
    oracle=bare_tables(_coverage_sql("epoch_us(ts)")),
)
def events_active_coverage_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total ACTIVE time per user as an interval UNION: every event opens
    a {COVERAGE_TTL_MIN}-minute activity window, overlapping windows
    merge, and the answer is the deduplicated coverage — the
    "time actually spent" metric billing and engagement models need
    (summing per-event TTLs double-counts every burst; session counts
    hide duration).  The third member of the interval family:
    events_concurrent_sessions sweeps for PEAK overlap,
    interval_overlap_pairs enumerates overlaps, this one measures the
    union.

    Merge = the gaps-and-islands prefix-max trick, one pass, NO
    self-join: an interval starts a new island iff its start exceeds
    the running max end of everything before it (MAX ... ROWS UNBOUNDED
    PRECEDING AND 1 PRECEDING); island ids are the running sum of those
    starts.  Exactness: epoch microseconds end to end — integer
    arithmetic only (the r5-advice lesson: second-truncated casts
    diverge from interval comparisons at boundaries).

    Scale: two windows and one reduction, all partitioned on user_id —
    one user-key shuffle total; no per-pair work, so a user with 10⁶
    events costs 10⁶ log-sorted rows, never 10¹² pairs."""
    return spark.sql(
        _coverage_sql("unix_micros(ts)"),
        events=load_table(spark, sf_dir, "events"),
    )
