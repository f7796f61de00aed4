"""Structured Streaming operators — the reference's event-driven chain
(R12: S3 ObjectCreated notification → processor, R13: metadata-driven output
routing; SURVEY.md §3) re-expressed as Spark streaming over a file source.

Each query here REALLY streams: ``readStream`` over the events Parquet with
``trigger(availableNow=True)`` (the exact analog of the reference's
"process whatever has landed" S3-notify semantics), a memory/foreachBatch
sink, and the *result* returned as a batch DataFrame.  Because availableNow
replays the bounded input to completion, the outcome is deterministic and
shares the DuckDB oracle with the batch twins in operators/events.py —
that batch/stream parity is the streaming-state correctness argument
(SURVEY.md §7 stage 6).

At scale the same topology runs unbounded: the file source incrementally
lists new objects (the S3-notification upgrade), watermarks bound state,
and foreachBatch routes each micro-batch to its destination exactly once
per epoch.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pipeline_aws_spark.catalog import (
    bare_tables,
    load_table,
    normalize_events_ts,
    table_path,
)
from etl_pipeline_aws_spark.functions.numeric import dsum
from etl_pipeline_aws_spark.operators.events import (
    SESSION_ORACLE,
    SLIDING_ORACLE,
    TUMBLING_ORACLE,
)
from etl_pipeline_aws_spark.registry import query

def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (reference R12: the
    landing-zone arrival trigger).  The streaming file source watches a
    *directory* — we stage a landing zone holding the (symlinked) events
    file, exactly the reference's landing-bucket shape.  maxFilesPerTrigger
    bounds each micro-batch like one S3 notification batch.

    ``readStream`` requires an explicit schema; instead of hardcoding one
    testdata generation's physical types (round 2's headline defect — the
    writer moved ts from TIMESTAMP(NANOS) to MICROS/NTZ and the pinned
    LongType read garbage), probe the file's ACTUAL schema with a batch
    footer read and normalize ``ts`` exactly as the batch path does
    (catalog.normalize_events_ts) — stream and batch twins see identical
    types by construction, which tests/test_streaming.py pins.

    The legacy nanos-as-long conf this probe read depends on is session
    config, pinned at session build (session.py) and the driver boundary
    (__spark_entry__._with_utc) — not set here, same no-session-mutation
    contract as catalog.load_table (round-5 cleanup)."""
    raw_schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    landing = tempfile.mkdtemp(prefix="landing_")
    os.symlink(table_path(sf_dir, "events"), os.path.join(landing, "events-000.parquet"))
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    return normalize_events_ts(stream)


def _run_to_memory(result: DataFrame, output_mode: str) -> DataFrame:
    """Drive a streaming DataFrame to completion (availableNow) into a
    memory sink and return the materialized table."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    spark = result.sparkSession
    q = (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _tumbling_agg(ev: DataFrame) -> DataFrame:
    """The ONE tumbling aggregation shared by stream_tumbling (complete
    mode), stream_tumbling_append (append mode), and
    stream_tumbling_rocksdb (RocksDB state store): those three queries
    deliberately differ ONLY in output mode / state backend, and sharing
    the body makes that claim true by construction."""
    return (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
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


@query("stream_tumbling", oracle=TUMBLING_ORACLE)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation, genuinely streamed, sharing
    the batch twin's oracle (window_tumbling) — state is keyed by
    (window, event_type) and bounded by the 1-hour watermark."""
    agg = _tumbling_agg(read_events_stream(spark, sf_dir))
    return _run_to_memory(agg, "complete")


@query("stream_sliding", oracle=SLIDING_ORACLE)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked sliding-window aggregation (10-minute size, 5-minute
    slide), genuinely streamed; every event expands into two overlapping
    window states.  Shares the batch twin's oracle (window_sliding)."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"))
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
    return _run_to_memory(agg, "complete")


@query("stream_session", oracle=SESSION_ORACLE)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-minute gap) as a streaming aggregation
    — the merging-window state machine (sessions coalesce when a new event
    bridges two of them).  Shares the batch twin's oracle
    (window_session); complete output under availableNow emits every
    closed-and-open session at end of replay, matching batch."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
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
    return _run_to_memory(agg, "complete")


_LATE_CUT = "2024-01-08 00:00:00"

LATE_DROP_ORACLE = f"""
    -- batch 1 = events >= cut; batch 2 (the stragglers, all older than the
    -- post-batch-1 watermark) is dropped entirely; append mode emits only
    -- windows finalized by the last watermark (max on-time ts - 1 hour)
    WITH ontime AS (
        SELECT ts, value FROM events WHERE ts >= TIMESTAMP '{_LATE_CUT}'
    )
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM ontime
    GROUP BY 1
    HAVING window_start + INTERVAL '10 minutes'
               <= (SELECT MAX(ts) - INTERVAL '1 hour' FROM ontime)
"""


@query("stream_late_data_drop", oracle=LATE_DROP_ORACLE)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics, end to end and deterministic: the
    landing zone receives the on-time file (ts >= Jan 8) first, then a
    straggler file holding the oldest week.  After micro-batch 1 the
    watermark stands at max(on-time ts) - 1 hour, so every straggler row
    is older than the watermark and is dropped before aggregation; append
    mode then emits exactly the windows the final watermark passed.  The
    oracle replays both rules in SQL — this is the one streaming query
    whose *drop* behavior (not just its happy path) is oracle-checked.

    The on-time data is staged as TWO files (so the stragglers land in
    micro-batch 3): since Spark 3.4 late-row filtering uses the *previous*
    batch's watermark (watermarkForLateEvents) while eviction uses the
    current one — a straggler file in batch 2 would be admitted against
    the initial epoch-0 watermark and "late-emitted" instead of dropped."""
    cut = F.lit(_LATE_CUT).cast("timestamp")
    mid = F.lit("2024-01-19 00:00:00").cast("timestamp")
    ev = load_table(spark, sf_dir, "events").select("ts", "value")
    landing = tempfile.mkdtemp(prefix="late_landing_")

    def _stage(df: DataFrame, name: str, mtime: int) -> None:
        import glob
        import shutil

        tmp = tempfile.mkdtemp(prefix="late_stage_")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        dst = os.path.join(landing, name)
        shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dst)
        os.utime(dst, (mtime, mtime))  # file source processes oldest first

    ontime = ev.filter(F.col("ts") >= cut)
    _stage(ontime.filter(F.col("ts") < mid), "0-ontime-a.parquet", 1_000_000)
    _stage(ontime.filter(F.col("ts") >= mid), "1-ontime-b.parquet", 2_000_000)
    _stage(ev.filter(F.col("ts") < cut), "2-late.parquet", 3_000_000)

    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("value", T.DoubleType())]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(landing)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes"))
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
    return _run_to_memory(agg, "append")


@query(
    "stream_dedup",
    oracle="SELECT COUNT(DISTINCT event_id) AS n_unique FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming deduplication on the unique event key
    (watermark-bounded state), then a batch count of the deduped output."""
    ev = read_events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    out = _run_to_memory(deduped, "append")
    return out.agg(F.count(F.lit(1)).alias("n_unique"))


@query(
    "stream_foreachbatch_routing",
    oracle="""
    SELECT event_type AS route, COUNT(*) AS n_rows
    FROM events
    GROUP BY event_type
    """,
)
def stream_foreachbatch_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference R13 (HeadObject-metadata → output-bucket choice) as
    foreachBatch dynamic routing: each micro-batch is split by event_type
    and written to that route's own Parquet zone; the query returns what
    landed where (read back from the sinks — the round trip is the check)."""
    out_root = tempfile.mkdtemp(prefix="route_")
    ev = read_events_stream(spark, sf_dir)

    def route_batch(batch: DataFrame, epoch_id: int) -> None:
        # partitionBy writes each route to its own directory in one pass —
        # the per-batch analog of the reference's per-object bucket choice.
        batch.write.mode("append").partitionBy("event_type").parquet(out_root)

    q = (
        ev.writeStream.foreachBatch(route_batch)
        .option("checkpointLocation", os.path.join(out_root, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    landed = spark.read.parquet(out_root)
    return landed.groupBy(F.col("event_type").alias("route")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )


_SESSIONIZE_ORACLE = """
    WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM g
    )
    SELECT user_id,
           CAST(sess_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s
    GROUP BY user_id, sess_id
"""


def _sessionize_stream(ev: DataFrame) -> DataFrame:
    """Gap-based sessionization (30-minute gap) over a (user_id, ts,
    event_id) stream via ``applyInPandasWithState``, correct across ANY
    micro-batch split of time-ordered input.

    GroupState carries the OPEN session — (session id, start, end, event
    count) as epoch-micros longs — so a batch whose first event falls
    within the gap of the previous batch's last event EXTENDS that session
    under the same stable id instead of fragmenting it.  Extended sessions
    are re-emitted with their id (append mode cannot retract), so the
    consumer collapses emissions per (user_id, session_id) keeping the
    widest span — monotone emissions make max() the merge.  Assumes
    time-ordered arrival per user (the file source processes files in
    mtime order); true out-of-order bridging needs the watermark+timeout
    design the docstring of stream_late_data_drop covers."""
    import pandas as pd  # local: keep module import light

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, session_id long, session_start timestamp, "
        "session_end timestamp, n_events long"
    )
    state_schema = "open_id long, open_start long, open_end long, open_n long"
    gap_td = pd.Timedelta(minutes=30)

    def _us(t: "pd.Timestamp") -> int:
        return int(t.value // 1000)

    def sessionize(key, pdf_iter, state: GroupState):
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        if state.exists:
            open_id, open_start_us, open_end_us, open_n = state.get
            open_start = pd.Timestamp(open_start_us, unit="us")
            open_end = pd.Timestamp(open_end_us, unit="us")
        else:
            open_id, open_start, open_end, open_n = 0, None, None, 0
        gap = pdf["ts"].diff()
        new_sess = gap.isna() | (gap > gap_td)
        local = new_sess.cumsum()  # 1..K within this batch
        cont = open_id > 0 and (pdf["ts"].iloc[0] - open_end) <= gap_td
        pdf["session_id"] = local + (open_id - 1 if cont else open_id)
        out = (
            pdf.groupby("session_id", as_index=False)
            .agg(
                session_start=("ts", "min"),
                session_end=("ts", "max"),
                n_events=("ts", "size"),
            )
        )
        if cont:  # merge the carried open session into its continuation
            out.loc[out.index[0], "session_start"] = min(
                out.loc[out.index[0], "session_start"], open_start
            )
            out.loc[out.index[0], "n_events"] += open_n
        last = out.iloc[-1]
        state.update(
            (
                int(last["session_id"]),
                _us(last["session_start"]),
                _us(last["session_end"]),
                int(last["n_events"]),
            )
        )
        out.insert(0, "user_id", key[0])
        yield out[["user_id", "session_id", "session_start", "session_end", "n_events"]]

    sessions = ev.groupBy("user_id").applyInPandasWithState(
        sessionize,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    out = _run_to_memory(sessions, "append")
    # collapse re-emissions of extended sessions: emissions per id are
    # monotone (span and count only grow), so max/min is the exact merge
    return out.groupBy("user_id", "session_id").agg(
        F.min("session_start").alias("session_start"),
        F.max("session_end").alias("session_end"),
        F.max("n_events").alias("n_events"),
    )


@query("stream_stateful_sessions", oracle=_SESSIONIZE_ORACLE)
def stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: gap-based
    sessionization — the arbitrary-state API the built-in
    ``session_window`` (operators/events.py window_session) cannot
    generalize beyond.  The cross-batch state machine lives in
    _sessionize_stream; under availableNow over the bounded input the
    final open session has been emitted by its last extension, so the
    collapsed result equals the batch lag/cumsum sessionization the
    oracle computes — for any file-to-micro-batch split
    (tests/test_streaming.py stages a 3-file landing to prove it)."""
    ev = read_events_stream(spark, sf_dir).select("user_id", "ts", "event_id")
    return _sessionize_stream(ev)


STREAM_STATIC_ORACLE = """
    SELECT c.c_mktsegment, e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
"""


@query("stream_static_join", oracle=STREAM_STATIC_ORACLE)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins the customer
    dimension (a plain batch DataFrame) and aggregates per (segment,
    type).  The static side is re-resolved each micro-batch — the
    streaming analog of the broadcast dim join, and the standard way to
    decorate a 100 TB/day stream with reference data: the dim is
    broadcast per epoch, the stream never shuffles before the aggregate's
    own keys."""
    ev = read_events_stream(spark, sf_dir)
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    agg = (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )
    return _run_to_memory(agg, "complete")


STREAM_STREAM_ORACLE = """
    SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id,
           CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS delay_s
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '30 minutes'
"""


@query("stream_stream_interval_join", oracle=STREAM_STREAM_ORACLE)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join — click→purchase attribution within a
    30-minute window, both sides genuinely streaming with watermarks.
    State on each side is bounded by watermark + the interval condition
    (Spark derives the state-eviction predicate from the time-range
    constraint); under availableNow the bounded replay emits exactly the
    batch join's pairs.  This is THE canonical streaming join shape:
    equi-key (user) plus event-time range, no unbounded state."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")).alias("delay_s"),
    )
    return _run_to_memory(joined, "append")


CONTINUOUS_AGG_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
"""


@query("stream_continuous_aggregate", oracle=CONTINUOUS_AGG_ORACLE)
def stream_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE continuous-aggregate maintenance — the streaming counterpart
    of operators/analytics.py continuous_aggregate_merge: each
    micro-batch folds into the rollup store as DAILY PARTIAL aggregates
    (count + exact decimal sum, the mergeable state), appended by
    foreachBatch exactly once per epoch; the query then answers from the
    partials alone — SUM of stored partials, never rescanning events.

    The landing zone is staged as three time-split files processed as
    three separate micro-batches, so the oracle (the direct full
    aggregation) proves the invariant that makes incremental rollups
    correct: partials-per-epoch then merge == aggregate-once, regardless
    of how ingestion slices the data.  Decimal partial sums are exact
    and associative, so the two-level summation cannot drift.  At 100 TB
    the partials table is bytes per (day, type) — the rollup answers in
    milliseconds while raw events stay cold."""
    import glob
    import shutil

    ev = load_table(spark, sf_dir, "events")
    landing = tempfile.mkdtemp(prefix="ca_landing_")
    partials_zone = os.path.join(tempfile.mkdtemp(prefix="ca_partials_"), "rollup")

    lo, hi = ev.selectExpr("min(ts)", "max(ts)").first()
    span = hi - lo
    cuts = [lo + span / 3, lo + 2 * span / 3]
    parts = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    ]
    for i, p in enumerate(parts):
        tmp = tempfile.mkdtemp(prefix="ca_stage_")
        p.coalesce(1).write.mode("overwrite").parquet(tmp)
        dst = os.path.join(landing, f"{i}-events.parquet")
        shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    schema = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(landing)
    )

    def fold_partials(batch: DataFrame, epoch_id: int) -> None:
        (
            batch.groupBy(
                F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
            )
            .write.mode("append")
            .parquet(partials_zone)
        )

    q = (
        stream.writeStream.foreachBatch(fold_partials)
        .option("checkpointLocation", os.path.join(landing, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    partials = spark.read.parquet(partials_zone)
    return partials.groupBy("event_type").agg(
        F.sum("n").alias("n_events"),
        F.sum("s").cast("double").alias("sum_value"),
    )


STREAM_CDC_ORACLE = """
    WITH base AS (
        SELECT o_orderkey, 0 AS seq,
               o_orderstatus AS status, o_totalprice AS price
        FROM orders
    ), changes AS (
        SELECT o_orderkey, 1 AS seq, 'U' AS status,
               o_totalprice * CAST(1.05 AS DOUBLE) AS price
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, 2, NULL, NULL
        FROM orders WHERE o_orderkey % 21 = 0
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC)
                      AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM changes)
    )
    SELECT o_orderkey, status, price, CAST(seq AS INT) AS version
    FROM ranked WHERE rn = 1 AND status IS NOT NULL
"""


@query("stream_cdc_apply", oracle=STREAM_CDC_ORACLE)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED CDC apply — the merge-on-read consumer: a changelog
    arrives as micro-batches (upserts first, deletes later — staged as
    two files so the ordering is real), and foreachBatch folds each
    epoch into a VERSIONED state table: read state_v{e}, last-writer-
    wins merge with the batch, write state_v{e+1}.  Version-per-epoch
    makes the fold idempotent under Structured Streaming's epoch replay
    (a retried epoch rewrites the same next version from the same
    inputs — the checkpoint-restart test pattern), which is exactly how
    a table format's streaming MERGE INTO stays exactly-once.

    The oracle is the BATCH cdc_apply_changelog semantics (same derived
    changelog, same last-writer-wins): streamed-fold ≡ batch-fold is
    the correctness invariant.  Deletes ride NULL status markers;
    per-epoch work is one key shuffle over |state| + |batch| — at
    100 TB the state table is key-bucketed so the merge is
    exchange-free on the state side."""
    import glob
    import shutil

    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.lit(0).alias("seq"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    updates = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit(1).alias("seq"),
        F.lit("U").alias("status"),
        (F.col("o_totalprice") * F.lit(1.05)).alias("price"),
    )
    deletes = o.filter(F.col("o_orderkey") % 21 == 0).select(
        "o_orderkey",
        F.lit(2).alias("seq"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("double").alias("price"),
    )

    landing = tempfile.mkdtemp(prefix="cdc_landing_")
    state_root = tempfile.mkdtemp(prefix="cdc_state_")
    for i, batch_df in enumerate([updates, deletes]):
        tmp = tempfile.mkdtemp(prefix="cdc_stage_")
        batch_df.coalesce(1).write.mode("overwrite").parquet(tmp)
        dst = os.path.join(landing, f"{i}-changes.parquet")
        shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    base.write.mode("overwrite").parquet(os.path.join(state_root, "state_v0"))

    schema = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(landing)
    )

    def fold(batch: DataFrame, epoch_id: int) -> None:
        cur = spark.read.parquet(os.path.join(state_root, f"state_v{epoch_id}"))
        w = Window.partitionBy("o_orderkey").orderBy(F.col("seq").desc())
        merged = (
            cur.unionByName(batch)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        merged.write.mode("overwrite").parquet(
            os.path.join(state_root, f"state_v{epoch_id + 1}")
        )

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", os.path.join(state_root, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    versions = sorted(
        int(d.rsplit("_v", 1)[-1])
        for d in os.listdir(state_root)
        if d.startswith("state_v")
    )
    final = spark.read.parquet(os.path.join(state_root, f"state_v{versions[-1]}"))
    return final.filter(F.col("status").isNotNull()).select(
        "o_orderkey", "status", "price", F.col("seq").cast("int").alias("version")
    )


@query("stream_update_mode", oracle=TUMBLING_ORACLE)
def stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode, made concrete: the tumbling aggregation runs
    over three time-split micro-batches, and each epoch emits ONLY the
    (window, type) rows that changed in that epoch — foreachBatch
    stamps them with the epoch id and appends to a changelog zone.  The
    final state is the LAST emission per key (epoch-max), and the
    oracle — the same full-batch tumbling aggregate as window_tumbling
    and stream_tumbling — proves that replaying the update changelog
    reconstructs the complete result exactly.

    This is the mode a downstream keyed store (Redis, a compacted
    topic) consumes: deltas per trigger instead of complete-mode's full
    restatement; the changelog-then-collapse pattern here is precisely
    the consumer's upsert loop, which is why it's worth oracle-pinning
    end to end."""
    import glob
    import shutil

    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    landing = tempfile.mkdtemp(prefix="upd_landing_")
    changelog = os.path.join(tempfile.mkdtemp(prefix="upd_chlog_"), "log")

    lo, hi = ev.selectExpr("min(ts)", "max(ts)").first()
    span = hi - lo
    cuts = [lo + span / 3, lo + 2 * span / 3]
    parts = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    ]
    for i, p in enumerate(parts):
        tmp = tempfile.mkdtemp(prefix="upd_stage_")
        p.coalesce(1).write.mode("overwrite").parquet(tmp)
        dst = os.path.join(landing, f"{i}-events.parquet")
        shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    schema = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(landing)
    )
    agg = (
        normalize_events_ts(stream)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
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

    def append_deltas(batch: DataFrame, epoch_id: int) -> None:
        batch.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(
            changelog
        )

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(append_deltas)
        .option("checkpointLocation", os.path.join(landing, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    log = spark.read.parquet(changelog)
    w = Window.partitionBy("window_start", "event_type").orderBy(F.col("epoch").desc())
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("window_start", "window_end", "event_type", "n_events", "sum_value")
    )


@query(
    "stream_dedup_within_watermark",
    oracle="SELECT COUNT(DISTINCT event_id) AS n_unique FROM events",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state via
    ``dropDuplicatesWithinWatermark``: duplicates are only suppressed
    while their key can still legally arrive (inside the watermark
    delay), and state for older keys is EVICTED — unlike plain
    ``dropDuplicates`` on a keyed stream, whose state can only be
    dropped if the event-time column is part of the key.  On this
    bounded replay every duplicate falls within the delay, so the
    result equals exact distinct (the oracle); on an unbounded 100 TB/
    day stream this API is the difference between state that tracks
    the watermark window and state that grows forever."""
    ev = read_events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = _run_to_memory(deduped, "append")
    return out.agg(F.count(F.lit(1)).alias("n_unique"))


STREAM_STREAM_LEFT_OUTER_ORACLE = """
    WITH c AS (
        SELECT event_id AS click_id, user_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ), p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ), mx AS (
        SELECT MAX(ts) AS mt FROM events
    ), j AS (
        SELECT c.click_id, p.purchase_id, c.user_id, c.click_ts, p.purchase_ts
        FROM c LEFT JOIN p
          ON c.user_id = p.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL '30 minutes'
    )
    SELECT click_id, purchase_id, user_id,
           CAST(date_diff('second', click_ts, purchase_ts) AS BIGINT) AS delay_s
    FROM j CROSS JOIN mx
    WHERE purchase_id IS NOT NULL
       OR click_ts + INTERVAL '90 minutes' < mt
"""


@query("stream_stream_left_outer_join", oracle=STREAM_STREAM_LEFT_OUTER_ORACLE)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — click→purchase attribution
    where clicks with NO purchase in their 30-minute window still emit
    (purchase_id NULL): the did-NOT-convert stream, which the inner join
    (stream_stream_interval_join) structurally cannot produce.

    The semantics the oracle must encode: an unmatched left row is held in
    state until the global watermark proves no matching purchase can still
    arrive, i.e. it emits null-extended only once
    ``click_ts + interval(30m) < final_watermark (= max event time − 1h
    delay)``; unmatched clicks inside the final 90 minutes of the bounded
    replay are still "open" at termination and are correctly NOT emitted
    — the oracle's WHERE reproduces exactly that cutoff, making the
    watermark-eviction contract itself the thing being checked.

    State is bounded by watermark + interval on both sides (same eviction
    predicate as the inner form); at 100 TB the join shuffles both streams
    on user_id per micro-batch and state size is rate × 90 minutes."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")).alias("delay_s"),
    )
    return _run_to_memory(joined, "append")


TUMBLING_APPEND_ORACLE = """
    WITH mx AS (SELECT MAX(ts) AS mt FROM events)
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events CROSS JOIN mx
    GROUP BY 1, 2, 3, mx.mt
    HAVING time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes'
           < mt - INTERVAL '1 hour'
"""


@query("stream_tumbling_append", oracle=TUMBLING_APPEND_ORACLE)
def stream_tumbling_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation in APPEND output mode — the production
    mode for unbounded streams: a window row is emitted exactly ONCE, when
    the watermark passes its end and the result can no longer change
    (complete mode re-emits the whole history per epoch — fine for a demo
    sink, quadratic over a stream's lifetime).

    The oracle encodes the finalization contract itself: only windows with
    ``window_end < final watermark (max event time − 1h)`` appear; the 13
    windows still open at end-of-replay are correctly ABSENT (their counts
    exist in state but were never finalized).  Emit-once semantics is what
    makes downstream idempotent appends possible — each window row lands
    in the sink exactly once, no upsert machinery.  Same bounded state as
    stream_tumbling: keys × the 1-hour watermark horizon."""
    agg = _tumbling_agg(read_events_stream(spark, sf_dir))
    return _run_to_memory(agg, "append")


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)


@query("stream_tumbling_rocksdb", oracle=TUMBLING_ORACLE)
def stream_tumbling_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window aggregation running on the RocksDB state store
    — the production state backend for large-state streaming: the
    default HDFS-backed provider keeps every key in executor HEAP (state
    size is bounded by JVM memory; a 100 TB stream's distinct-key state
    is not), while RocksDB spills state to local SSD with
    changelog/snapshot uploads to the checkpoint location.  Same query,
    same oracle as stream_tumbling — identical RESULTS on a different
    state engine is exactly the claim worth checking: the provider is a
    swap-in config, not a semantics change.  The conf is restored in a
    finally block so the other streaming queries keep their default
    provider."""
    prior = spark.conf.get("spark.sql.streaming.stateStore.providerClass", _HDFS_PROVIDER)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER)
    try:
        agg = _tumbling_agg(read_events_stream(spark, sf_dir))
        return _run_to_memory(agg, "complete")
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prior)


STREAM_STREAM_FULL_OUTER_ORACLE = """
    WITH c AS (
        SELECT event_id AS click_id, user_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ), p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ), mx AS (
        SELECT MAX(ts) - INTERVAL '90 minutes' AS cutoff FROM events
    ), matched AS (
        SELECT c.click_id, p.purchase_id, c.user_id,
               CAST(date_diff('second', c.click_ts, p.purchase_ts) AS BIGINT) AS delay_s
        FROM c JOIN p
          ON c.user_id = p.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL '30 minutes'
    ), lone_clicks AS (
        SELECT c.click_id, NULL AS purchase_id, c.user_id, NULL AS delay_s
        FROM c CROSS JOIN mx
        WHERE c.click_ts < mx.cutoff
          AND NOT EXISTS (SELECT 1 FROM p
                          WHERE p.user_id = c.user_id
                            AND p.purchase_ts >= c.click_ts
                            AND p.purchase_ts <= c.click_ts + INTERVAL '30 minutes')
    ), lone_purchases AS (
        SELECT NULL AS click_id, p.purchase_id, p.user_id, NULL AS delay_s
        FROM p CROSS JOIN mx
        WHERE p.purchase_ts < mx.cutoff
          AND NOT EXISTS (SELECT 1 FROM c
                          WHERE c.user_id = p.user_id
                            AND p.purchase_ts >= c.click_ts
                            AND p.purchase_ts <= c.click_ts + INTERVAL '30 minutes')
    )
    SELECT CAST(click_id AS BIGINT) AS click_id,
           CAST(purchase_id AS BIGINT) AS purchase_id,
           user_id, CAST(delay_s AS BIGINT) AS delay_s
    FROM matched
    UNION ALL SELECT * FROM lone_clicks
    UNION ALL SELECT * FROM lone_purchases
"""


@query("stream_stream_full_outer_join", oracle=STREAM_STREAM_FULL_OUTER_ORACLE)
def stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the streaming
    join family (inner / left outer / full outer): conversions, clicks
    that never converted, AND purchases with no preceding click (the
    direct-traffic signal the left join cannot see) in one result.

    Both null-extension cutoffs are symmetric and encoded in the oracle:
    an unmatched row on EITHER side emits only once
    ``its_ts + interval(30m) < final watermark`` — measured and pinned,
    the right side's retention also spans the interval because a
    purchase at t can still match clicks back to t−30m, so its state
    outlives t by the interval length.  Rows inside the final 90 minutes
    of bounded replay stay open and correctly absent.  State bounded by
    watermark + interval on both sides."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "full_outer",
    ).select(
        "click_id",
        "purchase_id",
        F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("user_id"),
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")).alias("delay_s"),
    )
    return _run_to_memory(joined, "append")


SESSION_APPEND_ORACLE = """
    WITH g AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT user_id, ts, value,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM g
    ), sess AS (
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM s GROUP BY user_id, sess_id
    ), mx AS (SELECT MAX(ts) AS mt FROM events)
    SELECT user_id, session_start, session_end, n_events, sum_value
    FROM sess CROSS JOIN mx
    WHERE session_end < mt - INTERVAL '1 hour'
"""


@query("stream_session_append", oracle=SESSION_APPEND_ORACLE)
def stream_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows in APPEND output mode — the merging-window
    finalization contract: a session emits exactly once, when the
    watermark passes its end (= last event + the 30-minute gap), because
    only then can no future event extend or merge it.  Harder than
    tumbling-append (stream_tumbling_append): a tumbling window's end is
    known at assignment, a session's end MOVES with every event — the
    oracle therefore sessionizes in SQL (lag/cumsum islands, the same
    rule as the batch twins) and keeps only sessions with
    ``end < final watermark``; the sessions still open or recently
    closed inside the last 90 minutes of replay are correctly ABSENT.
    Emit-once is what lets a 100 TB sessionization append straight to an
    idempotent sink; state is bounded by open sessions × watermark."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "append")


STATE_INSPECT_ORACLE = """
    WITH mx AS (SELECT MAX(ts) AS mt FROM events)
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events CROSS JOIN mx
    GROUP BY 1, 2, 3, mx.mt
    HAVING time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes'
           >= mt - INTERVAL '1 hour'
"""


@query("stream_state_store_inspect", oracle=STATE_INSPECT_ORACLE)
def stream_state_store_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a streaming job's LIVE STATE as a batch DataFrame — Spark 4's
    State Data Source (``spark.read.format("statestore")`` over the
    checkpoint) — the debugging/observability surface for stateful
    streams: "what is this job holding, and why is my state growing?".

    The run: the shared tumbling aggregation (_tumbling_agg) replays to a
    noop sink in UPDATE mode with a checkpoint; update mode evicts a
    window's state once the watermark passes its end, so what REMAINS in
    the store afterward is exactly the not-yet-finalized tail — windows
    with end >= final watermark (max event time − 1h).  The oracle states
    that eviction contract in SQL: it is the COMPLEMENT of
    stream_tumbling_append's HAVING clause, so between the two queries
    every window is pinned to exactly one side of the watermark line.

    The state rows surface the raw aggregation buffer (count + exact
    decimal sum per key) — reading it costs one scan of the store, no
    replay.  At 100 TB this is how state-size regressions are triaged
    (group the read by key prefix and find the hot keys) without
    stopping the job."""
    import tempfile

    ckpt = tempfile.mkdtemp(prefix="state_inspect_ckpt_")
    agg = _tumbling_agg(read_events_stream(spark, sf_dir))
    q = (
        agg.writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.window.start").alias("window_start"),
        F.col("key.window.end").alias("window_end"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
        F.col("value.sum").cast("double").alias("sum_value"),
    )


EVICTION_AUDIT_ORACLE = """
    WITH mx AS (SELECT MAX(ts) AS mt FROM events),
    agg AS (
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
               time_bucket(INTERVAL '10 minutes', ts)
                   + INTERVAL '10 minutes' AS window_end,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2, 3
    )
    SELECT 'before_watermark_passage' AS snapshot,
           window_start, window_end, event_type, n_events, sum_value
    FROM agg
    UNION ALL
    SELECT 'after_watermark_passage' AS snapshot,
           window_start, window_end, event_type, n_events, sum_value
    FROM agg CROSS JOIN mx
    WHERE window_end >= mt - INTERVAL '1 hour'
"""


@query("stream_state_eviction_audit", oracle=EVICTION_AUDIT_ORACLE)
def stream_state_eviction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct evidence of WATERMARK-DRIVEN STATE EVICTION: two reads of
    the SAME checkpoint at different watermarks — the negative twin of
    stream_state_store_inspect (which only shows the post-eviction tail
    and certifies it as the append-mode complement).

    The run is the shared tumbling aggregation (_tumbling_agg, update
    mode, noop sink).  Under availableNow the data lands in batch 0 with
    the watermark still at its initial value, so the batch-0 state
    snapshot (State Data Source ``option("batchId", 0)``) holds EVERY
    window — the full aggregation, nothing yet evicted; the trailing
    commit then advances the watermark to max event time − 1h and evicts
    every window it passed, so the final snapshot (default read) holds
    only windows with end >= that watermark.  Returning both snapshots
    labeled pins the eviction contract from BOTH sides in one result:
    the before-set is the complete agg, the after-set its watermark
    filtrate, and their difference — windows the watermark passed — is
    exactly what the store dropped (tests/test_streaming.py asserts the
    set algebra directly).

    At 100 TB this two-point state read is the capacity-planning probe:
    state size before/after watermark passage bounds the steady-state
    store footprint a larger watermark would multiply — measured from
    the checkpoint, without touching the running job."""
    import tempfile

    ckpt = tempfile.mkdtemp(prefix="evict_audit_ckpt_")
    agg = _tumbling_agg(read_events_stream(spark, sf_dir))
    q = (
        agg.writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def snap(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.lit(tag).alias("snapshot"),
            F.col("key.window.start").alias("window_start"),
            F.col("key.window.end").alias("window_end"),
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n_events"),
            F.col("value.sum").cast("double").alias("sum_value"),
        )

    before = spark.read.format("statestore").option("batchId", 0).load(ckpt)
    after = spark.read.format("statestore").load(ckpt)
    return snap(before, "before_watermark_passage").unionByName(
        snap(after, "after_watermark_passage")
    )


@query("stream_parquet_sink", oracle=TUMBLING_APPEND_ORACLE)
def stream_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-to-LAKE: the append-mode tumbling aggregation written by
    the native ``parquet`` streaming sink (not foreachBatch, not memory)
    — checkpointed offsets + the sink's transaction log give end-to-end
    exactly-once file commits, which is the production landing path for
    "stream it in, query it as a table".

    The read-back is an ordinary batch Parquet scan of the sink
    directory; it must reproduce stream_tumbling_append's finalization
    contract exactly (same oracle: only windows finalized by the final
    watermark were ever committed).  A crashed-and-restarted writer
    re-emits NO duplicate files — the sink's _spark_metadata log is the
    dedup ledger, the property this query exists to exercise.  At 100 TB
    the sink partitions by window date and compaction
    (parquet_compact_small_files) runs behind it."""
    import tempfile

    zone = tempfile.mkdtemp(prefix="stream_pq_sink_")
    out = os.path.join(zone, "windows")
    ckpt = os.path.join(zone, "ckpt")
    agg = _tumbling_agg(read_events_stream(spark, sf_dir))
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out)


_PROGRESS_ORACLE = """
    SELECT CAST(3 AS INT) AS n_batches,
           CAST(COUNT(*) AS BIGINT) AS total_input_rows
    FROM events
"""


@query("stream_progress_report", oracle=_PROGRESS_ORACLE)
def stream_progress_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job-run observability for streams — the engine-native analog of
    the reference's Glue job-run status poll
    (src/aws/glue.service.ts:53-62, SURVEY §2.A R16): after a run, the
    per-micro-batch ``recentProgress`` metrics (numInputRows etc.) are
    surfaced as a DATAFRAME, the shape a monitoring pipeline lands into
    its metrics store.

    The landing zone is staged as 3 files with maxFilesPerTrigger=1, so
    the batch count is part of the CONTRACT (3 batches), and the input
    rows must sum to the table's row count exactly — progress metrics
    that don't reconcile with the data are worse than none.  Row counts
    come from the engine's own accounting, so this also pins that the
    file source neither drops nor double-reads rows across trigger
    boundaries."""
    from pyspark.sql.window import Window

    ev_all = load_table(spark, sf_dir, "events")
    schema = ev_all.schema
    landing = tempfile.mkdtemp(prefix="progress_landing_")
    third = ev_all.count() // 3
    w = F.row_number().over(Window.orderBy("event_id"))
    ranked = ev_all.withColumn("_rn", w)
    for i, name in enumerate(["0-a.parquet", "1-b.parquet", "2-c.parquet"]):
        lo = i * third
        hi = (i + 1) * third if i < 2 else 10**18
        part = ranked.filter((F.col("_rn") > lo) & (F.col("_rn") <= hi)).drop("_rn")
        tmp = tempfile.mkdtemp(prefix="progress_stage_")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        import glob as _glob
        import shutil

        src = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(landing, name)
        shutil.copyfile(src, dst)
        os.utime(dst, (1_000_000 * (i + 1), 1_000_000 * (i + 1)))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    name = f"prog_{uuid.uuid4().hex[:12]}"
    q = (
        stream.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = [
        (int(p["batchId"]), int(p["numInputRows"]))
        for p in q.recentProgress
        if int(p["numInputRows"]) > 0
    ]
    prog = spark.createDataFrame(rows, "batch_id long, num_input_rows long")
    return prog.agg(
        F.count(F.lit(1)).cast("int").alias("n_batches"),
        F.sum("num_input_rows").alias("total_input_rows"),
    )


@query(
    "stream_pyds_source",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    """,
)
def stream_pyds_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python STREAMING Data Source end to end (Spark 4
    SimpleDataSourceStreamReader): the documents table is served by a
    Python-implemented stream (sources/pyds.py DocsStreamReader) in
    bounded chunks with row-position offsets, and the query RESTARTS the
    stream from its checkpoint until the source is drained — each
    availableNow run consumes one committed chunk, so the final landing
    zone proves offset persistence and exactly-once resume across
    restarts (the recovery path a queue/API-backed Python source must
    get right; the reference's closest analog is its retriggered
    Lambda).

    The value-hash against the source table holds the Python reader,
    the offset arithmetic, AND the restart protocol to exact fidelity:
    a dropped, duplicated, or re-ordered chunk anywhere breaks the
    hash.

    Scale: the simple-reader variant prefetches on the driver — right
    for API/queue sources with modest per-batch volume; the same
    DataSource grows partition-parallel batches via the full
    DataSourceStreamReader ABC without changing this topology."""
    from etl_pipeline_aws_spark.sources import pyds

    pyds.register_stream(spark)
    zone = tempfile.mkdtemp(prefix="pyds_stream_")
    out = os.path.join(zone, "out")
    ckpt = os.path.join(zone, "ckpt")
    n_src = load_table(spark, sf_dir, "documents").count()
    chunk = max(1, (n_src + 2) // 3)  # 3 chunks -> 3 restart cycles
    for _ in range(5):  # chunks + one empty drain; bounded regardless
        q = (
            spark.readStream.format("pyds_docs_stream")
            .option("path", sf_dir)
            .option("chunk", str(chunk))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        landed = spark.read.parquet(out).count()
        if landed >= n_src:
            break
    return spark.read.parquet(out)


@query(
    "stream_new_vs_returning",
    oracle="""
    WITH firsts AS (
        SELECT user_id, CAST(MIN(ts) AS DATE) AS first_day
        FROM events GROUP BY user_id
    ), active AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    )
    SELECT a.day,
           CAST(COUNT(*) FILTER (WHERE f.first_day = a.day) AS BIGINT)
               AS new_users,
           CAST(COUNT(*) FILTER (WHERE f.first_day < a.day) AS BIGINT)
               AS returning_users
    FROM active a JOIN firsts f USING (user_id)
    GROUP BY a.day
    """,
)
def stream_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed growth accounting — the INCREMENTAL-DIMENSION pattern:
    the first-seen table (user -> first active day) is accumulated
    ACROSS micro-batches as versioned foreachBatch state, and each
    batch's activity classifies against the state updated through that
    batch.  Because the landing zone arrives in event-time order, a
    user's first-ever day is final the moment it is seen, so per-batch
    classification equals the global batch answer — the correctness
    argument for every accumulate-then-classify incremental dim (first
    touch attribution, acquisition-channel stamping, cohort tagging).

    Mechanics: 3 time-split files -> 3 micro-batches; per batch the
    state merges via min(first_day) into a NEW version directory (never
    overwriting the version being read — the poor man's MVCC that a
    table format would provide); classified (day, user, is_new) rows
    append to a result zone, deduped at read time because a calendar day
    straddling a batch cut legitimately appears in two batches.  Shares
    its oracle with the batch twin (events_new_vs_returning) — the
    engine's batch/stream parity discipline."""
    import glob
    import shutil

    ev = load_table(spark, sf_dir, "events")
    landing = tempfile.mkdtemp(prefix="nvr_landing_")
    state_root = tempfile.mkdtemp(prefix="nvr_state_")
    results_zone = os.path.join(tempfile.mkdtemp(prefix="nvr_res_"), "classified")

    lo, hi = ev.selectExpr("min(ts)", "max(ts)").first()
    span = hi - lo
    cuts = [lo + span / 3, lo + 2 * span / 3]
    parts = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    ]
    for i, p in enumerate(parts):
        tmp = tempfile.mkdtemp(prefix="nvr_stage_")
        p.coalesce(1).write.mode("overwrite").parquet(tmp)
        dst = os.path.join(landing, f"{i}-events.parquet")
        shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    schema = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(landing)
    )

    def classify(batch: DataFrame, epoch_id: int) -> None:
        pairs = batch.select(
            F.to_date(normalize_events_ts(batch)["ts"]).alias("day"), "user_id"
        ).distinct()
        bmins = pairs.groupBy("user_id").agg(F.min("day").alias("first_day"))
        versions = sorted(glob.glob(os.path.join(state_root, "v*")))
        if versions:
            prior = batch.sparkSession.read.parquet(versions[-1])
            merged = (
                prior.unionByName(bmins)
                .groupBy("user_id")
                .agg(F.min("first_day").alias("first_day"))
            )
        else:
            merged = bmins
        nxt = os.path.join(state_root, f"v{epoch_id:05d}")
        merged.write.mode("overwrite").parquet(nxt)
        state = batch.sparkSession.read.parquet(nxt)
        (
            pairs.join(state, "user_id")
            .select(
                "day", "user_id", (F.col("day") == F.col("first_day")).alias("is_new")
            )
            .write.mode("append")
            .parquet(results_zone)
        )

    q = (
        stream.writeStream.foreachBatch(classify)
        .option("checkpointLocation", os.path.join(landing, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    classified = spark.read.parquet(results_zone).distinct()
    return classified.groupBy("day").agg(
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).cast("long").alias("new_users"),
        F.sum(F.when(~F.col("is_new"), 1).otherwise(0))
        .cast("long")
        .alias("returning_users"),
    )


def _progress_input_rows(p) -> int:
    """numInputRows from a StreamingQueryProgress, tolerant of the API
    returning either json strings or progress objects across versions."""
    import json as _json

    if isinstance(p, str):
        return int(_json.loads(p)["numInputRows"])
    if hasattr(p, "numInputRows"):
        return int(p.numInputRows)
    return int(p["numInputRows"])


@query("stream_checkpoint_resume_incremental", oracle=TUMBLING_APPEND_ORACLE)
def stream_checkpoint_resume_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT-RESUMED INCREMENTAL PROCESSING — the contract that makes
    Structured Streaming a production backfill engine: the same query
    run twice against the same checkpoint processes each input file
    EXACTLY ONCE.  Run 1 sees only the early slice of events (one file)
    and commits its finalized windows to a parquet sink; the late slice
    then lands as a second file and run 2 — same checkpoint, same sink —
    reads ONLY the new file (the offsets log already owns the first) and
    appends only the newly-finalized windows.

    The incremental claim is enforced IN the operator, not just
    observed: run 2's progress counters must show exactly the second
    file's row count as input (a re-read of file 1 raises), and the
    emit-once append contract means the sink holds every finalized
    window exactly once across BOTH runs.  The oracle is the ordinary
    batch aggregation over the full table with the append-mode
    finalization HAVING — restart + resume must be indistinguishable
    from having streamed the whole input in one run.

    The time-based split guarantees no late data (every slice-2 event is
    newer than slice 1's max), so nothing is dropped at the watermark —
    the late-drop path has its own query (stream_late_data_drop).  At
    100 TB this is the daily-backfill topology: each day's object batch
    is a resume, state carries across runs in the checkpoint, and the
    sink grows append-only."""
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg((F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("c")).first()["c"]
    zone = tempfile.mkdtemp(prefix="resume_")
    landing = os.path.join(zone, "landing")
    sink = os.path.join(zone, "sink")
    ckpt = os.path.join(zone, "ckpt")
    os.makedirs(landing)

    def stage(df: DataFrame, name: str) -> int:
        tmp = os.path.join(zone, f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
        shutil.move(os.path.join(tmp, part), os.path.join(landing, f"{name}.parquet"))
        return df.count()

    stage(ev.filter(F.col("ts") < F.lit(cut)), "batch-000")
    schema = spark.read.parquet(landing).schema

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        q = (
            _tumbling_agg(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    run_once()
    n_b = stage(ev.filter(F.col("ts") >= F.lit(cut)), "batch-001")
    q2 = run_once()
    processed = sum(_progress_input_rows(p) for p in q2.recentProgress)
    if processed != n_b:
        raise AssertionError(
            f"resume re-read data: run 2 processed {processed} rows, "
            f"expected exactly the new file's {n_b}"
        )
    return spark.read.parquet(sink).select(
        "window_start", "window_end", "event_type", "n_events", "sum_value"
    )


WINDOWED_TOPK_ORACLE = """
    WITH mx AS (SELECT MAX(ts) AS mt FROM events),
    agg AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
               event_type,
               COUNT(*) AS n_events
        FROM events CROSS JOIN mx
        GROUP BY 1, 2, 3, mx.mt
        HAVING time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
               < mt - INTERVAL '1 hour'
    )
    SELECT window_start, window_end, event_type, n_events,
           CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                                       ORDER BY n_events DESC, event_type) AS rn
          FROM agg)
    WHERE rn <= 2
"""


@query("stream_windowed_topk", oracle=WINDOWED_TOPK_ORACLE)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k leaderboard per streamed window — "the 2 busiest event types
    each hour", the live-dashboard shape: a watermarked tumbling COUNT
    streams in append mode (emit-once finalized windows, the
    stream_tumbling_append contract), and the per-window RANK runs as a
    batch window over the finalized sink.  The split is forced and
    production-real: ranking needs its window CLOSED (a rank over open
    state would re-order on every late row — Spark rightly refuses
    window functions on streaming frames), so top-k is sink-side
    post-processing — the foreachBatch / downstream-view pattern every
    streaming leaderboard deploys.

    The rank stage costs |windows|×|event types| rows regardless of
    stream volume; state is bounded by keys × the 1-hour horizon, same
    as the tumbling family.  Ties break on event_type for a total
    order."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
    from pyspark.sql.window import Window

    fin = _run_to_memory(agg, "append")
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        fin.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 2)
    )


def _curation_gate_oracle() -> str:
    """The batch funnel's oracle, verbatim — stream/batch parity is the
    point, so the two queries must share one truth (constants included)."""
    from etl_pipeline_aws_spark.llm.curation import _QUALITY_FUNNEL_ORACLE

    return _QUALITY_FUNNEL_ORACLE


@query("stream_curation_gate", oracle=_curation_gate_oracle)
def stream_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus quality funnel (llm/curation.py) applied AS A STREAM —
    the shape a continuously-ingesting corpus actually runs: documents
    land in micro-batches (three staged shards, maxFilesPerTrigger=1 —
    three separate epochs), each batch's per-doc verdicts are computed by
    the SAME funnel_verdicts stage the batch operator uses and appended
    to a verdict sink via foreachBatch, and the result re-aggregates the
    sink.  Because the verdict is per-document (stateless across docs),
    ANY micro-batch split reproduces the batch answer exactly — so this
    query shares the batch funnel's DuckDB oracle, and the stream/batch
    parity IS the correctness argument (the module-docstring discipline,
    applied to the curation tier).

    Scale: each epoch does one explode + two doc-keyed folds over ONLY
    that batch's documents; the sink carries one verdict row per doc.
    Unbounded operation is the same topology with the file source
    incrementally listing the landing zone — no state store needed, the
    gate is embarrassingly per-document."""
    from etl_pipeline_aws_spark.llm.curation import funnel_rollup, funnel_verdicts

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    zone = tempfile.mkdtemp(prefix="doc_landing_")
    landing = os.path.join(zone, "landing")
    # three shards by doc_id range: deterministic, covers every doc once
    (
        docs.withColumn("shard", (F.col("doc_id") % 3).cast("int"))
        .repartition(F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(landing)
    )
    schema = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(landing)
        .select("doc_id", "text")
    )
    verdict_sink = os.path.join(zone, "verdicts")

    def gate_batch(batch: DataFrame, epoch_id: int) -> None:
        funnel_verdicts(batch).write.mode("append").parquet(verdict_sink)

    q = (
        stream.writeStream.foreachBatch(gate_batch)
        .option("checkpointLocation", os.path.join(zone, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return funnel_rollup(spark.read.parquet(verdict_sink))


def _dsir_oracle() -> str:
    """The batch selector's oracle, verbatim — the frozen-LM scoring is
    stateless per document, so stream/batch parity is the correctness
    argument (the stream_curation_gate discipline)."""
    from etl_pipeline_aws_spark.llm.corpus import _DSIR_ORACLE

    return _DSIR_ORACLE


@query("stream_dsir_scoring", oracle=_dsir_oracle)
def stream_dsir_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring AS A STREAM — the production deployment
    shape of corpus_dsir_importance_weights: the bigram LM pair is
    trained ONCE on the existing corpus (batch, frozen), then documents
    arrive in micro-batches (three staged shards, maxFilesPerTrigger=1)
    and each batch's docs are scored against the broadcast frozen LM by
    the SAME dsir_doc_weights stage, appended to a weight sink via
    foreachBatch; the final top-K selection re-ranks the sink.  Because
    per-doc scoring is stateless given the frozen model, any micro-batch
    split reproduces the batch answer exactly — this query shares the
    batch selector's DuckDB oracle, and stream/batch parity IS the
    correctness check.

    Scale: per epoch one bigram explode + one broadcast-LM dot product
    over ONLY that batch's documents; the sink carries one weight row
    per doc.  Unbounded operation swaps the staged shards for the real
    landing zone; the LM refresh cadence (retrain nightly, hot-swap the
    broadcast) is the standard frozen-scorer topology — no state store,
    the scorer is embarrassingly per-document."""
    from etl_pipeline_aws_spark.llm.corpus import (
        dsir_bigram_counts,
        dsir_doc_weights,
        dsir_lm_table,
        dsir_selection_report,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    lm = dsir_lm_table(dsir_bigram_counts(docs)).persist()
    lm.count()  # freeze the model before the stream starts

    zone = tempfile.mkdtemp(prefix="dsir_landing_")
    landing = os.path.join(zone, "landing")
    (
        docs.withColumn("shard", (F.col("doc_id") % 3).cast("int"))
        .repartition(F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(landing)
    )
    schema = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(landing)
        .select("doc_id", "source", "text")
    )
    weight_sink = os.path.join(zone, "weights")

    def score_batch(batch: DataFrame, epoch_id: int) -> None:
        dsir_doc_weights(dsir_bigram_counts(batch), lm).write.mode(
            "append"
        ).parquet(weight_sink)

    q = (
        stream.writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", os.path.join(zone, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    lm.unpersist()
    return dsir_selection_report(spark.read.parquet(weight_sink))


# --------------------------------------------------------------------------
# stream_source_scorecard — the scorecard as mergeable micro-batch partials
# --------------------------------------------------------------------------


def _scorecard_stream_oracle() -> str:
    from etl_pipeline_aws_spark.llm.curation import _SCORECARD_ORACLE

    return bare_tables(_SCORECARD_ORACLE)


@query("stream_source_scorecard", oracle=_scorecard_stream_oracle)
def stream_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source curation scorecard AS A STREAM — the partial-
    aggregate deployment shape of pipeline_source_scorecard_e2e:
    documents arrive in micro-batches (three staged shards,
    maxFilesPerTrigger=1) and each batch appends MERGEABLE partials to
    two sinks — the doc-level gate manifest (doc_id, source, n_chars,
    lang, token count, content hash) and the (source, token) count
    cells — via foreachBatch; the final rollup dedups keepers GLOBALLY
    on the merged manifest (exact-dup keeper assignment cannot be
    decided inside one micro-batch — the cross-batch-state lesson,
    solved here by deferring the hash window to merge time, the
    continuous_aggregate_merge discipline) and computes entropy on the
    MERGED exact counts (the floor-LN runs once at rollup, so no
    per-batch float ever needs re-merging).  Any micro-batch split
    therefore reproduces the batch scorecard EXACTLY — this query
    shares pipeline_source_scorecard_e2e's DuckDB oracle, and
    stream/batch parity IS the correctness check.

    Scale: per batch one narrow doc map + one token reduction over
    ONLY that batch; sinks carry doc-level metadata and |sources|×|V|
    cells; the global keeper window runs on the manifest (hash-keyed),
    never on text.  Unbounded operation swaps the staged shards for
    the landing zone and compacts the cell sink on a cadence."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars", "text"
    )
    zone = tempfile.mkdtemp(prefix="scorecard_stream_")
    landing = os.path.join(zone, "landing")
    (
        docs.withColumn("shard", (F.col("doc_id") % 3).cast("int"))
        .repartition(F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(landing)
    )
    schema = spark.read.parquet(landing).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(landing)
        .select("doc_id", "source", "lang", "n_chars", "text")
    )
    manifest_sink = os.path.join(zone, "manifest")
    cells_sink = os.path.join(zone, "cells")

    def fold_batch(batch: DataFrame, epoch_id: int) -> None:
        batch.select(
            "doc_id",
            "source",
            "lang",
            "n_chars",
            F.size(F.split("text", " ")).alias("n_tokens"),
            F.sha2("text", 256).alias("h"),
        ).write.mode("append").parquet(manifest_sink)
        batch.select(
            "source", F.explode(F.split("text", " ")).alias("w")
        ).groupBy("source", "w").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        ).write.mode("append").parquet(cells_sink)

    q = (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", os.path.join(zone, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # Block until the availableNow stream fully drains (ADVICE r7: the
    # timeout form returned a bool this code ignored — a >120 s cold run
    # would have read PARTIAL sinks and silently produced wrong results).
    q.awaitTermination()

    from pyspark.sql.window import Window

    man = spark.read.parquet(manifest_sink)
    gate = (
        man.withColumn(
            "is_keeper",
            (F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("h")))
            .cast("int"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(
                    (F.col("is_keeper") == 1)
                    & F.col("n_tokens").between(20, 1000),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_kept"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
    )
    cells = (
        spark.read.parquet(cells_sink)
        .groupBy("source", "w")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    marg = cells.withColumn(
        "n", F.sum("c").over(Window.partitionBy("source"))
    )
    ent = (
        marg.withColumn(
            "t_e9",
            F.floor(
                -(F.col("c").cast("double") / F.col("n").cast("double"))
                * F.log(F.col("c").cast("double") / F.col("n").cast("double"))
                * F.lit(1e9)
            ).cast("long"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum("t_e9").cast("long").alias("entropy_e9"),
        )
    )
    return (
        gate.join(ent, "source")
        .select(
            "source",
            "n_docs",
            "n_kept",
            F.expr("n_kept * 10000 div n_docs").cast("long").alias("keep_bp"),
            F.expr("total_chars div n_docs").cast("long").alias("avg_chars"),
            "n_langs",
            "n_types",
            "entropy_e9",
        )
    )


# --------------------------------------------------------------------------
# stream_geo_fence_counts — streaming geofence via the grid equi-join
# --------------------------------------------------------------------------

_GEOFENCE_ORACLE = """
WITH sup AS (
    SELECT s_suppkey,
           ((s_suppkey % 999979) * 2246822519) % 180000000 - 90000000 AS latm,
           ((s_suppkey % 1000033) * 2654435769) % 360000000 - 180000000 AS lonm
    FROM supplier
), probes AS (
    SELECT latm, lonm,
           (lonm + 180000000) // 5000000 + (k % 3) - 1 AS cx,
           (latm + 90000000) // 5000000 + (k // 3) - 1 AS cy
    FROM (SELECT latm, lonm, unnest(range(0, 9)) AS k FROM sup) t
), ev AS (
    SELECT event_id, event_type,
           ((user_id % 1000003) * 2654435761) % 180000000 - 90000000 AS latm,
           ((user_id % 999983) * 1540483477) % 360000000 - 180000000 AS lonm
    FROM events
), hits AS (
    SELECT DISTINCT e.event_id, e.event_type
    FROM ev e
    JOIN probes p
      ON (e.lonm + 180000000) // 5000000 = p.cx
     AND (e.latm + 90000000) // 5000000 = p.cy
    WHERE (p.latm - e.latm) * (p.latm - e.latm)
              + (p.lonm - e.lonm) * (p.lonm - e.lonm) <= 4000000000000
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events_in_fence
FROM hits GROUP BY event_type
"""


@query("stream_geo_fence_counts", oracle=_GEOFENCE_ORACLE)
def stream_geo_fence_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming GEOFENCE: count events whose (synthetic, user-derived)
    position falls within 2 planar degrees of ANY supplier facility —
    per event type.  The geo family's grid discipline carried into
    Structured Streaming: the static side is the supplier probe-cell
    table (|suppliers| x 9 rows, broadcast per micro-batch — the
    stream-static enrichment pattern), the stream side computes its
    cell ROW-LOCALLY, and the join is a plain equi-join on cell
    coordinates followed by the exact distance filter; an event inside
    two overlapping fences is counted once (streaming dropDuplicates on
    event_id before the aggregate).  This is the alerting workload
    ("traffic near my facilities, live") that fixed-radius geo joins
    exist for.

    Exactness: positions/cells/distances are the geo module's pure
    BIGINT arithmetic (operators/geo.py header); the oracle is the
    batch computation over the same events table, which availableNow's
    bounded replay must reproduce exactly.

    Scale: per micro-batch the stream never shuffles before the final
    |event_types|-row aggregate except the dedup's event_id exchange;
    fence-side state is metadata-sized; dedup state is bounded by the
    watermarkless availableNow replay here — a 24x7 deployment adds
    a watermark + event-time column to bound it (stream_dedup_within_
    watermark is the demonstrated pattern)."""
    ev = read_events_stream(spark, sf_dir).select(
        "event_id",
        "event_type",
        (((F.col("user_id") % 1000003) * 2654435761) % 180000000 - 90000000).alias(
            "latm"
        ),
        (((F.col("user_id") % 999983) * 1540483477) % 360000000 - 180000000).alias(
            "lonm"
        ),
    )
    ev = ev.withColumn(
        "cx", F.expr("(lonm + 180000000) DIV 5000000")
    ).withColumn("cy", F.expr("(latm + 90000000) DIV 5000000"))
    sup = load_table(spark, sf_dir, "supplier").select(
        (((F.col("s_suppkey") % 999979) * 2246822519) % 180000000 - 90000000).alias(
            "s_latm"
        ),
        (
            ((F.col("s_suppkey") % 1000033) * 2654435769) % 360000000 - 180000000
        ).alias("s_lonm"),
    )
    probes = F.broadcast(
        sup.select(
            "s_latm",
            "s_lonm",
            F.explode(F.sequence(F.lit(0), F.lit(8))).alias("k"),
        ).select(
            "s_latm",
            "s_lonm",
            (
                F.expr("(s_lonm + 180000000) DIV 5000000") + (F.col("k") % 3) - 1
            ).alias("cx"),
            (
                F.expr("(s_latm + 90000000) DIV 5000000")
                + F.expr("k DIV 3")
                - 1
            ).alias("cy"),
        )
    )
    d2 = (F.col("s_latm") - F.col("latm")) * (
        F.col("s_latm") - F.col("latm")
    ) + (F.col("s_lonm") - F.col("lonm")) * (F.col("s_lonm") - F.col("lonm"))
    hits = (
        ev.join(probes, ["cx", "cy"])
        .filter(d2 <= F.lit(4_000_000_000_000))
        .select("event_id", "event_type")
        .dropDuplicates(["event_id"])
    )
    agg = hits.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events_in_fence")
    )
    return _run_to_memory(agg, "complete")


_STREAM_PSI_ORACLE_TMPL = """
WITH bounds AS (
    SELECT CAST(MIN(CAST(ts AS DATE)) AS DATE) AS dmin,
           CAST(MAX(CAST(ts AS DATE)) AS DATE) AS dmax
    FROM events
), halves AS (
    SELECT CASE WHEN CAST(ts AS DATE) <
                     (SELECT dmin + CAST((dmax - dmin) // 2 AS INTEGER)
                      FROM bounds)
                THEN 0 ELSE 1 END AS half,
           CAST(FLOOR(CAST(value AS DOUBLE) / 5e0) AS BIGINT) AS bin
    FROM events WHERE value IS NOT NULL
), counts AS (
    SELECT bin,
           CAST(COUNT(*) FILTER (WHERE half = 0) AS BIGINT) AS c1,
           CAST(COUNT(*) FILTER (WHERE half = 1) AS BIGINT) AS c2
    FROM halves GROUP BY bin
)
{closing}"""


def _stream_psi_oracle() -> str:
    from etl_pipeline_aws_spark.operators.quality import _psi_closing

    return _STREAM_PSI_ORACLE_TMPL.format(closing=_psi_closing("counts"))


@query("stream_psi_drift_monitor", oracle=_stream_psi_oracle())
def stream_psi_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r9 drift pair (PSI + Jensen-Shannon, dq_psi_jsd_value_drift)
    as a LIVE monitor: the streamed stage maintains the per-(epoch,
    value-bin) histogram — the only fact-sized state, keyed by a
    bounded (2 × |bins|) composite — and the log-scoring closing runs
    on the materialized sink exactly as the batch operator runs it on
    its bin view (literally the same _psi_closing text, so stream and
    batch tiers cannot drift apart).  Epochs split at the integer
    midpoint DATE of the observed range (exact day arithmetic on both
    engines — no sub-second interval halving at the boundary), the
    baseline-vs-current shape every production drift alarm maintains
    incrementally.

    The oracle recomputes the WHOLE thing in batch SQL, so the
    availableNow run certifies stream/batch parity end to end
    (the stream_geo_fence_counts discipline).

    Scale: streamed state is |bins|-bounded regardless of event
    volume; the closing is a |bins|-row fold on the sink."""
    from etl_pipeline_aws_spark.operators.quality import _psi_closing

    ev_batch = load_table(spark, sf_dir, "events")
    b = ev_batch.agg(
        F.min(F.col("ts").cast("date")).alias("dmin"),
        F.max(F.col("ts").cast("date")).alias("dmax"),
    ).collect()[0]  # bounded driver action: 1 row of calendar metadata
    n_days = (b.dmax - b.dmin).days
    import datetime

    mid = b.dmin + datetime.timedelta(days=n_days // 2)
    ev = read_events_stream(spark, sf_dir)
    counts = (
        ev.filter(F.col("value").isNotNull())
        .select(
            F.when(F.col("ts").cast("date") < F.lit(mid), 0)
            .otherwise(1)
            .alias("half"),
            F.floor(F.col("value").cast("double") / 5.0).cast("long").alias("bin"),
        )
        .groupBy("half", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    sink = _run_to_memory(counts, "complete")
    pivoted = sink.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, F.col("c")).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("half") == 1, F.col("c")).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    return spark.sql(_psi_closing("{counts}"), counts=pivoted)


def _stream_cms_oracle() -> str:
    from etl_pipeline_aws_spark.operators.aggregates import _cms_oracle

    return _cms_oracle()


@query("stream_heavy_hitters_cms", oracle=_stream_cms_oracle())
def stream_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min sketch as STREAMING STATE (the sketch's actual
    production habitat — heavy-hitter dashboards over a live event
    feed): each micro-batch explodes its events into the d=4 universal-
    hash cells and the streamed aggregation maintains the (row, bucket)
    count table — O(d·w) state regardless of key cardinality, the
    bounded-state property that makes a sketch the RIGHT streaming
    accumulator where per-key counts would grow without limit.  The
    top-{{k}} probe then reads the materialized sketch exactly as the
    batch twin (agg_count_min_sketch) does, and the SHARED oracle
    certifies the streamed sketch is cell-identical to the batch one —
    stream/batch sketch parity, the stream_psi_drift_monitor
    discipline.

    Same fixed integer hash constants, so every cell is
    oracle-checkable; the probe's top-k selection is
    orderBy().limit() (no window).

    Scale: streamed state = d·w = {{cells}} cells; the probe side is a
    {{k}}-row broadcast join against the sketch."""
    from etl_pipeline_aws_spark.operators.aggregates import (
        CMS_P,
        CMS_ROWS,
        CMS_TOP,
        CMS_W,
    )

    ev = read_events_stream(spark, sf_dir).select("user_id")
    cells_stream = ev.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_id"),
                        (
                            (F.lit(a) * (F.col("user_id") % CMS_P) + F.lit(b))
                            % CMS_P
                            % CMS_W
                        ).alias("bucket"),
                    )
                    for i, (a, b) in enumerate(CMS_ROWS)
                ]
            )
        ).alias("cell"),
    ).select("user_id", "cell.row_id", "cell.bucket")
    sketch = _run_to_memory(
        cells_stream.groupBy("row_id", "bucket").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        ),
        "complete",
    )
    # probe side (batch): hash cells are a PURE FUNCTION of the key, so
    # they are computed directly on the top-k rows (k x d rows) — no
    # second events pass, unlike the batch twin's from-cells spelling
    ev_b = load_table(spark, sf_dir, "events").select("user_id")
    freq = ev_b.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    )
    top = freq.orderBy(F.col("true_n").desc(), "user_id").limit(CMS_TOP)
    top_cells = top.select(
        "user_id",
        "true_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_id"),
                        (
                            (F.lit(a) * (F.col("user_id") % CMS_P) + F.lit(b))
                            % CMS_P
                            % CMS_W
                        ).alias("bucket"),
                    )
                    for i, (a, b) in enumerate(CMS_ROWS)
                ]
            )
        ).alias("cell"),
    ).select("user_id", "true_n", "cell.row_id", "cell.bucket")
    probe = top_cells.join(sketch, ["row_id", "bucket"])
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
