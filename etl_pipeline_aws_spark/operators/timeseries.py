"""Market-style time-series operators — OHLC bars, realized volatility,
rolling correlation, and the Pareto-frontier (skyline) scan.  These are the
read patterns a metrics/finance workload runs over an event stream once the
basic rollups (analytics.py) exist; the reference pipeline has no temporal
surface at all, so this module is north-star scope like the rest of §2.B.

Cross-engine determinism: OHLC picks raw values (no float accumulation);
volatility and correlation go through exact DECIMAL power sums (per-return
rounding to fixed scale where a double ratio must be re-aggregated) and one
shared IEEE formula text; the skyline compares raw doubles.  ln() is never
used (last-ulp divergence across libm builds — the documented gotcha);
returns are simple, not log, returns for exactly that reason.

Scale: everything keys on (event_type, day) or day — daily reductions
shuffle day-count-sized tables; the rolling window and the skyline's
prefix-max scan run over |days| rows, not |events|.  The skyline reduces to
per-day maxima BEFORE its ordered scan, so the single-partition window
input is calendar-sized at any fact size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_aws_spark.catalog import bare_tables, load_table
from etl_pipeline_aws_spark.registry import query

_OHLC_SQL = """
WITH ticks AS (
    SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id, value
    FROM {events}
    WHERE event_type IN ('view', 'purchase')
), ordered AS (
    SELECT event_type, day, value,
           ROW_NUMBER() OVER (PARTITION BY event_type, day
                              ORDER BY ts, event_id) AS rn_a,
           ROW_NUMBER() OVER (PARTITION BY event_type, day
                              ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM ticks
)
SELECT event_type, day,
       CAST(MAX(CASE WHEN rn_a = 1 THEN value END) AS DOUBLE) AS open,
       CAST(MAX(value) AS DOUBLE) AS high,
       CAST(MIN(value) AS DOUBLE) AS low,
       CAST(MAX(CASE WHEN rn_d = 1 THEN value END) AS DOUBLE) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_ticks
FROM ordered
GROUP BY event_type, day
"""


@query("events_ohlc_bars", oracle=bare_tables(_OHLC_SQL))
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC (open/high/low/close) candlestick bars per event type —
    the canonical downsampling of a tick stream to a chartable series.

    Open/close are POSITIONAL picks, pinned by the (ts, event_id) total
    order (same-microsecond ticks can't flip the bar across engines);
    high/low are exact extrema.  No value is ever summed, so raw doubles
    are hash-safe here.

    Scale: one (type, day)-keyed window pass + groupBy — the window
    partitions by the same key the groupBy shuffles on, so AQE plans a
    single exchange feeding both."""
    return spark.sql(_OHLC_SQL, events=load_table(spark, sf_dir, "events"))


_RVOL_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           SUM(CAST(value AS DECIMAL(18,2))) AS v
    FROM {events}
    GROUP BY event_type, CAST(ts AS DATE)
), lagged AS (
    SELECT event_type, v,
           LAG(v) OVER (PARTITION BY event_type ORDER BY day) AS pv
    FROM daily
), rets AS (
    SELECT event_type,
           CAST(ROUND((CAST(v AS DOUBLE) - CAST(pv AS DOUBLE))
                          / CAST(pv AS DOUBLE), 9) AS DECIMAL(18,9)) AS r
    FROM lagged
    WHERE pv IS NOT NULL AND pv > 0
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_returns,
       sqrt((CAST(SUM(r * r) AS DOUBLE)
                 - CAST(SUM(r) AS DOUBLE) * CAST(SUM(r) AS DOUBLE) / COUNT(*))
            / (COUNT(*) - 1)) AS daily_vol
FROM rets
GROUP BY event_type
"""


@query("events_realized_volatility", oracle=bare_tables(_RVOL_SQL))
def events_realized_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized (historical) volatility of the daily value series per
    event type: the sample standard deviation of day-over-day SIMPLE
    returns.  Simple, not log, returns — ln() diverges in the last ulp
    across libm builds (the documented cross-engine trap) while the
    ratio-and-subtract form is pure IEEE arithmetic.

    Determinism: daily totals are exact decimals; each return is ONE
    deterministic double ratio, immediately rounded to DECIMAL(18,9) so
    the cross-day power sums are exact and order-insensitive; the final
    stddev formula is the only remaining float boundary (sqrt is safe).

    Scale: |days|-sized after the first reduction; the per-type lag
    window partitions on the groupBy key."""
    return spark.sql(_RVOL_SQL, events=load_table(spark, sf_dir, "events"))


_ROLLCORR_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, event_type,
           SUM(CAST(value AS DECIMAL(18,2))) AS v
    FROM {events}
    WHERE event_type IN ('view', 'purchase')
    GROUP BY CAST(ts AS DATE), event_type
), wide AS (
    SELECT day,
           MAX(CASE WHEN event_type = 'view' THEN v END) AS x,
           MAX(CASE WHEN event_type = 'purchase' THEN v END) AS y
    FROM daily
    GROUP BY day
), both_present AS (
    SELECT day, x, y FROM wide WHERE x IS NOT NULL AND y IS NOT NULL
), roll AS (
    SELECT day,
           COUNT(*) OVER w AS n,
           CAST(SUM(x) OVER w AS DOUBLE) AS sx,
           CAST(SUM(y) OVER w AS DOUBLE) AS sy,
           CAST(SUM(x * y) OVER w AS DOUBLE) AS sxy,
           CAST(SUM(x * x) OVER w AS DOUBLE) AS sxx,
           CAST(SUM(y * y) OVER w AS DOUBLE) AS syy
    FROM both_present
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT day, CAST(n AS BIGINT) AS n_days,
       (n * sxy - sx * sy)
           / sqrt(GREATEST(n * sxx - sx * sx, 1e-12))
           / sqrt(GREATEST(n * syy - sy * sy, 1e-12)) AS rolling_r
FROM roll
WHERE n = 7
"""


@query("window_rolling_corr", oracle=bare_tables(_ROLLCORR_SQL))
def window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day rolling Pearson correlation between the daily view
    and purchase value series — "are these metrics still coupled?" as a
    time series rather than events_series_correlation's single number.

    Determinism: the five rolling power sums are EXACT decimal window
    sums over trailing frames (decimal window SUM is order-defined);
    each emitted r is then one shared IEEE formula on that row's exact
    sums.  Warm-up rows (frame < 7 days) are dropped rather than
    emitting partially-windowed statistics.

    Scale: the window input is |days| rows (the daily reduction comes
    first) — the unbounded-partition concern doesn't apply to a
    calendar-sized series; at multi-year scale, partition by year with
    a 6-day overlap stripe (the documented stitch from
    events_outage_windows)."""
    return spark.sql(_ROLLCORR_SQL, events=load_table(spark, sf_dir, "events"))


_PARETO_SQL = """
WITH pts AS (
    SELECT o_orderkey, o_totalprice AS price, CAST(o_orderdate AS DATE) AS day
    FROM {orders}
), daily_max AS (
    SELECT day, MAX(price) AS day_best
    FROM pts
    GROUP BY day
), scanned AS (
    SELECT day, day_best,
           MAX(day_best) OVER (ORDER BY day DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS best_later
    FROM daily_max
), frontier_days AS (
    SELECT day, day_best
    FROM scanned
    WHERE best_later IS NULL OR day_best > best_later
)
SELECT f.day, CAST(f.day_best AS DOUBLE) AS frontier_price,
       CAST(COUNT(*) AS BIGINT) AS n_orders_at_point
FROM frontier_days f
JOIN pts p ON p.day = f.day AND p.price = f.day_best
GROUP BY f.day, f.day_best
"""


@query("orders_pareto_frontier", oracle=bare_tables(_PARETO_SQL))
def orders_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of orders over (recency, totalprice):
    the orders no other order strictly beats on BOTH date and price —
    the 2-D skyline operator benchmark suites treat as its own query
    class, reduced to a sort + prefix-max scan.

    The reduction: only each day's max price can dominate anything, so
    the skyline of |orders| points equals the skyline of |days| daily
    maxima — computed by one descending-date scan keeping days whose
    max beats every STRICTLY-later day's running best (ties on price
    don't dominate; ROWS..1 PRECEDING over distinct days encodes the
    strictness).  Frontier membership then rejoins to count same-price
    ties at each vertex.

    Scale: groupBy(day) shuffles |days| rows; the ordered scan is
    calendar-sized; the rejoin is day-keyed.  A d-dimensional skyline
    generalizes via the same pre-reduction per dominance chain."""
    return spark.sql(_PARETO_SQL, orders=load_table(spark, sf_dir, "orders"))


def _theil_sen_sql(median_expr: str, unnest_expr: str) -> str:
    """Shared Theil-Sen text parameterized on the two per-dialect
    spellings (discrete median; index generator)."""
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, SUM(CAST(value AS DECIMAL(18,2))) AS v
    FROM {{events}} GROUP BY CAST(ts AS DATE)
), idx AS (
    SELECT CAST(DATEDIFF(day, MIN(day) OVER (), day) AS BIGINT) AS di,
           CAST(v * 100 AS BIGINT) AS cents
    FROM daily
), lefts AS (
    -- di > 0 guard: Spark's sequence(0, -1) DESCENDS instead of being
    -- empty (DuckDB's range(0, 0) is), so day 0 must not explode.
    SELECT di AS dj, cents AS cj, {unnest_expr} AS di_left
    FROM idx WHERE di > 0
), pairs AS (
    SELECT (CAST(l.cj AS DOUBLE) - CAST(r.cents AS DOUBLE))
               / (CAST(l.dj AS DOUBLE) - CAST(r.di AS DOUBLE)) AS slope
    FROM lefts l JOIN idx r ON l.di_left = r.di
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       {median_expr} AS slope_cents_per_day
FROM pairs
"""


_THEIL_SEN_ORACLE = _theil_sen_sql(
    "quantile_disc(slope, 0.5)",
    "unnest(range(0, di))",
).replace("DATEDIFF(day, MIN(day) OVER (), day)",
          "date_diff('day', MIN(day) OVER (), day)")
_THEIL_SEN_SPARK = _theil_sen_sql(
    "percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)",
    "explode(sequence(CAST(0 AS BIGINT), di - 1))",
)


@query("events_theil_sen_trend", oracle=bare_tables(_THEIL_SEN_ORACLE))
def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of the daily event-value series: the
    MEDIAN of all pairwise day-to-day slopes — the estimator that
    shrugs off the outlier days that wreck an OLS slope (up to 29%
    contamination), and the standard robust-trend line under every
    monitoring dashboard.

    Determinism: daily totals are exact decimals folded to BIGINT
    cents; each pairwise slope is ONE double division of exact integers
    (IEEE-deterministic), and the median is a DISCRETE pick — both
    engines select the identical slope value, no averaging of middles.

    Pair generation is an EQUI-join, not an inequality join: each day j
    explodes its predecessor indexes 0..j−1 and hash-joins them back to
    the daily frame — no BroadcastNestedLoop, no cartesian (guard-
    clean).  Scale: pairs = |days|·(|days|−1)/2 grows with the CALENDAR
    squared, not the fact — years of data are ~10⁶ pairs from one
    days-sized frame; the fact-scale work remains the one daily
    groupBy."""
    return spark.sql(_THEIL_SEN_SPARK, events=load_table(spark, sf_dir, "events"))


_BINSEG_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, SUM(CAST(value AS DECIMAL(18,2))) AS v
    FROM {events} GROUP BY CAST(ts AS DATE)
), seq AS (
    SELECT day, CAST(v * 100 AS BIGINT) AS cents,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i,
           CAST(COUNT(*) OVER () AS BIGINT) AS n,
           SUM(CAST(v * 100 AS BIGINT)) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_left,
           SUM(CAST(v * 100 AS BIGINT)) OVER () AS s_all
    FROM daily
), gains AS (
    SELECT day, i, n, s_left,
           s_all - s_left AS s_right,
           CAST(s_left * (n - i) - (s_all - s_left) * i AS DOUBLE)
               * CAST(s_left * (n - i) - (s_all - s_left) * i AS DOUBLE)
               / (CAST(i AS DOUBLE) * CAST(n - i AS DOUBLE) * CAST(n AS DOUBLE))
               AS gain
    FROM seq WHERE i < n
), best AS (
    SELECT day, i, n, s_left, s_right, gain,
           ROW_NUMBER() OVER (ORDER BY gain DESC, day) AS rk
    FROM gains
)
SELECT day AS split_day,
       CAST(i AS BIGINT) AS n_left,
       CAST(n - i AS BIGINT) AS n_right,
       CAST(s_left AS DOUBLE) / CAST(i AS DOUBLE) / 100 AS mean_left,
       CAST(s_right AS DOUBLE) / CAST(n - i AS DOUBLE) / 100 AS mean_right,
       gain / 10000 AS gain_sq_dollars
FROM best WHERE rk = 1
"""


@query("events_changepoint_binseg", oracle=bare_tables(_BINSEG_SQL))
def events_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation changepoint: the single split of the daily
    value series that maximizes the between-segment sum-of-squares gain
    n_l·n_r·(mean_l − mean_r)²/n — the first (and greedy-recursive)
    step of the classic binseg detector, and the offline complement of
    the online events_cusum_changepoint.

    Determinism: the gain's numerator (S_l·n_r − S_r·n_l)² is built
    from BIGINT cents prefix sums (exact until the final squaring,
    which is one deterministic double multiply); ties on the double
    gain break on the EARLIER day via a composite ROW_NUMBER order, so
    the argmax row is unique and hash-stable.

    Scale: the fact collapses to a days-sized frame first; prefix sums
    and the argmax are single-pass windows over that frame (the
    single-partition window is calendar-bounded — the documented
    exception the other daily-series operators share).  Recursive
    binseg = re-apply per segment; k changepoints cost k passes."""
    return spark.sql(_BINSEG_SQL, events=load_table(spark, sf_dir, "events"))


MAD_K_X10000 = 44478  # 3 * 1.4826 (normal-consistency constant), scaled 1e4


def _mad_sql(median_expr: str, mad_median_expr: str) -> str:
    """Shared MAD-outlier text; discrete-median spelling per dialect."""
    return f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
    FROM {{events}} GROUP BY event_type, CAST(ts AS DATE)
), med AS (
    SELECT event_type, {median_expr} AS med_cents
    FROM daily GROUP BY event_type
), dev AS (
    SELECT d.event_type, d.day, d.cents, m.med_cents,
           ABS(d.cents - m.med_cents) AS adev
    FROM daily d JOIN med m ON d.event_type = m.event_type
), mad AS (
    SELECT event_type, {mad_median_expr} AS mad_cents
    FROM dev GROUP BY event_type
)
SELECT d.event_type, d.day,
       CAST(d.cents AS BIGINT) AS cents,
       CAST(d.med_cents AS BIGINT) AS med_cents,
       CAST(m.mad_cents AS BIGINT) AS mad_cents
FROM dev d JOIN mad m ON d.event_type = m.event_type
WHERE d.adev * 10000 > {MAD_K_X10000} * m.mad_cents
"""


_MAD_ORACLE = _mad_sql(
    "quantile_disc(cents, 0.5)", "quantile_disc(adev, 0.5)"
)
_MAD_SPARK = _mad_sql(
    "percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)",
    "percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)",
)


@query("events_mad_outlier_days", oracle=bare_tables(_MAD_ORACLE))
def events_mad_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-anomaly detection by median absolute deviation: a
    day is anomalous when |value − median| > 3·1.4826·MAD — the
    breakdown-resistant twin of events_anomaly_zscore (one extreme day
    inflates a mean/stddev gate enough to hide itself; the median/MAD
    gate has a 50% breakdown point, so outliers can't mask each other).
    1.4826 makes MAD consistent with σ under normality, so the "3" is
    the familiar three-sigma knob.

    Fully INTEGER: daily totals fold to BIGINT cents, both medians are
    DISCRETE picks (identical data values on both engines), and the
    gate compares adev·10⁴ > 44478·MAD in exact BIGINT arithmetic — no
    float anywhere, hash-exact by construction.

    Scale: one fact-sized groupBy to the (type, day) frame; everything
    after runs on calendar-bounded rows with two per-type median
    aggregations and type-keyed joins (types-sized, broadcast)."""
    return spark.sql(_MAD_SPARK, events=load_table(spark, sf_dir, "events"))


ROLLMED_W = 7  # trailing window width in days


def _rollmed_sql(median_expr: str, unnest_expr: str) -> str:
    """Shared rolling-median text; discrete-median + generator spellings
    per dialect."""
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
    FROM {{events}} GROUP BY CAST(ts AS DATE)
), offs AS (
    SELECT day, cents, {unnest_expr} AS off FROM daily
), contrib AS (
    SELECT day + CAST(off AS INT) AS anchor_day, day, cents FROM offs
), windows AS (
    SELECT c.anchor_day, c.cents
    FROM contrib c JOIN daily a ON c.anchor_day = a.day
), med AS (
    SELECT anchor_day, CAST(COUNT(*) AS BIGINT) AS n_days,
           {median_expr} AS median_cents
    FROM windows GROUP BY anchor_day
)
SELECT anchor_day AS day, n_days, CAST(median_cents AS BIGINT) AS median_cents
FROM med WHERE n_days = {ROLLMED_W}
"""


_ROLLMED_ORACLE = _rollmed_sql(
    "quantile_disc(cents, 0.5)", f"unnest(range(0, {ROLLMED_W}))"
)
_ROLLMED_SPARK = _rollmed_sql(
    "percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)",
    f"explode(sequence(0, {ROLLMED_W - 1}))",
)


@query("window_rolling_median_7d", oracle=bare_tables(_ROLLMED_ORACLE))
def window_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-CALENDAR-day rolling exact median of the global daily
    value series.  Deliberately DISTINCT from window_rolling_median
    (analytics.py), which is the ROWS-frame variant: a ROWS BETWEEN 6
    PRECEDING frame silently stretches across calendar gaps (after a
    2-day outage it spans 9 real days), while this operator windows by
    CALENDAR day — a gap shrinks n_days and the warm-up filter drops
    the cell instead of emitting a median over the wrong span.  The two
    are the time-series analog of the ROWS-vs-RANGE window pair, and
    production metric pipelines need both.

    Also a different PLAN CLASS, not just different semantics: instead
    of collect_list-over-window (per-row frame state), each day
    EXPLODES onto the {ROLLMED_W} anchor days its value contributes to,
    anchors semi-join back to observed days, and the median becomes a
    plain GROUPED discrete pick — the explode-to-anchors trick the HLL
    sliding-distinct rollup uses: equi-joins plus one grouped
    aggregation, no window state at all.  Integer cents end-to-end; the
    discrete median picks an actual data value on both engines.

    Scale: fanout is {ROLLMED_W}× a CALENDAR-sized frame (KBs), after
    the one fact-sized daily reduction.  A wider window at fact scale
    switches to the same pre-binned grouped-median the KS family
    documents."""
    return spark.sql(_ROLLMED_SPARK, events=load_table(spark, sf_dir, "events"))


def _decomp_sql(trend_median: str, seas_median: str, unnest_expr: str) -> str:
    """Shared additive-decomposition text; discrete-median + generator
    spellings per dialect."""
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
    FROM {{events}} GROUP BY CAST(ts AS DATE)
), offs AS (
    SELECT day, cents, {unnest_expr} AS off FROM daily
), contrib AS (
    SELECT day + CAST(off AS INT) AS anchor_day, cents FROM offs
), trend AS (
    SELECT c.anchor_day AS day, CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST({trend_median} AS BIGINT) AS trend_cents
    FROM contrib c JOIN daily a ON c.anchor_day = a.day
    GROUP BY c.anchor_day
), detrended AS (
    SELECT d.day, d.cents, t.trend_cents,
           (EXTRACT(DAY FROM d.day) % 7) AS dow_bucket,
           d.cents - t.trend_cents AS detr
    FROM daily d JOIN trend t ON d.day = t.day
    WHERE t.n_days = {ROLLMED_W}
), seasonal AS (
    SELECT dow_bucket, CAST({seas_median} AS BIGINT) AS seasonal_cents
    FROM detrended GROUP BY dow_bucket
)
SELECT d.day, d.cents,
       d.trend_cents,
       s.seasonal_cents,
       CAST(d.cents - d.trend_cents - s.seasonal_cents AS BIGINT)
           AS residual_cents
FROM detrended d JOIN seasonal s ON d.dow_bucket = s.dow_bucket
"""


_DECOMP_ORACLE = _decomp_sql(
    "quantile_disc(c.cents, 0.5)",
    "quantile_disc(detr, 0.5)",
    f"unnest(range(0, {ROLLMED_W}))",
)
_DECOMP_SPARK = _decomp_sql(
    "percentile_disc(0.5) WITHIN GROUP (ORDER BY c.cents)",
    "percentile_disc(0.5) WITHIN GROUP (ORDER BY detr)",
    f"explode(sequence(0, {ROLLMED_W - 1}))",
)


@query("events_decompose_additive", oracle=bare_tables(_DECOMP_ORACLE))
def events_decompose_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust additive time-series decomposition (the STL idea in its
    median-based form): value = trend + seasonal + residual, where
    trend is the trailing-7-day rolling MEDIAN (window_rolling_median_7d's
    machinery inlined), seasonal is the per-day-of-week median of the
    detrended series, and the residual is whatever remains — the
    decomposition monitoring reads before alerting ("is today's spike
    real, or is it just Monday?").

    Every component is INTEGER CENTS via discrete medians, so the
    additive identity holds EXACTLY row by row (pinned in tests) and
    the whole result is hash-stable with zero float ops.  Day-of-week
    buckets by day-of-month % 7 — the engine-portable spelling (weekday
    NUMBERING differs between Spark and DuckDB, the documented trap;
    the bucket is a consistent weekly phase either way).

    Scale: one fact-sized daily reduction; trend/seasonal/residual all
    run on calendar-sized frames via equi-joins and grouped discrete
    picks — no window state, no single-partition sort."""
    return spark.sql(_DECOMP_SPARK, events=load_table(spark, sf_dir, "events"))


BACKTEST_LAG_DAYS = 7  # seasonal-naive horizon: forecast(d) = value(d-7)


def _backtest_sql(idiv: str) -> str:
    """Shared backtest text; integer-division spelling per dialect
    (Spark ``DIV``, DuckDB ``//``)."""
    return f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
    FROM {{events}} GROUP BY event_type, CAST(ts AS DATE)
), paired AS (
    SELECT a.event_type, a.day, a.cents,
           f.cents AS forecast_cents
    FROM daily a
    JOIN daily f ON f.event_type = a.event_type
                AND f.day = a.day - {BACKTEST_LAG_DAYS}
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_scored_days,
       CAST(SUM(ABS(cents - forecast_cents)) {idiv} COUNT(*) AS BIGINT)
           AS mae_cents,
       CAST(SUM(ABS(cents - forecast_cents) * 10000 {idiv} cents)
                {idiv} COUNT(*) AS BIGINT) AS mape_bp,
       CAST(SUM(CASE WHEN forecast_cents > cents THEN 1 ELSE 0 END)
            AS BIGINT) AS n_over_forecast
FROM paired
GROUP BY event_type
"""


_BACKTEST_ORACLE = _backtest_sql("//")
_BACKTEST_SPARK = _backtest_sql("DIV")



@query("events_seasonal_naive_backtest", oracle=bare_tables(_BACKTEST_ORACLE))
def events_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast BACKTESTING — the evaluation half of any forecasting
    pipeline, run against the seasonal-naive baseline forecast(d) =
    value(d−{BACKTEST_LAG_DAYS}) (the model every real forecast must
    beat before it ships; Hyndman's standard yardstick, and the
    denominator of the MASE metric).  Per series: scored days, MAE,
    MAPE, and the over-forecast count (bias direction).

    Exactness: the error fold is pure BIGINT — per-day absolute errors
    in cents, per-day MAPE contributions as FLOOR basis points, final
    averages as integer division.  Floor-mean-of-floors is a defined,
    documented convention (both engines execute the identical integer
    expression), chosen over float division because a metric that gates
    a model promotion must never hash-differ.

    Scale: the self-join is calendar-keyed on the |days|-sized daily
    frame — an equi-join on (type, day), no window state; the daily
    reduction is the only fact-sized stage."""
    return spark.sql(_BACKTEST_SPARK, events=load_table(spark, sf_dir, "events"))


def _burstiness_sql(epoch_us: str) -> str:
    """Shared burstiness text; epoch-microseconds spelling per dialect
    (Spark ``unix_micros``, DuckDB ``epoch_us``)."""
    return f"""
WITH gaps AS (
    SELECT event_type,
           CAST({epoch_us}(ts) - LAG({epoch_us}(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS BIGINT)
               AS gap_us
    FROM {{events}}
), g AS (
    SELECT event_type, gap_us FROM gaps WHERE gap_us IS NOT NULL
), sums AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(gap_us AS DECIMAL(28,0))) AS DOUBLE) AS s,
           CAST(SUM(CAST(gap_us AS DECIMAL(28,0))
                    * CAST(gap_us AS DECIMAL(28,0))) AS DOUBLE) AS q
    FROM g GROUP BY event_type
)
SELECT event_type, n,
       s / n AS mean_gap_us,
       sqrt((q - s * s / n) / (n - 1)) AS std_gap_us,
       (sqrt((q - s * s / n) / (n - 1)) - s / n)
           / (sqrt((q - s * s / n) / (n - 1)) + s / n) AS burstiness
FROM sums
"""


_BURSTINESS_ORACLE = _burstiness_sql("epoch_us")
_BURSTINESS_SPARK = _burstiness_sql("unix_micros")


@query("events_interarrival_burstiness", oracle=bare_tables(_BURSTINESS_ORACLE))
def events_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness B = (σ−μ)/(σ+μ) per event stream — the
    Goh-Barabási coefficient that classifies arrival processes in one
    number: B≈−1 periodic (σ≪μ), B≈0 Poisson (σ=μ, the exponential's
    signature), B→1 bursty (heavy-tailed gaps) — the statistic behind
    capacity planning's "is this traffic Poisson or bursty" question,
    which the rate-based anomaly gates (zscore/MAD) can't answer.

    Gaps are exact BIGINT microseconds pinned by the (ts, event_id)
    total order; power sums are exact DECIMAL(28,0) (gap² sums stay
    within 38 digits for centuries of microseconds); μ, σ, B are one
    shared IEEE formula per group.

    Scale: one type-partitioned ordered window (the same shuffle the
    sessionization family uses) reducing to 3 numbers per stream;
    partial aggregation carries the decimal sums map-side."""
    return spark.sql(_BURSTINESS_SPARK, events=load_table(spark, sf_dir, "events"))


def _simpson_sql(idiv: str) -> str:
    """Shared Gini-Simpson text; integer-division spelling per dialect
    (Spark ``DIV``, DuckDB ``//``)."""
    return f"""
WITH counts AS (
    SELECT CAST(ts AS DATE) AS day, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM {{events}} GROUP BY CAST(ts AS DATE), event_type
), per_day AS (
    SELECT day,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(n * (n - 1)) AS BIGINT) AS same_pairs
    FROM counts GROUP BY day
)
SELECT day, n_events, n_types,
       CAST(1000000 - (same_pairs * 1000000) {idiv} (n_events * (n_events - 1))
            AS BIGINT) AS simpson_ppm
FROM per_day
WHERE n_events > 1
"""


_SIMPSON_ORACLE = _simpson_sql("//")
_SIMPSON_SPARK = _simpson_sql("DIV")


@query("events_diversity_simpson", oracle=bare_tables(_SIMPSON_ORACLE))
def events_diversity_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily Gini-Simpson diversity of the event-type mix — the
    probability (ppm) that two events drawn WITHOUT replacement from a
    day are of different types, i.e. the unbiased finite-sample
    diversity index.  This is the "is traffic becoming monocultural?"
    gate: a day whose mix collapses toward one event type (bot floods,
    instrumentation loss on all-but-one emitter) drops toward 0 while
    total volume — all the rate-based anomaly gates watch — looks
    normal.  Chosen over Shannon entropy deliberately: entropy needs
    log() whose last-ulp varies per libm build (the documented ban from
    events_realized_volatility), while Simpson is EXACT RATIONAL
    arithmetic end-to-end — sum n_i(n_i-1) over N(N-1), floor-scaled to
    ppm as pure BIGINT, bit-identical on any engine.

    Scale: (day, type) reduction then a day-level fold — both map-side
    combined, output bounded by the calendar."""
    return spark.sql(_SIMPSON_SPARK, events=load_table(spark, sf_dir, "events"))


HOLT_ALPHA_E3 = 300  # level smoothing, thousandths
HOLT_BETA_E3 = 100  # trend smoothing, thousandths


def _tz_div(idiv: str, x: str) -> str:
    """Trunc-toward-zero scaled division text (Spark DIV truncates,
    DuckDB // floors — the sign split pins both to truncation)."""
    return (f"CASE WHEN ({x}) >= 0 THEN ({x}) {idiv} 1000 "
            f"ELSE -((-({x})) {idiv} 1000) END")


def _holt_chain(idiv: str) -> str:
    """Holt linear-trend RECURSIVE CTE chain — the ORACLE's spelling of
    the recurrence (DuckDB recursion is cheap).  The Spark side runs
    the same integer recurrence as a single higher-order aggregate()
    fold instead (_holt_fold_sql): Spark executes one scheduler round
    PER recursion level (~0.3 s x |days| measured — 19.5 s for 30
    levels at sf0.1, and re-evaluates non-recursive CTEs referenced by
    the recursive arm each level), while the fold is one stage (~1 s).
    Same updates, same trunc-toward-zero divisions, bit-identical
    states — the driver hash certifies it every round.

    Composable: _holt_sql appends the per-day output,
    _model_selection_sql appends the backtest tail."""
    a, b = HOLT_ALPHA_E3, HOLT_BETA_E3
    lnew = _tz_div(idiv, f"{a} * r.v + {1000 - a} * (h.l + h.t)")
    tnew = _tz_div(idiv, f"{b} * (({lnew}) - h.l) + {1000 - b} * h.t")
    return f"""
WITH RECURSIVE daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS v
    FROM events GROUP BY CAST(ts AS DATE)
), idx AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i, day, v
    FROM daily
), holt AS (
    SELECT i, day, v, v AS l, CAST(0 AS BIGINT) AS t
    FROM idx WHERE i = 1
    UNION ALL
    SELECT r.i, r.day, r.v,
           CAST({lnew} AS BIGINT),
           CAST({tnew} AS BIGINT)
    FROM holt h JOIN idx r ON r.i = h.i + 1
)"""


def _holt_fold_chain() -> str:
    """Spark-side Holt states as ONE aggregate() fold over the packed
    daily series (see _holt_chain docstring for the measured recursion
    overhead this dodges).  Yields a `holt` relation with (day, v, l, t)
    — the same shape the oracle's recursive CTE exposes."""
    a, b = HOLT_ALPHA_E3, HOLT_BETA_E3
    lnew = _tz_div("DIV", f"{a} * x.v + {1000 - a} * (acc.l + acc.t)")
    tnew = _tz_div("DIV", f"{b} * (({lnew}) - acc.l) + {1000 - b} * acc.t")
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS v
    FROM {{events}} GROUP BY CAST(ts AS DATE)
), packed AS (
    SELECT array_sort(collect_list(named_struct('day', day, 'v', v))) AS series
    FROM daily
), folded AS (
    SELECT aggregate(
        series,
        named_struct('started', false, 'l', CAST(0 AS BIGINT),
                     't', CAST(0 AS BIGINT),
                     'out', CAST(array() AS
                         ARRAY<STRUCT<day: DATE, v: BIGINT, l: BIGINT, t: BIGINT>>)),
        (acc, x) -> CASE WHEN NOT acc.started THEN named_struct(
                'started', true, 'l', x.v, 't', CAST(0 AS BIGINT),
                'out', array(named_struct('day', x.day, 'v', x.v,
                                          'l', x.v, 't', CAST(0 AS BIGINT))))
            ELSE named_struct(
                'started', true,
                'l', CAST({lnew} AS BIGINT),
                't', CAST({tnew} AS BIGINT),
                'out', array_append(acc.out, named_struct('day', x.day, 'v', x.v,
                       'l', CAST({lnew} AS BIGINT), 't', CAST({tnew} AS BIGINT))))
            END,
        acc -> acc.out) AS out
    FROM packed
), holt AS (
    SELECT o.day, o.v, o.l, o.t
    FROM folded LATERAL VIEW explode(out) ex AS o
)"""


_HOLT_TAIL = """
SELECT day, v AS value_cents, l AS level_cents, t AS trend_cents,
       l + t AS forecast_next_cents
FROM holt
"""


_HOLT_ORACLE = _holt_chain("//") + _HOLT_TAIL
_HOLT_SPARK = _holt_fold_chain() + _HOLT_TAIL


@query("events_holt_linear_forecast", oracle=_HOLT_ORACLE)
def events_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing of the daily revenue series —
    the level+trend forecaster one rung above both the EWMA
    (events_ewma_daily: level only, lags any trend) and the seasonal
    naive (events_seasonal_naive_backtest: no smoothing at all): each
    day updates l = alpha*v + (1-alpha)(l+t) and
    t = beta*(l-l_prev) + (1-beta)*t, and the one-step-ahead forecast
    is l+t — the standard capacity-planning baseline when the series
    trends.

    The recurrences are SEQUENTIAL by construction (each day's state
    feeds the next), so they run as a WITH RECURSIVE CTE — identical
    text on both engines, the stat_kaplan_meier machinery — in scaled
    integer arithmetic: alpha/beta in thousandths, state in cents,
    every division an explicit trunc-toward-zero CASE (level and trend
    go NEGATIVE on downturns; Spark DIV truncates while DuckDB //
    floors, so the naive spelling diverges exactly there).  t_1 = 0
    (zero-trend init, documented choice).

    Scale: the fact-sized stage is the daily reduction; recursion depth
    = |days| (calendar-bounded, under Spark's 100-level CTE default for
    any quarter; raise spark.sql.cteRecursionLevelLimit for multi-year
    spans — or window-chunk the recurrence)."""
    return spark.sql(_HOLT_SPARK, events=load_table(spark, sf_dir, "events"))


def _bot_sql(epoch_us: str, idiv: str) -> str:
    """Shared bot-gate text; epoch-microsecond and integer-division
    spellings per dialect (all divisions on non-negative operands)."""
    metro = f"(m.modal_cnt * 1000000) {idiv} m.n_gaps"
    return f"""
WITH gaps AS (
    SELECT user_id,
           CAST({epoch_us}(ts) - LAG({epoch_us}(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS gap_us
    FROM {{events}}
), gap_counts AS (
    SELECT user_id, gap_us, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM gaps WHERE gap_us IS NOT NULL GROUP BY user_id, gap_us
), modal AS (
    SELECT user_id, cnt AS modal_cnt,
           CAST(SUM(cnt) OVER (PARTITION BY user_id) AS BIGINT) AS n_gaps,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY cnt DESC, gap_us ASC) AS rn
    FROM gap_counts
), per_user AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM {{events}} GROUP BY user_id
)
SELECT u.user_id, u.n_events, u.active_days, u.n_types,
       COALESCE(m.n_gaps, 0) AS n_gaps,
       COALESCE({metro}, 0) AS metronome_ppm,
       CASE WHEN (u.n_events {idiv} u.active_days) >= 50 THEN 1 ELSE 0 END
           AS rate_flag,
       CASE WHEN u.n_types = 1 AND u.n_events >= 10 THEN 1 ELSE 0 END
           AS monotone_flag,
       CASE WHEN COALESCE({metro}, 0) >= 500000 AND m.n_gaps >= 5
            THEN 1 ELSE 0 END AS metronome_flag,
       CASE WHEN (u.n_events {idiv} u.active_days) >= 50
              OR (u.n_types = 1 AND u.n_events >= 10)
              OR (COALESCE({metro}, 0) >= 500000 AND m.n_gaps >= 5)
            THEN 1 ELSE 0 END AS is_bot
FROM per_user u
LEFT JOIN modal m ON m.user_id = u.user_id AND m.rn = 1
"""


_BOT_ORACLE = _bot_sql("epoch_us", "//")
_BOT_SPARK = _bot_sql("unix_micros", "DIV")


@query("events_bot_score_gate", oracle=bare_tables(_BOT_ORACLE))
def events_bot_score_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite bot/automation gate per user — the traffic-hygiene
    filter a training-data pipeline runs BEFORE any behavioral
    analytics or corpus construction trusts the event stream.  Three
    orthogonal heuristics, each catching what the others miss:
    sustained RATE (>= 50 events per active day — humans don't),
    MONOTONY (one event type over >= 10 events — scrapers click, humans
    wander; the per-user twin of events_diversity_simpson's daily mix
    read), and the METRONOME (>= 50% of inter-arrival gaps are the
    SAME exact microsecond value, >= 5 gaps — schedulers fire on exact
    periods, humans never do; the modal-gap concentration is the
    pointwise complement of events_interarrival_burstiness' variance
    read, which a clever bot with two alternating periods fools while
    the mode still catches it).

    Exactness: every feature is an exact count off one user-partitioned
    ordered window + one grouped reduction; the modal gap is a
    deterministic (count DESC, gap ASC) pick; concentration is floor
    ppm on non-negative BIGINTs; flags and the OR-verdict are integer
    CASEs — bit-identical both engines.

    Scale: two shuffles on user_id (window + groupBy, AQE-coalesced),
    modal pick is a per-user-partition window on the |user x distinct
    gap| table; output is |users| rows."""
    return spark.sql(_BOT_SPARK, events=load_table(spark, sf_dir, "events"))


def _residual_gate_sql(trend_median: str, seas_median: str, unnest_expr: str) -> str:
    """Residual anomaly gate = the additive decomposition wrapped as a
    CTE (nested WITH is legal in both dialects) + a MAD gate on the
    residual channel.  Global medians enter via MAX(CASE rank-fence)
    OVER () windows — no 1-row join, no nested-loop node."""
    return f"""
WITH base AS ({_decomp_sql(trend_median, seas_median, unnest_expr)}
), ranked AS (
    SELECT b.*,
           ROW_NUMBER() OVER (ORDER BY residual_cents, day) AS rn,
           COUNT(*) OVER () AS n
    FROM base b
), withmed AS (
    SELECT *,
           MAX(CASE WHEN rn = CAST(FLOOR((n + 1) / 2.0) AS BIGINT)
                    THEN residual_cents END) OVER () AS med_res
    FROM ranked
), withdev AS (
    SELECT *, ABS(residual_cents - med_res) AS adev FROM withmed
), ranked2 AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY adev, day) AS rn2 FROM withdev
), final AS (
    SELECT *,
           MAX(CASE WHEN rn2 = CAST(FLOOR((n + 1) / 2.0) AS BIGINT)
                    THEN adev END) OVER () AS mad
    FROM ranked2
)
SELECT day, cents, trend_cents, seasonal_cents, residual_cents,
       med_res AS residual_median_cents,
       mad AS residual_mad_cents,
       CASE WHEN ABS(residual_cents - med_res) * 10000 > 44478 * mad
            THEN 1 ELSE 0 END AS is_anomaly
FROM final
"""


_RESID_GATE_ORACLE = _residual_gate_sql(
    "quantile_disc(c.cents, 0.5)",
    "quantile_disc(detr, 0.5)",
    f"unnest(range(0, {ROLLMED_W}))",
)
_RESID_GATE_SPARK = _residual_gate_sql(
    "percentile_disc(0.5) WITHIN GROUP (ORDER BY c.cents)",
    "percentile_disc(0.5) WITHIN GROUP (ORDER BY detr)",
    f"explode(sequence(0, {ROLLMED_W - 1}))",
)


@query("events_residual_anomaly_gate", oracle=bare_tables(_RESID_GATE_ORACLE))
def events_residual_anomaly_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly gate on the DECOMPOSED residual channel — the composition
    the raw-value gates can't replace: events_mad_outlier_days flags
    whole unusual days, but a day can be wildly anomalous FOR A MONDAY
    while sitting inside the global normal band (and vice versa during
    a trend ramp).  Running the MAD gate on residual = value - trend -
    seasonal (events_decompose_additive's exact integer identity) asks
    the right question: "is this day surprising GIVEN the trend and the
    weekly rhythm?"

    Exactness: the decomposition is integer cents row-by-row; the
    residual median and MAD are discrete rank-fence picks delivered by
    MAX(CASE) OVER () windows (no scalar-subquery join); the gate is
    the same integer inequality as the raw-value MAD gate
    (adev * 1e4 > 44478 * MAD = the 3-sigma-equivalent fence with
    1.4826 consistency scaling, all in BIGINTs).  An all-flat series
    has MAD 0 and any nonzero deviation flags — the strictest
    defensible reading, shared by the raw gate.

    Scale: everything after the daily reduction runs on calendar-
    bounded rows; the explode-to-anchors trend stage is the documented
    {ROLLMED_W}x calendar fanout."""
    return spark.sql(_RESID_GATE_SPARK, events=load_table(spark, sf_dir, "events"))


def _model_selection_tail(day_minus_7: str) -> str:
    """Shared model-selection tail over a `holt`+`daily` chain;
    date-arithmetic spelling per dialect (Spark ``date_sub(day, 7)``,
    DuckDB ``day - 7``)."""
    return f"""
, with_f AS (
    SELECT day, v, LAG(l + t) OVER (ORDER BY day) AS f_holt
    FROM holt
), naive AS (
    SELECT a.day, b.v AS f_naive
    FROM daily a JOIN daily b ON b.day = {day_minus_7}
), common AS (
    SELECT w.day, w.v, w.f_holt, n.f_naive
    FROM with_f w JOIN naive n ON n.day = w.day
    WHERE w.f_holt IS NOT NULL
)
SELECT 'holt' AS model,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(ABS(v - f_holt)) AS BIGINT) AS sum_abs_err_cents,
       CAST(SUM(ABS(v - f_holt)) AS DOUBLE) / COUNT(*) AS mae_cents
FROM common
UNION ALL
SELECT 'seasonal_naive' AS model,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(ABS(v - f_naive)) AS BIGINT) AS sum_abs_err_cents,
       CAST(SUM(ABS(v - f_naive)) AS DOUBLE) / COUNT(*) AS mae_cents
FROM common
"""


_MODEL_SEL_ORACLE = _holt_chain("//") + _model_selection_tail("a.day - 7")
_MODEL_SEL_SPARK = _holt_fold_chain() + _model_selection_tail("date_sub(a.day, 7)")


@query("events_forecast_model_selection", oracle=_MODEL_SEL_ORACLE)
def events_forecast_model_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast MODEL SELECTION — Holt's level+trend one-step-ahead
    forecast backtested head-to-head against the seasonal naive
    f(d) = v(d-7) on the IDENTICAL day panel (days where both models
    can forecast: Holt needs one prior day, the naive needs d-7
    observed), reporting per-model MAE.  This is the decision query
    the two forecasters themselves can't answer: which one earns the
    capacity-planning slot on THIS series — trend-following or weekly
    rhythm?

    Exactness: Holt states come from the shared integer recursive
    chain (_holt_chain — the same text events_holt_linear_forecast
    runs); one-step forecasts are a LAG over the state table; absolute
    errors are BIGINT cents summed exactly; each MAE is one exact
    division.  The common-panel restriction makes the comparison fair
    by construction, not by footnote.

    Scale: the daily reduction dominates; the Spark side folds the
    recurrence in one stage (see _holt_chain's measured note), the
    rest is calendar-bounded (one self-join on the daily table,
    2-row output)."""
    return spark.sql(_MODEL_SEL_SPARK, events=load_table(spark, sf_dir, "events"))


# Rolling 14-observation OLS slope; identical WINDOW-clause text both
# engines (the window_rolling_corr discipline), BIGINT sums, one closing
# IEEE division per row.
_ROLLING_SLOPE_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS y
    FROM {events} GROUP BY CAST(ts AS DATE)
), idx AS (
    SELECT day, y, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS x
    FROM daily
), sums AS (
    SELECT day,
           CAST(COUNT(*) OVER w AS BIGINT) AS n,
           CAST(SUM(x) OVER w AS BIGINT) AS sx,
           CAST(SUM(y) OVER w AS BIGINT) AS sy,
           CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
           CAST(SUM(x * y) OVER w AS BIGINT) AS sxy
    FROM idx
    WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT day, n AS n_days,
       CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents_per_day
FROM sums WHERE n = 14
"""


@query("window_rolling_slope_14d", oracle=bare_tables(_ROLLING_SLOPE_SQL))
def window_rolling_slope_14d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 14-observation OLS slope of the daily revenue series —
    the LOCAL trend readout the global fits can't give: events_trend_slope
    is one number for the whole series and events_theil_sen_trend is its
    robust twin, but "is revenue accelerating THIS fortnight" needs the
    regression re-fit per day over a trailing frame.  This is the
    momentum/trend-reversal signal under every ops dashboard's sparkline.

    Exactness: x is the observation index (slope in cents per OBSERVED
    day — a ROWS frame, the deliberate row-semantics sibling of the
    calendar-RANGE family), y is integer cents; all five frame sums are
    BIGINT-exact via one shared WINDOW clause; each day's slope is one
    IEEE division of exact operands.  Warm-up days (frame < 14) are
    dropped, not fudged.

    Scale: one daily reduction, one ordered window — the single-
    partition pinch is calendar-bounded, the standard fix (range-
    partition by coarse time, overlap by 13 rows) documented."""
    return spark.sql(_ROLLING_SLOPE_SQL, events=load_table(spark, sf_dir, "events"))


# Strict local maxima over a +-3-day ROWS frame, exact integer margins.
_LOCAL_PEAKS_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS v
    FROM {events} GROUP BY CAST(ts AS DATE)
), framed AS (
    SELECT day, v,
           CAST(MAX(v) OVER (ORDER BY day
                ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS BIGINT) AS left_max,
           CAST(MAX(v) OVER (ORDER BY day
                ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS right_max,
           CAST(COUNT(*) OVER (ORDER BY day
                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS n_frame
    FROM daily
)
SELECT day, v AS value_cents,
       v - left_max AS left_margin_cents,
       v - right_max AS right_margin_cents
FROM framed
WHERE n_frame = 7 AND v > left_max AND v > right_max
"""


@query("events_local_peaks", oracle=bare_tables(_LOCAL_PEAKS_SQL))
def events_local_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict local peaks of the daily revenue series — days greater
    than EVERY neighbor within +-3 rows, with exact integer margins to
    the nearest-side maxima.  The capacity-alerting complement of the
    trough-finding gates: anomaly detectors ask "is today weird?",
    peak detection asks "was that the local top?" (campaign attribution
    windows, load-test scheduling, cache-warm windows all key off it).

    Exactness: integer cents, two one-sided MAX frames, strict
    comparisons; edge days (incomplete +-3 frame) are excluded by the
    frame-count predicate instead of being silently compared against a
    truncated window — the warm-up discipline of the rolling family.

    Scale: one daily reduction + one calendar-bounded ordered window."""
    return spark.sql(_LOCAL_PEAKS_SQL, events=load_table(spark, sf_dir, "events"))


SLO_BUDGET_PPM = 10_000  # 1% error budget
BURN_FAST_X100 = 1440  # 14.4x — the standard page threshold (fast window)
BURN_SLOW_X100 = 600  # 6x — the standard page threshold (slow window)


def _burn_rate_sql(idiv: str) -> str:
    """Shared multi-window burn-rate text; integer division per dialect
    (all operands non-negative)."""
    return f"""
WITH hourly AS (
    SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour,
           CAST(COUNT(*) AS BIGINT) AS total,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS errors
    FROM {{events}} GROUP BY CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP)
), windows AS (
    SELECT hour, total, errors,
           CAST(SUM(total) OVER w6 AS BIGINT) AS total_6h,
           CAST(SUM(errors) OVER w6 AS BIGINT) AS errors_6h,
           CAST(COUNT(*) OVER w6 AS BIGINT) AS n_hours_6h
    FROM hourly
    WINDOW w6 AS (ORDER BY hour ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
), burn AS (
    SELECT hour,
           (errors * 1000000 {idiv} total) {idiv} {SLO_BUDGET_PPM // 100}
               AS burn_fast_x100,
           (errors_6h * 1000000 {idiv} total_6h) {idiv} {SLO_BUDGET_PPM // 100}
               AS burn_slow_x100,
           n_hours_6h
    FROM windows
)
SELECT hour,
       CAST(burn_fast_x100 AS BIGINT) AS burn_fast_x100,
       CAST(burn_slow_x100 AS BIGINT) AS burn_slow_x100,
       CASE WHEN burn_fast_x100 >= {BURN_FAST_X100}
             AND burn_slow_x100 >= {BURN_SLOW_X100}
            THEN 1 ELSE 0 END AS page
FROM burn WHERE n_hours_6h = 6
"""


_BURN_ORACLE = _burn_rate_sql("//")
_BURN_SPARK = _burn_rate_sql("DIV")


@query("events_slo_burn_rate", oracle=bare_tables(_BURN_ORACLE))
def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window error-budget burn rate — the SRE-workbook alerting
    policy, verbatim: burn = error_rate / SLO_budget (1% here) over a
    FAST window (1 hour — catches cliffs) and a SLOW window (trailing
    6 hours — rejects blips), and a page fires only when BOTH exceed
    their thresholds (14.4x / 6x — the standard pair that spends 2% of
    a 30-day budget before paging).  This is the alert the raw anomaly
    gates (zscore/MAD/CUSUM) feed but cannot replace: burn rate is
    denominated in BUDGET, so the same alert definition holds at any
    traffic volume.

    Exactness: error counts and totals are exact; burn is two chained
    floor divisions (error ppm, then budget units x100) on non-negative
    BIGINTs; the page flag is an integer conjunction.  Warm-up hours
    (incomplete 6h frame) are dropped, not compared against a short
    denominator — the rolling family's discipline.

    Scale: one hourly reduction (map-side combined), one
    calendar-bounded ordered window."""
    return spark.sql(_BURN_SPARK, events=load_table(spark, sf_dir, "events"))


XCORR_MAX_LAG = 7  # days of lead tested: does today's view volume predict purchases L days out?

_XCORR_ORACLE = f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE event_type IN ('view', 'purchase')
        GROUP BY 1, 2
    ), v AS (SELECT day, n AS xv FROM daily WHERE event_type = 'view'),
    p AS (SELECT day, n AS xp FROM daily WHERE event_type = 'purchase'),
    lags AS (SELECT CAST(range AS INT) AS lag FROM range(0, {XCORR_MAX_LAG + 1})),
    aligned AS (
        SELECT l.lag, v.xv, p.xp
        FROM v CROSS JOIN lags l
        JOIN p ON p.day = v.day + l.lag
    ), sums AS (
        SELECT lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xv) AS BIGINT) AS sx,
               CAST(SUM(xp) AS BIGINT) AS sy,
               CAST(SUM(xv * xp) AS BIGINT) AS sxy,
               CAST(SUM(xv * xv) AS BIGINT) AS sxx,
               CAST(SUM(xp * xp) AS BIGINT) AS syy
        FROM aligned GROUP BY lag
    )
    SELECT lag, n AS n_days,
           CAST(n * sxy - sx * sy AS DOUBLE)
           / sqrt(GREATEST(CAST(n * sxx - sx * sx AS DOUBLE), 1e-12))
           / sqrt(GREATEST(CAST(n * syy - sy * sy AS DOUBLE), 1e-12)) AS pearson_r
    FROM sums
"""


@query("events_lead_lag_xcorr", oracle=_XCORR_ORACLE)
def events_lead_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation sweep: Pearson r between the daily
    view-count series and the purchase-count series shifted 0..7 days
    forward — the "how long does demand take to convert" scan that sits
    behind marketing-mix lag models and metric-causality triage
    (events_series_correlation answers lag 0 only; the sweep locates
    the lag where the relationship PEAKS).

    Determinism: both series are exact integer daily counts; each lag's
    r comes from exact BIGINT power sums (n, Σx, Σy, Σxy, Σx², Σy² —
    magnitudes bounded by days×(daily count)², far under int64) pushed
    through the shared one-shot IEEE formula, sqrt floored at 1e-12 —
    the events_series_correlation discipline swept across a lag
    dimension.

    Plan shape: one daily reduction over events (map-side combined),
    then the 8-row lag dimension broadcast-fans the view series and an
    equi join on the SHIFTED day aligns it with purchases — alignment
    is a join on a computed key, never a window over the fact table.
    Scale: post-reduction everything is calendar-sized (days × 8 rows)
    regardless of event volume; at 100 TB only the first groupBy
    touches the facts."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    v = daily.filter(F.col("event_type") == "view").select(
        "day", F.col("n").alias("xv")
    )
    p = daily.filter(F.col("event_type") == "purchase").select(
        F.col("day").alias("pday"), F.col("n").alias("xp")
    )
    lags = spark.range(0, XCORR_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    aligned = (
        v.crossJoin(F.broadcast(lags))
        .withColumn("tday", F.date_add(F.col("day"), F.col("lag")))
        .join(p, F.col("tday") == F.col("pday"))
    )
    n = F.count(F.lit(1))
    sx = F.sum("xv")
    sy = F.sum("xp")
    sxy = F.sum(F.col("xv") * F.col("xp"))
    sxx = F.sum(F.col("xv") * F.col("xv"))
    syy = F.sum(F.col("xp") * F.col("xp"))
    r = (
        (n * sxy - sx * sy).cast("double")
        / F.sqrt(F.greatest((n * sxx - sx * sx).cast("double"), F.lit(1e-12)))
        / F.sqrt(F.greatest((n * syy - sy * sy).cast("double"), F.lit(1e-12)))
    )
    return aligned.groupBy("lag").agg(n.alias("n_days"), r.alias("pearson_r"))


LTTB_BUCKETS = 12  # output size of the downsampled series


def _lttb_sql(idiv: str) -> str:
    """Shared fixed-anchor LTTB text; integer-division token per
    dialect (all operands non-negative)."""
    b = LTTB_BUCKETS
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
    FROM {{events}} GROUP BY CAST(ts AS DATE)
), indexed AS (
    SELECT day, y,
           CAST(day - DATE '1970-01-01' AS BIGINT) AS xd,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS idx,
           CAST(COUNT(*) OVER () AS BIGINT) AS n
    FROM daily
), bucketed AS (
    SELECT day, y, xd, idx, n,
           CAST(((idx - 1) * {b}) {idiv} n AS BIGINT) AS bucket
    FROM indexed
), anchors AS (
    SELECT bucket,
           CAST(SUM(xd) AS DOUBLE) / COUNT(*) AS ax,
           CAST(SUM(y) AS DOUBLE) / COUNT(*) AS ay
    FROM bucketed GROUP BY bucket
), scored AS (
    SELECT p.bucket, p.day, p.y,
           ABS((l.ax - r.ax) * (CAST(p.y AS DOUBLE) - l.ay)
               - (l.ax - CAST(p.xd AS DOUBLE)) * (r.ay - l.ay)) AS area
    FROM bucketed p
    JOIN anchors l ON l.bucket = p.bucket - 1
    JOIN anchors r ON r.bucket = p.bucket + 1
    WHERE p.bucket BETWEEN 1 AND {b - 2}
), picked AS (
    SELECT bucket, day, y,
           ROW_NUMBER() OVER (PARTITION BY bucket
                              ORDER BY area DESC, day) AS rn
    FROM scored
)
SELECT CAST(bucket AS INT) AS bucket, day, y FROM picked WHERE rn = 1
UNION ALL
SELECT CAST(bucket AS INT) AS bucket, day, y
FROM bucketed WHERE idx = 1 OR idx = n
"""


_LTTB_ORACLE = _lttb_sql("//")
_LTTB_SPARK = _lttb_sql("DIV")


@query("events_lttb_downsample", oracle=bare_tables(_LTTB_ORACLE))
def events_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling of the daily event
    series to {LTTB_BUCKETS} points — the standard charting reduction
    (Steinarsson 2013) that keeps the VISUALLY IMPORTANT points (peaks,
    cliffs) where per-bucket averaging would flatten them: each interior
    bucket keeps the point forming the largest triangle with its
    neighbor buckets' anchors; the endpoints are always kept.

    This is the FIXED-ANCHOR variant: both anchors are the neighbor
    buckets' averages.  Canonical LTTB anchors the left side on the
    previously SELECTED point — a sequential dependency that serializes
    the whole series through one scan; fixing both anchors makes every
    bucket's selection independent (one join + one windowed argmax,
    embarrassingly parallel) at a small fidelity cost the original paper
    itself measures as minor (its own streaming variant makes the same
    trade).  At 100 TB you run THIS shape; the sequential refinement is
    a days-sized post-pass if ever needed.

    Exactness: x is the epoch-day integer, y an exact count; anchors
    are single divisions of exact sums (identical doubles cross-engine);
    the triangle area is one shared multiply/subtract formula (no
    transcendentals), and the argmax tie-breaks on day — double-vs-
    double comparison of identically computed values.

    Plan: one fact-sized daily reduction; everything after (index
    window, bucket agg, neighbor equi-joins, per-bucket argmax) runs on
    the calendar-sized series.  The single-partition ROW_NUMBER is over
    |days| rows — the rolling family's documented bound."""
    return spark.sql(_LTTB_SPARK, events=load_table(spark, sf_dir, "events"))


CROSTON_ALPHA_E3 = 200  # smoothing for both demand size and interval, thousandths
CROSTON_VALUE_MIN = 300  # error events above this value form the sparse demand series


def _croston_grid(day_gen: str) -> str:
    """Shared gapfilled-daily-grid text for the sparse demand series;
    per-dialect calendar generator (Spark explode(sequence), DuckDB
    unnest(generate_series)).  Zero-demand days MUST exist as rows —
    Croston's interval state q counts them."""
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS v
    FROM {{events}}
    WHERE event_type = 'error' AND value > {CROSTON_VALUE_MIN}
    GROUP BY CAST(ts AS DATE)
), bounds AS (
    SELECT MIN(CAST(ts AS DATE)) AS dmin, MAX(CAST(ts AS DATE)) AS dmax
    FROM {{events}}
), grid AS (
    SELECT {day_gen} AS day FROM bounds
), idx AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY g.day) AS BIGINT) AS i,
           g.day, COALESCE(d.v, CAST(0 AS BIGINT)) AS v
    FROM grid g LEFT JOIN daily d ON d.day = g.day
)"""


_CROSTON_TAIL = f"""
SELECT day, v AS demand, z AS z_milli, p AS p_milli,
       (z * 1000) {{idiv}} p AS croston_forecast_milli
FROM walk WHERE v > 0
"""


def _croston_oracle() -> str:
    a = CROSTON_ALPHA_E3
    return (
        _croston_grid(
            "CAST(unnest(generate_series(dmin, dmax, INTERVAL 1 DAY)) AS DATE)"
        ).replace("WITH daily", "WITH RECURSIVE daily")
        + f""", walk AS (
    SELECT i, day, v,
           CASE WHEN v > 0 THEN 1 ELSE 0 END AS started,
           CASE WHEN v > 0 THEN v * 1000 ELSE CAST(0 AS BIGINT) END AS z,
           CASE WHEN v > 0 THEN CAST(1000 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS p,
           CASE WHEN v > 0 THEN CAST(1 AS BIGINT)
                ELSE CAST(2 AS BIGINT) END AS q
    FROM idx WHERE i = 1
    UNION ALL
    SELECT r.i, r.day, r.v,
           CASE WHEN r.v > 0 THEN 1 ELSE w.started END AS started,
           CASE WHEN r.v > 0 THEN
                CASE WHEN w.started = 0 THEN r.v * 1000
                     ELSE ({a} * (r.v * 1000) + {1000 - a} * w.z) // 1000 END
                ELSE w.z END AS z,
           CASE WHEN r.v > 0 THEN
                CASE WHEN w.started = 0 THEN w.q * 1000
                     ELSE ({a} * (w.q * 1000) + {1000 - a} * w.p) // 1000 END
                ELSE w.p END AS p,
           CASE WHEN r.v > 0 THEN CAST(1 AS BIGINT) ELSE w.q + 1 END AS q
    FROM walk w JOIN idx r ON r.i = w.i + 1
)"""
        + _CROSTON_TAIL.format(idiv="//")
    )


def _croston_spark() -> str:
    a = CROSTON_ALPHA_E3
    znew = f"CAST(({a} * (x.v * 1000) + {1000 - a} * acc.z) DIV 1000 AS BIGINT)"
    pnew = f"CAST(({a} * (acc.q * 1000) + {1000 - a} * acc.p) DIV 1000 AS BIGINT)"
    return (
        _croston_grid("explode(sequence(dmin, dmax))")
        + f""", packed AS (
    SELECT array_sort(collect_list(named_struct('day', day, 'v', v))) AS series
    FROM idx
), folded AS (
    SELECT aggregate(
        series,
        named_struct('started', false, 'z', CAST(0 AS BIGINT),
                     'p', CAST(0 AS BIGINT), 'q', CAST(1 AS BIGINT),
                     'out', CAST(array() AS
                         ARRAY<STRUCT<day: DATE, v: BIGINT, z: BIGINT, p: BIGINT>>)),
        (acc, x) -> CASE
            WHEN x.v > 0 AND NOT acc.started THEN named_struct(
                'started', true, 'z', x.v * 1000, 'p', acc.q * 1000,
                'q', CAST(1 AS BIGINT),
                'out', array_append(acc.out, named_struct('day', x.day, 'v', x.v,
                       'z', x.v * 1000, 'p', acc.q * 1000)))
            WHEN x.v > 0 THEN named_struct(
                'started', true, 'z', {znew}, 'p', {pnew},
                'q', CAST(1 AS BIGINT),
                'out', array_append(acc.out, named_struct('day', x.day, 'v', x.v,
                       'z', {znew}, 'p', {pnew})))
            ELSE named_struct(
                'started', acc.started, 'z', acc.z, 'p', acc.p,
                'q', acc.q + 1, 'out', acc.out)
            END,
        acc -> acc.out) AS out
    FROM packed
), walk AS (
    SELECT o.day, o.v, o.z, o.p FROM folded LATERAL VIEW explode(out) ex AS o
)"""
        + _CROSTON_TAIL.format(idiv="DIV")
    )


@query("events_croston_intermittent", oracle=bare_tables(_croston_oracle()))
def events_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for INTERMITTENT demand — the standard forecaster
    when most periods are zero (spare parts, rare-error budgeting, tail
    SKUs), where Holt/EWMA are biased toward zero by all the empty days:
    smooth the nonzero demand SIZES (z) and the BETWEEN-demand intervals
    (p) as two separate exponential states updated only on demand days,
    and forecast the per-period rate as z/p.  Demand here: daily counts
    of high-value error events (> {CROSTON_VALUE_MIN}) — ~20% of days at
    the gate scale, a genuinely sparse series.

    Same execution split as events_holt_linear_forecast (the measured
    ~0.3 s/recursion-level Spark overhead): the ORACLE spells the
    recurrence as WITH RECURSIVE over the gapfilled calendar; the Spark
    side folds the packed series in ONE aggregate() stage.  States are
    scaled integers (alpha = {CROSTON_ALPHA_E3}/1000, milli states,
    non-negative throughout so // and DIV agree); the zero-day rows the
    interval counter depends on come from an explicit calendar
    gapfill — a forecaster that only sees demand rows silently halves p.

    Scale: daily reduction (fact-sized) → calendar-sized fold; at
    100 TB the fold input is |days| rows regardless of event volume,
    same bound as the Holt family."""
    return spark.sql(_croston_spark(), events=load_table(spark, sf_dir, "events"))


XMR_SIGMA_E3 = 2660  # 2.66 = 3/d2(n=2), the individuals-chart constant, thousandths


def _xmr_sql() -> str:
    """Shared XmR (individuals + moving range) control-chart text —
    identical on both dialects."""
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM {{events}} WHERE event_type = 'error'
    GROUP BY CAST(ts AS DATE)
), mr AS (
    SELECT day, x,
           ABS(x - LAG(x) OVER (ORDER BY day)) AS moving_range
    FROM daily
), center AS (
    SELECT CAST(SUM(x) AS DOUBLE) / COUNT(*) AS x_bar,
           CAST(SUM(moving_range) AS DOUBLE)
               / SUM(CASE WHEN moving_range IS NOT NULL THEN 1 ELSE 0 END)
               AS mr_bar
    FROM mr
)
SELECT day, x, moving_range,
       x_bar,
       x_bar + ({XMR_SIGMA_E3} * mr_bar) / 1000 AS ucl,
       x_bar - ({XMR_SIGMA_E3} * mr_bar) / 1000 AS lcl,
       CASE WHEN CAST(x AS DOUBLE) > x_bar + ({XMR_SIGMA_E3} * mr_bar) / 1000
              OR CAST(x AS DOUBLE) < x_bar - ({XMR_SIGMA_E3} * mr_bar) / 1000
            THEN 1 ELSE 0 END AS out_of_control
FROM mr CROSS JOIN center
"""


@query("events_xmr_control_chart", oracle=bare_tables(_xmr_sql()))
def events_xmr_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR (individuals & moving-range) control chart over the daily
    error count — the Shewhart SPC chart for metrics with ONE
    observation per period: sigma is estimated from the mean of
    consecutive |differences| (MR̄), limits are x̄ ± 2.66·MR̄, and a point
    outside them is a special-cause signal.  Completes the
    anomaly-detection ladder with the classical process-control member:
    z-score assumes a stable variance estimate, CUSUM detects small
    sustained drifts, MAD resists outliers — XmR is the standard when
    the "distribution" is one point per day and variance must come from
    short-range structure, not the (possibly trending) global spread.

    Exactness: counts and moving ranges are exact integers; x̄ and MR̄
    are single divisions of exact sums; the 2.66 constant is carried as
    the integer {XMR_SIGMA_E3}/1000 inside one shared limit text; the
    flag is a comparison of identically computed doubles.  (MR̄ divides
    by the count of DEFINED ranges — n−1, not n: the first day has no
    predecessor, and dividing by n reads ~4% tight limits.)

    Scale: daily reduction (fact-sized, map-side combined) → one
    calendar-sized lag window → a single-row center-line broadcast.
    The cross join is 1×|days| — the q11 scalar pattern."""
    return spark.sql(_xmr_sql(), events=load_table(spark, sf_dir, "events"))


def _strength_sql(inner: str) -> str:
    """Hyndman seasonal/trend strength over the decomposition output;
    the inner text is the dialect's full decomposition query."""
    return f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       GREATEST(0.0, 1 - (COUNT(*) * CAST(SUM(r2) AS DOUBLE)
                          - CAST(SUM(r) AS DOUBLE) * CAST(SUM(r) AS DOUBLE))
                       / GREATEST(COUNT(*) * CAST(SUM(sr2) AS DOUBLE)
                                  - CAST(SUM(sr) AS DOUBLE) * CAST(SUM(sr) AS DOUBLE),
                                  1e-12)) AS seasonal_strength,
       GREATEST(0.0, 1 - (COUNT(*) * CAST(SUM(r2) AS DOUBLE)
                          - CAST(SUM(r) AS DOUBLE) * CAST(SUM(r) AS DOUBLE))
                       / GREATEST(COUNT(*) * CAST(SUM(tr2) AS DOUBLE)
                                  - CAST(SUM(tr) AS DOUBLE) * CAST(SUM(tr) AS DOUBLE),
                                  1e-12)) AS trend_strength
FROM (
    SELECT residual_cents AS r,
           residual_cents * residual_cents AS r2,
           seasonal_cents + residual_cents AS sr,
           (seasonal_cents + residual_cents)
               * (seasonal_cents + residual_cents) AS sr2,
           trend_cents + residual_cents AS tr,
           (trend_cents + residual_cents)
               * (trend_cents + residual_cents) AS tr2
    FROM ({inner}) comp
) moments
"""


@query("events_seasonal_strength", oracle=bare_tables(_strength_sql(_DECOMP_ORACLE)))
def events_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal and trend STRENGTH of the daily revenue series — the
    Hyndman feature pair (F_s = max(0, 1 − Var(R)/Var(S+R)), F_t with
    the trend component): the one-number answers to "is this series
    worth a seasonal model" and "does it trend at all", read before
    choosing between the engine's forecasters (seasonal-naive vs Holt
    vs Croston — events_forecast_model_selection automates the
    backtest; this scores the decomposition itself).  Composes DIRECTLY
    over events_decompose_additive's exact integer components.

    Exactness: the components are integer cents, so every power sum is
    exact BIGINT; the two variance ratios go through one shared IEEE
    formula with the n·Σx² products lifted to DOUBLE (identical inputs
    → identical doubles) and denominators floored at 1e-12.

    Scale: inherits the decomposition's plan (one fact-sized daily
    reduction, calendar-sized joins); the strength tail is a single
    fold over |days| rows."""
    return spark.sql(
        _strength_sql(_DECOMP_SPARK),
        events=load_table(spark, sf_dir, "events"),
    )


HW_ALPHA_E3 = 300  # level smoothing, thousandths
HW_BETA_E3 = 100  # trend smoothing, thousandths
HW_GAMMA_E3 = 200  # seasonal smoothing, thousandths
HW_PERIOD = 7  # weekly seasonality


def _hw_oracle() -> str:
    """Holt-Winters additive recurrence as WITH RECURSIVE, seasonal
    state as {HW_PERIOD} explicit columns (DuckDB list lambdas lack a
    stable index form; the Spark fold carries an array instead — same
    values, different carrier)."""
    a, b, g, m = HW_ALPHA_E3, HW_BETA_E3, HW_GAMMA_E3, HW_PERIOD
    s_old = ("CASE CAST((r.i - 1) % 7 AS INT) "
             + " ".join(f"WHEN {k} THEN w.s{k}" for k in range(m))
             + " END")
    lnew = _tz_div("//", f"{a} * (r.v - ({s_old})) + {1000 - a} * (w.l + w.t)")
    tnew = _tz_div("//", f"{b} * (({lnew}) - w.l) + {1000 - b} * w.t")
    snew = _tz_div("//", f"{g} * (r.v - ({lnew})) + {1000 - g} * ({s_old})")
    s_cols = ", ".join(
        f"CAST(CASE WHEN CAST((r.i - 1) % 7 AS INT) = {k} THEN {snew} "
        f"ELSE w.s{k} END AS BIGINT) AS s{k}"
        for k in range(m)
    )
    init_s = ", ".join(
        f"CAST(MAX(CASE WHEN i = {k + 1} THEN v END) - (CAST(SUM(v) AS BIGINT) // {m}) "
        f"AS BIGINT) AS s{k}"
        for k in range(m)
    )
    return f"""
WITH RECURSIVE daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS v
    FROM events GROUP BY CAST(ts AS DATE)
), idx AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i, day, v
    FROM daily
), init AS (
    SELECT CAST(SUM(v) AS BIGINT) // {m} AS l0, {init_s}
    FROM idx WHERE i <= {m}
), walk AS (
    SELECT x.i, x.day, x.v,
           CAST(0 AS BIGINT) AS fitted,
           init.l0 AS l, CAST(0 AS BIGINT) AS t,
           {', '.join(f'init.s{k} AS s{k}' for k in range(m))}
    FROM idx x CROSS JOIN init WHERE x.i = {m}
    UNION ALL
    SELECT r.i, r.day, r.v,
           CAST(w.l + w.t + ({s_old}) AS BIGINT) AS fitted,
           CAST({lnew} AS BIGINT) AS l,
           CAST({tnew} AS BIGINT) AS t,
           {s_cols}
    FROM walk w JOIN idx r ON r.i = w.i + 1
)
SELECT day, v AS value_cents, fitted AS fitted_cents,
       l AS level_cents, t AS trend_cents,
       v - fitted AS residual_cents
FROM walk WHERE i > {m}
"""


def _hw_spark() -> str:
    """The identical recurrence as ONE aggregate() fold (the Holt/
    Croston execution split; seasonal state rides an ARRAY<BIGINT>
    updated with the two-arg transform lambda)."""
    a, b, g, m = HW_ALPHA_E3, HW_BETA_E3, HW_GAMMA_E3, HW_PERIOD
    s_old = f"element_at(acc.s, CAST(acc.cnt % {m} AS INT) + 1)"
    lnew = _tz_div("DIV", f"{a} * (x.v - ({s_old})) + {1000 - a} * (acc.l + acc.t)")
    tnew = _tz_div("DIV", f"{b} * (({lnew}) - acc.l) + {1000 - b} * acc.t")
    snew = _tz_div("DIV", f"{g} * (x.v - ({lnew})) + {1000 - g} * ({s_old})")
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS v
    FROM {{events}} GROUP BY CAST(ts AS DATE)
), packed AS (
    SELECT array_sort(collect_list(named_struct('day', day, 'v', v))) AS series
    FROM daily
), folded AS (
    SELECT aggregate(
        series,
        named_struct(
            'cnt', CAST(0 AS BIGINT),
            'buf', CAST(array() AS ARRAY<BIGINT>),
            'l', CAST(0 AS BIGINT), 't', CAST(0 AS BIGINT),
            's', CAST(array() AS ARRAY<BIGINT>),
            'out', CAST(array() AS ARRAY<STRUCT<day: DATE, v: BIGINT,
                        fitted: BIGINT, l: BIGINT, t: BIGINT>>)),
        (acc, x) -> CASE
            WHEN acc.cnt < {m - 1} THEN named_struct(
                'cnt', acc.cnt + 1, 'buf', array_append(acc.buf, x.v),
                'l', acc.l, 't', acc.t, 's', acc.s, 'out', acc.out)
            WHEN acc.cnt = {m - 1} THEN named_struct(
                'cnt', acc.cnt + 1, 'buf', array_append(acc.buf, x.v),
                'l', aggregate(array_append(acc.buf, x.v), CAST(0 AS BIGINT),
                               (sa, bv) -> sa + bv) DIV {m},
                't', CAST(0 AS BIGINT),
                's', transform(array_append(acc.buf, x.v),
                     bv -> bv - aggregate(array_append(acc.buf, x.v),
                                          CAST(0 AS BIGINT),
                                          (sa, b2) -> sa + b2) DIV {m}),
                'out', acc.out)
            ELSE named_struct(
                'cnt', acc.cnt + 1, 'buf', acc.buf,
                'l', CAST({lnew} AS BIGINT),
                't', CAST({tnew} AS BIGINT),
                's', transform(acc.s, (sv, k) ->
                         CASE WHEN k = CAST(acc.cnt % {m} AS INT)
                              THEN CAST({snew} AS BIGINT) ELSE sv END),
                'out', array_append(acc.out, named_struct(
                    'day', x.day, 'v', x.v,
                    'fitted', CAST(acc.l + acc.t + ({s_old}) AS BIGINT),
                    'l', CAST({lnew} AS BIGINT), 't', CAST({tnew} AS BIGINT))))
            END,
        acc -> acc.out) AS out
    FROM packed
), walk AS (
    SELECT o.day, o.v, o.fitted, o.l, o.t
    FROM folded LATERAL VIEW explode(out) ex AS o
)
SELECT day, v AS value_cents, fitted AS fitted_cents,
       l AS level_cents, t AS trend_cents,
       v - fitted AS residual_cents
FROM walk
"""


@query("events_holt_winters_additive", oracle=_hw_oracle())
def events_holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE triple exponential smoothing of daily
    revenue (weekly seasonality, m = {HW_PERIOD}) — the top of the
    engine's exponential-smoothing ladder: EWMA smooths a level, Holt
    adds a trend, Croston handles intermittency, and Holt-Winters adds
    the SEASONAL state a weekly-cycled business series actually needs
    (the per-day fitted value l+t+s_j is the one-step forecast a
    capacity planner reads).  l ← α(x−s_j)+(1−α)(l+t);
    t ← β(Δl)+(1−β)t; s_j ← γ(x−l)+(1−γ)s_j; init: first-week mean
    level, zero trend, first-week deviations as seasonals (documented
    standard choice); output starts at day {HW_PERIOD}+1.

    Same execution split as Holt/Croston: recursive CTE oracle vs ONE
    Spark aggregate() fold — here the seasonal state rides an
    ARRAY<BIGINT> updated in place by the two-arg transform lambda
    (the oracle carries 7 explicit columns: DuckDB's list lambdas lack
    the index form).  All states are scaled integers in cents with
    trunc-toward-zero divisions (level/trend/seasonal all go negative
    on downturns — the DIV-vs-// floor trap, pinned by _tz_div on both
    sides).

    Scale: the fact-sized stage is the daily reduction; the fold input
    is |days| rows — calendar-bounded at any event volume, one stage,
    no recursion-level scheduling overhead (the measured Holt
    motivation: 19.5 s recursive vs 1.9 s fold at sf0.1)."""
    return spark.sql(_hw_spark(), events=load_table(spark, sf_dir, "events"))


def _residual_diag_sql(inner: str) -> str:
    """Durbin-Watson + Wald-Wolfowitz runs test over the decomposition
    residuals — the inner text is the dialect's full decomposition."""
    return f"""
WITH resid AS (
    SELECT day, residual_cents AS e FROM ({inner}) comp
), lagged AS (
    SELECT day, e,
           LAG(e) OVER (ORDER BY day) AS e_prev,
           CASE WHEN e > 0 THEN 1 ELSE 0 END AS pos,
           LAG(CASE WHEN e > 0 THEN 1 ELSE 0 END) OVER (ORDER BY day)
               AS pos_prev
    FROM resid
), sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(e * e) AS BIGINT) AS sse,
           CAST(SUM(CASE WHEN e_prev IS NULL THEN 0
                         ELSE (e - e_prev) * (e - e_prev) END) AS BIGINT)
               AS ssd,
           CAST(SUM(pos) AS BIGINT) AS n1,
           CAST(SUM(1 - pos) AS BIGINT) AS n2,
           CAST(1 + SUM(CASE WHEN pos_prev IS NOT NULL
                              AND pos <> pos_prev THEN 1 ELSE 0 END)
                AS BIGINT) AS n_runs
    FROM lagged
)
SELECT n, n1, n2, n_runs,
       CAST(ssd AS DOUBLE) / sse AS durbin_watson,
       (CAST(n_runs AS DOUBLE)
        - (CAST(2 AS DOUBLE) * n1 * n2 / (n1 + n2) + 1))
       / sqrt(GREATEST(
             (CAST(2 AS DOUBLE) * n1 * n2)
             * (CAST(2 AS DOUBLE) * n1 * n2 - n1 - n2)
             / ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2) * (n1 + n2 - 1)),
             1e-12)) AS runs_z
FROM sums
"""


@query(
    "stat_residual_diagnostics",
    oracle=bare_tables(_residual_diag_sql(_DECOMP_ORACLE)),
)
def stat_residual_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual WHITENESS diagnostics for the additive decomposition —
    the model-adequacy check that closes the forecasting loop: if the
    residuals still carry structure, the trend/seasonal fit is leaving
    signal on the table.  Two classical tests in one pass: the
    Durbin-Watson statistic (Σ(eₜ−eₜ₋₁)²/Σeₜ² — ≈2 for white residuals,
    →0 under positive autocorrelation, →4 under negative) and the
    Wald-Wolfowitz RUNS test z-score on residual signs (too few sign
    runs = sticky level the decomposition missed; too many =
    over-differencing).  DW is the regression-residual standard; the
    runs test is its distribution-free cross-check.

    Exactness: residuals are exact integer cents, so SSE/SSD and the
    sign/run counts are exact BIGINTs; DW is one division; the runs z
    is one shared rational-plus-sqrt formula (expected runs and
    variance are exact-input arithmetic — no CDF, the z-statistic
    discipline; the 2.0 literal is spelled CAST(2 AS DOUBLE) because
    DuckDB parses bare float literals as DECIMAL and its fixed-scale
    decimal division diverged in the 6th digit — measured).  Zero
    residuals count as non-positive (documented tie rule, identical
    both sides).

    Scale: inherits the decomposition's calendar-bounded plan; the
    diagnostics tail is one lag window + one fold over |days| rows."""
    return spark.sql(
        _residual_diag_sql(_DECOMP_SPARK),
        events=load_table(spark, sf_dir, "events"),
    )


BOLLINGER_W = 7  # trailing window (days); bands at ±2 sample std


_BOLLINGER_SQL = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
    FROM {{events}} GROUP BY CAST(ts AS DATE)
), win AS (
    SELECT day, cents,
           CAST(COUNT(*) OVER w AS BIGINT) AS n,
           CAST(SUM(cents) OVER w AS BIGINT) AS s1,
           CAST(SUM(cents * cents) OVER w AS BIGINT) AS s2
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN {BOLLINGER_W - 1} PRECEDING
                 AND CURRENT ROW)
), bands AS (
    SELECT day, cents, n,
           CAST(s1 AS DOUBLE) / n AS mid,
           sqrt(GREATEST((n * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)
                         / (CAST(n AS DOUBLE) * (n - 1)), 0.0)) AS sd
    FROM win WHERE n = {BOLLINGER_W}
)
SELECT day, cents AS value_cents, mid AS band_mid,
       mid - 2 * sd AS band_lo, mid + 2 * sd AS band_hi,
       CAST(CASE WHEN CAST(cents AS DOUBLE) > mid + 2 * sd THEN 1
                 WHEN CAST(cents AS DOUBLE) < mid - 2 * sd THEN -1
                 ELSE 0 END AS INT) AS breakout
FROM bands
"""


@query("events_bollinger_bands", oracle=bare_tables(_BOLLINGER_SQL))
def events_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over daily revenue: trailing-{BOLLINGER_W}-day
    mean ± 2 sample standard deviations, with a ternary breakout flag —
    the volatility-scaled envelope (vs the fixed-multiplier XmR limits
    and the quantile envelope of events_percentile_bands_daily: the
    Bollinger width ADAPTS to recent volatility, which is why trading
    and capacity dashboards both draw it).  Warm-up days (incomplete
    window) are dropped, the rolling family's discipline.

    Exactness: cents are exact integers so the windowed power sums are
    exact BIGINTs (bounded: days×cents² ≪ 2⁶³ until daily revenue
    exceeds ~$10¹² — then lift s2 to DECIMAL, plan unchanged); mean,
    sample variance, and the band arithmetic are one shared IEEE
    formula text; the variance numerator is floored at 0 (catastrophic
    cancellation on constant windows would otherwise sqrt a −ε).

    Scale: one fact-sized daily reduction, one calendar-bounded ordered
    window — the SLO-burn-rate plan with different math."""
    return spark.sql(_BOLLINGER_SQL, events=load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# stat_process_capability — Cp / Cpk against a qualified baseline band
# --------------------------------------------------------------------------

# d2(n=2) = 1.128: E[moving range] = d2 * sigma for individuals charts —
# the same constant family as XMR_SIGMA_E3 (2.66 = 3/d2).
_CAPABILITY_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
    FROM {events} GROUP BY CAST(ts AS DATE)
), seq AS (
    SELECT cents,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS rn,
           ABS(cents - LAG(cents) OVER (ORDER BY day)) AS mr
    FROM daily
), folds AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(cents) AS BIGINT) AS total,
           CAST(SUM(CASE WHEN rn <= 7 THEN cents END) AS BIGINT) AS base7,
           CAST(SUM(CASE WHEN rn <= 7 THEN 1 ELSE 0 END) AS BIGINT) AS nbase,
           CAST(SUM(mr) AS BIGINT) AS mr_sum
    FROM seq
), stats AS (
    SELECT n_days,
           CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE) / 100e0 AS mu,
           CAST(base7 AS DOUBLE) / CAST(nbase AS DOUBLE) / 100e0 AS mu_base,
           CAST(mr_sum AS DOUBLE) / CAST(n_days - 1 AS DOUBLE)
               / 1.128e0 / 100e0 AS sigma_hat
    FROM folds
)
SELECT n_days, mu, mu_base, sigma_hat,
       1.2e0 * mu_base AS usl,
       0.8e0 * mu_base AS lsl,
       (1.2e0 * mu_base - 0.8e0 * mu_base) / (6e0 * sigma_hat) AS cp,
       CASE WHEN 1.2e0 * mu_base - mu < mu - 0.8e0 * mu_base
            THEN (1.2e0 * mu_base - mu) / (3e0 * sigma_hat)
            ELSE (mu - 0.8e0 * mu_base) / (3e0 * sigma_hat) END AS cpk
FROM stats
"""


@query("stat_process_capability", oracle=bare_tables(_CAPABILITY_SQL))
def stat_process_capability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-capability indices Cp/Cpk for the daily event-value
    stream against a QUALIFIED baseline band — the acceptance twin of
    events_xmr_control_chart: the XmR chart asks "is the process
    stable?", capability asks "stable AND inside spec?".  Spec limits
    are ±20% around the first-week baseline mean (the qualification
    convention; production passes contract limits as literals), sigma
    is the individuals-chart short-term estimate MRbar/d2 (d2 = 1.128,
    the same constant family as XMR_SIGMA_E3).  Cp is the two-sided
    potential, Cpk the centering-penalized actual — Cpk << Cp is the
    "capable but drifted" signature that triggers recentering, not
    respec'ing.

    Determinism: daily totals and moving ranges fold as exact BIGINT
    cents in ONE conditional aggregation (the baseline window rides a
    rn<=7 CASE, not a second scan); mu, sigma and both indices are one
    shared IEEE closing expression over exact integer operands.

    Scale: one fact-sized daily groupBy; the lag window runs on the
    calendar-bounded daily table; a single 1-row fold ends the plan —
    no join anywhere."""
    return spark.sql(_CAPABILITY_SQL, events=load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# events_hurst_exponent — rescaled-range long-memory estimate
# --------------------------------------------------------------------------

_HURST_WINDOWS = (4, 8, 16)
# ln(m) literals shared verbatim by both engines (repr round-trips exactly)
_HURST_LNM = {4: "1.3862943611198906", 8: "2.0794415416798357", 16: "2.772588722239781"}


def _hurst_sql(idiv: str) -> str:
    """Generated shared R/S text; per-dialect integer division.  One
    block frame per window size m, unioned; the closing Hurst slope is
    a literal-lx OLS over the three (ln m, ln avg R/S) points."""
    blocks = " UNION ALL ".join(
        f"""
    SELECT {m} AS m, (i {idiv} {m}) AS b,
           CAST({m} * SUM(y) OVER (PARTITION BY (i {idiv} {m}) ORDER BY i)
                - (ROW_NUMBER() OVER (PARTITION BY (i {idiv} {m}) ORDER BY i))
                  * SUM(y) OVER (PARTITION BY (i {idiv} {m})) AS BIGINT) AS mz,
           CAST(SUM(y) OVER (PARTITION BY (i {idiv} {m})) AS BIGINT) AS s,
           CAST(SUM(y * y) OVER (PARTITION BY (i {idiv} {m})) AS BIGINT) AS q
    FROM seq WHERE i < {m} * (n {idiv} {m})"""
        for m in _HURST_WINDOWS
    )
    lx_cases = " ".join(
        f"WHEN m = {m} THEN {_HURST_LNM[m]}e0" for m in _HURST_WINDOWS
    )
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
    FROM {{events}} GROUP BY CAST(ts AS DATE)
), seq AS (
    SELECT y,
           CAST(ROW_NUMBER() OVER (ORDER BY d) - 1 AS BIGINT) AS i,
           CAST(COUNT(*) OVER () AS BIGINT) AS n
    FROM daily
), blocks AS ({blocks}
), per_block AS (
    SELECT m, b,
           CAST(MAX(mz) - MIN(mz) AS BIGINT) AS range_m,
           MAX(m * q - s * s) AS var_m
    FROM blocks GROUP BY m, b
    HAVING MAX(m * q - s * s) > 0
), rs AS (
    SELECT m, b,
           CAST(FLOOR(CAST(range_m AS DOUBLE)
                / SQRT(CAST(var_m AS DOUBLE)) * 1000000000e0) AS BIGINT)
               AS rs_e9
    FROM per_block
), per_m AS (
    SELECT m,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(rs_e9) AS BIGINT) AS rs_sum_e9
    FROM rs GROUP BY m
), pts AS (
    SELECT m, n_blocks,
           CAST(rs_sum_e9 AS DOUBLE) / CAST(n_blocks AS DOUBLE) / 1000000000e0
               AS avg_rs,
           CASE {lx_cases} END AS lx,
           CAST(FLOOR(LN(CAST(rs_sum_e9 AS DOUBLE) / CAST(n_blocks AS DOUBLE)
                         / 1000000000e0) * 1000000000e0) AS BIGINT) AS ly_e9
    FROM per_m
)
SELECT m AS window_days, n_blocks, avg_rs,
       (CAST(COUNT(*) OVER () AS DOUBLE)
          * SUM(lx * CAST(ly_e9 AS DOUBLE) / 1000000000e0) OVER ()
        - SUM(lx) OVER ()
          * SUM(CAST(ly_e9 AS DOUBLE) / 1000000000e0) OVER ())
       / (CAST(COUNT(*) OVER () AS DOUBLE) * SUM(lx * lx) OVER ()
          - SUM(lx) OVER () * SUM(lx) OVER ()) AS hurst_h
FROM pts
"""


_HURST_ORACLE = _hurst_sql("//")
_HURST_SPARK = _hurst_sql("DIV")


@query("events_hurst_exponent", oracle=bare_tables(_HURST_ORACLE))
def events_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily event-value series by classical
    rescaled-range (R/S) analysis: split the series into blocks of
    m ∈ {4,8,16} days, take each block's range of cumulative
    mean-deviations over its standard deviation, and fit
    ln(avg R/S) ~ H·ln(m) — H ≈ 0.5 is memoryless, H > 0.5 long-range
    persistent (busy days cluster: capacity planning cannot assume
    i.i.d. daily loads and percentile forecasts widen), H < 0.5
    mean-reverting.  The long-memory lens that Durbin-Watson's lag-1 ρ
    cannot see (Hurst 1951; Mandelbrot's R/S formulation).

    Determinism: within-block cumulative deviations are carried ×m so
    they stay exact BIGINTs (m·Z_t = m·cumsum − t·blocksum — Z at t=m
    closes to exactly 0, keeping the textbook zero anchor in range);
    each block's R/S is ONE double div+sqrt on exact integers,
    floor-scaled to e-9; per-m averages are exact integer ratios; the
    closing slope uses LITERAL ln(m) abscissae (embedded to the exact
    double) and one LN per window size (curation-family convention) —
    zero-variance blocks drop, the documented convention.

    Scale: one fact-sized daily reduction; every window is partitioned
    by block id over the calendar-bounded day table; output is 3 rows.
    No join anywhere."""
    return spark.sql(_HURST_SPARK, events=load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# pipeline_trend_monitoring_e2e — one-job daily-series health panel
# --------------------------------------------------------------------------


def _trend_panel_sql(mk: str, runs: str, dw: str, cap: str) -> str:
    return f"""
SELECT 'mann_kendall_z' AS metric, z_mk AS value FROM ({mk}) mk_t
UNION ALL
SELECT 'runs_z' AS metric, z_runs AS value FROM ({runs}) runs_t
UNION ALL
SELECT 'durbin_watson' AS metric, dw_stat AS value FROM ({dw}) dw_t
UNION ALL
SELECT 'cpk' AS metric, cpk AS value FROM ({cap}) cap_t
"""


def _trend_panel_oracle() -> str:
    from etl_pipeline_aws_spark.operators.statistics import (
        _DW_SQL,
        _MK_ORACLE,
        _RUNS_ORACLE,
    )

    return bare_tables(
        _trend_panel_sql(_MK_ORACLE, _RUNS_ORACLE, _DW_SQL, _CAPABILITY_SQL)
    )


@query("pipeline_trend_monitoring_e2e", oracle=_trend_panel_oracle)
def pipeline_trend_monitoring_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed daily-series HEALTH PANEL as one job — the four
    questions every metrics on-call asks of a series, answered in a
    single submission over one shared daily reduction: is there a real
    monotone drift (Mann-Kendall z)?  is the ordering even random
    (runs-test z)?  are trend residuals serially correlated, i.e. can I
    trust the trend's error bars (Durbin-Watson)?  and is the process
    delivering inside its qualified band (Cpk)?  One row per metric —
    the alerting table a monitoring sink ingests directly, and the
    composition proof that the four members share the daily-series
    contract.

    Each leg is the member operator's exact text (same determinism
    arguments); Spark plans the four folds as one job where AQE dedups
    the common daily-aggregate subtree when it materializes as an
    exchange.

    Scale: four calendar-bounded folds over one fact-sized daily
    reduction each — the panel costs what its members cost; output is
    4 rows."""
    from etl_pipeline_aws_spark.operators.statistics import (
        _DW_SQL,
        _MK_SPARK,
        _RUNS_SPARK,
    )

    return spark.sql(
        _trend_panel_sql(_MK_SPARK, _RUNS_SPARK, _DW_SQL, _CAPABILITY_SQL),
        events=load_table(spark, sf_dir, "events"),
    )


# --------------------------------------------------------------------------
# events_drawdown_recovery — peak/trough/recovery anatomy of the worst slump
# --------------------------------------------------------------------------

_DRAWDOWN_SQL = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
    FROM {events} GROUP BY CAST(ts AS DATE)
), base AS (
    SELECT d, cents,
           CAST(SUM(cents) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
           CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS i,
           CAST(COUNT(*) OVER () AS BIGINT) AS n,
           CAST(SUM(cents) OVER () AS BIGINT) AS total
    FROM daily
), eq AS (
    -- cumulative deviation from the average day: n*cum - i*total stays an
    -- exact BIGINT (the Hurst m*Z trick at full-series scope); a raw
    -- positive-value cumsum never draws down, the DEVIATION curve does
    SELECT d, CAST(n * cum - i * total AS BIGINT) AS z,
           CAST(MAX(n * cum - i * total) OVER (ORDER BY d ROWS BETWEEN
                UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak,
           n
    FROM base
), trough AS (
    SELECT d AS trough_day, z AS tz, peak AS pk, (peak - z) AS mdd, n
    FROM (SELECT eq.*, ROW_NUMBER() OVER (ORDER BY peak - z DESC, d) AS rk
          FROM eq) t
    WHERE rk = 1
)
SELECT (SELECT MAX(d) FROM eq
        WHERE d <= (SELECT trough_day FROM trough)
          AND z = (SELECT pk FROM trough)) AS peak_day,
       (SELECT trough_day FROM trough) AS trough_day,
       (SELECT MIN(d) FROM eq
        WHERE d > (SELECT trough_day FROM trough)
          AND z >= (SELECT pk FROM trough)) AS recovery_day,
       CAST((SELECT mdd FROM trough) AS DOUBLE)
           / CAST((SELECT n FROM trough) AS DOUBLE) / 100e0
           AS max_drawdown_dollars
"""


@query("events_drawdown_recovery", oracle=bare_tables(_DRAWDOWN_SQL))
def events_drawdown_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANATOMY of the worst slump in the daily event-value series —
    peak day, trough day, recovery day, and depth — on the cumulative
    DEVIATION-from-average curve (a raw cumsum of positive revenue
    never draws down; the deviation curve is the "performance vs plan"
    equity line, and its drawdowns are underperformance spells).
    events_max_drawdown reports the DEPTH per user; the ops question
    after any incident review is the TIMELINE — when did decline start,
    where was bottom, and how long until the cumulative gap was earned
    back (recovery_day NULL = still underwater at series end, the
    honest convention).

    Determinism: the deviation curve is carried ×n so it stays an
    exact BIGINT (z_i = n·cum_i − i·total — the Hurst block trick at
    full-series scope); peak/trough/recovery are integer compares and
    date extrema; only the reported depth divides out (n·100) once.

    Scale: one fact-sized daily reduction; every window and every
    scalar subquery runs over the calendar-bounded day table
    (guard-clean — the stat_runs_test_daily idiom)."""
    return spark.sql(_DRAWDOWN_SQL, events=load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# events_page_hinkley_drift — online mean-drift alarm
# --------------------------------------------------------------------------

PH_DELTA_CENTS = 50_000  # tolerated drift per day (500 dollars)
PH_LAMBDA_DAYS = 3  # alarm threshold, in units of delta-days


def _page_hinkley_sql() -> str:
    """Shared Page-Hinkley text.  The PH statistic is carried ×n so it
    stays an exact BIGINT: n·m_t = n·cum_t − t·total − t·n·δ."""
    lam = PH_LAMBDA_DAYS * PH_DELTA_CENTS
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
    FROM {{events}} GROUP BY CAST(ts AS DATE)
), base AS (
    SELECT d,
           CAST(SUM(cents) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
           CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
           CAST(COUNT(*) OVER () AS BIGINT) AS n,
           CAST(SUM(cents) OVER () AS BIGINT) AS total
    FROM daily
), m AS (
    SELECT d, n,
           CAST(n * cum - t * total - t * n * {PH_DELTA_CENTS} AS BIGINT) AS nm
    FROM base
), ph AS (
    SELECT d, n,
           CAST(nm - MIN(nm) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS nph
    FROM m
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN nph > n * {lam} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_alarm_days,
       CAST(MIN(CASE WHEN nph > n * {lam} THEN d END) AS DATE)
           AS first_alarm_day,
       CAST(MAX(nph) AS DOUBLE) / CAST(MAX(n) AS DOUBLE) / 100e0
           AS max_ph_dollars
FROM ph
"""


@query("events_page_hinkley_drift", oracle=bare_tables(_page_hinkley_sql()))
def events_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift alarm on the daily event-value series — the
    monitoring-time complement of events_cusum_changepoint: CUSUM's
    argmax localizes the single best changepoint AFTER the fact; PH
    flags WHICH days a drift alarm fires — m_t = Σ(x_i − x̄ − δ),
    PH_t = m_t − min m, alarm while PH_t > λ — with δ the tolerated
    per-day drift and λ the patience ({PH_DELTA_CENTS} cents/day and
    {PH_LAMBDA_DAYS}·δ days here, documented; production passes its SLO
    constants).  Reports alarm-day count, first alarm date (the
    page-the-oncall moment), and the peak excursion.

    This is the RETROSPECTIVE (fixed-mean) PH variant (ADVICE r7): x̄
    is the full-series mean, by design — it keeps every compare exact
    BIGINT (recompute-pinned).  The strictly sequential variant uses
    the running mean x̄_t, whose per-term denominators 1..t cannot stay
    exact in scaled integers; a live alerting deployment evaluates it
    incrementally in floats and alarm days can differ near the
    threshold.  Backtests over a closed window — this operator's job —
    conventionally use the fixed-mean form.

    Determinism: the statistic is carried ×n so every compare is an
    exact BIGINT (n·m_t = n·cum − t·total − t·n·δ — the drawdown-
    recovery trick with a drift term); thresholds are integer literals
    scaled the same way; only the reported peak divides out once.

    Scale: one fact-sized daily reduction, three ordered windows over
    the calendar-bounded day table, a 1-row fold.  No join."""
    return spark.sql(_page_hinkley_sql(), events=load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# events_adstock_transform — truncated geometric adstock (MMM carryover)
# --------------------------------------------------------------------------

ADSTOCK_LAGS = 14  # truncation horizon (lambda = 1/2 per day)

_ADSTOCK_WEIGHTS = "\n    UNION ALL\n".join(
    f"    SELECT {k} AS k, {1 << k} AS pw" for k in range(14)
)


def _adstock_sql(x_expr: str, unnest14: str) -> str:
    return f"""
WITH daily AS (
    SELECT CAST({x_expr} AS BIGINT) AS di,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
    FROM {{events}} GROUP BY CAST({x_expr} AS BIGINT)
), weights AS (
{_ADSTOCK_WEIGHTS}
), fanned AS (
    SELECT di, x, {unnest14} AS k FROM daily
), contrib AS (
    SELECT f.di + f.k AS t,
           CAST(x * 1000 / w.pw AS BIGINT) AS c_e3
    FROM fanned f JOIN weights w ON w.k = f.k
)
SELECT d.di AS day_idx,
       d.x AS spend_cents,
       CAST(SUM(c.c_e3) AS BIGINT) AS adstock_e3
FROM daily d JOIN contrib c ON c.t = d.di
GROUP BY d.di, d.x
"""


_ADSTOCK_ORACLE = _adstock_sql(
    "DATEDIFF('DAY', DATE '2024-01-01', CAST(ts AS DATE))",
    "unnest(range(0, 14))",
)
_ADSTOCK_SPARK = _adstock_sql(
    "DATEDIFF(CAST(ts AS DATE), DATE '2024-01-01')",
    "explode(sequence(CAST(0 AS BIGINT), CAST(13 AS BIGINT)))",
)
# exact integer division per dialect: Spark DIV, DuckDB //
_ADSTOCK_ORACLE = _ADSTOCK_ORACLE.replace("x * 1000 / w.pw", "x * 1000 // w.pw")
_ADSTOCK_SPARK = _ADSTOCK_SPARK.replace("x * 1000 / w.pw", "x * 1000 DIV w.pw")


@query("events_adstock_transform", oracle=bare_tables(_ADSTOCK_ORACLE))
def events_adstock_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric ADSTOCK (advertising carryover, lambda = 1/2, truncated
    at {ADSTOCK_LAGS} lags): adstock_t = sum over k of spend_(t-k)/2^k —
    the standard marketing-mix-model transform that turns point-in-time
    spend into its decaying effective pressure; every MMM regression
    (and the engine's lead/lag xcorr and trend family) consumes the
    transformed series, not raw spend.

    Determinism: the transform is spelled EXACTLY as integer
    arithmetic — each lag's contribution is (spend_cents x 1000)
    integer-divided by the literal power-of-two weight from a 14-row
    VALUES-style CTE (no POWER(), whose libm exactness is not
    guaranteed), and the sum of those exact integers IS the definition
    of the reported adstock_e3.  No double appears anywhere.

    Scale: the recursion-free spelling matters — the textbook recurrence
    (adstock_t = x_t + lambda*adstock_(t-1)) is sequential, but the
    truncated form is a windowed dot product: one fan-out of the
    day-bounded daily table x {ADSTOCK_LAGS}, an equi-join back to the
    day spine (never a window, never per-row recursion), map-side
    combinable.  Horizon-edge days simply receive fewer contributions —
    the truncated-adstock convention."""
    return spark.sql(_ADSTOCK_SPARK, events=load_table(spark, sf_dir, "events"))
