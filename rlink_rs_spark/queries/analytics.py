"""Product-analytics queries over `events` -- the workloads the reference's
streaming-analytics users run downstream of the windowed aggregates: funnel
conversion, cohort retention, and trailing-window anomaly detection. All
built-in expressions (no UDFs), exact-integer sums under every ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rlink_rs_spark.queries.base import register
from rlink_rs_spark.session import scratch_dir
from rlink_rs_spark.tables import load_table
from rlink_rs_spark.streaming.runner import drain

# --- funnel ------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t0 FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t1
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t0
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t1
  GROUP BY e.user_id
),
stages AS (
  SELECT 1 AS stage_order, 'view' AS stage, COUNT(*) AS users FROM v
  UNION ALL
  SELECT 2, 'click_after_view', COUNT(*) FROM c
  UNION ALL
  SELECT 3, 'purchase_after_click', COUNT(*) FROM p
)
SELECT stage_order, stage, users,
       CASE WHEN stage_order = 1 THEN 1.0
            ELSE CAST(users AS DOUBLE) /
                 NULLIF(CAST(LAG(users, 1) OVER (ORDER BY stage_order) AS DOUBLE), 0.0)
       END AS conv_from_prev
FROM stages
"""


@register(
    "funnel_conversion",
    _FUNNEL_ORACLE,
    "Ordered funnel view -> click -> purchase: per user, the first click "
    "AFTER the first view, then the first purchase AFTER that click "
    "(strictly ordered, not mere co-occurrence); per-stage user counts and "
    "step conversion rates.",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each stage is one keyed min-aggregate joined to the previous stage's
    per-user timestamp -- all joins and aggs on user_id, so at 100 TB they
    share one hash partitioning (no broadcast needed; the stage tables
    shrink monotonically). The 3-row stage summary computes conversions
    with a LAG window over stage_order."""
    events = load_table(spark, sf_dir, "events")
    v = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        events.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    stages = (
        v.agg(F.count("*").alias("users")).select(
            F.lit(1).cast("int").alias("stage_order"), F.lit("view").alias("stage"), "users"
        )
        .unionByName(
            c.agg(F.count("*").alias("users")).select(
                F.lit(2).cast("int").alias("stage_order"),
                F.lit("click_after_view").alias("stage"),
                "users",
            )
        )
        .unionByName(
            p.agg(F.count("*").alias("users")).select(
                F.lit(3).cast("int").alias("stage_order"),
                F.lit("purchase_after_click").alias("stage"),
                "users",
            )
        )
    )
    # conv_from_prev defaults to 1.0 for the FIRST stage only (ADVICE r6:
    # a blanket fillna also turned a later empty stage's 0/0 into 1.0);
    # a zero-user previous stage yields NULL in both engines via NULLIF.
    w = Window.orderBy("stage_order")
    prev = F.lag("users", 1).over(w).cast("double")
    return stages.select(
        "stage_order",
        "stage",
        "users",
        F.when(F.col("stage_order") == 1, F.lit(1.0))
        .otherwise(
            F.col("users").cast("double") / F.nullif(prev, F.lit(0.0))
        )
        .alias("conv_from_prev"),
    )


# --- cohort retention --------------------------------------------------------

_COHORT_ORACLE = """
WITH cohorts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
sizes AS (
  SELECT cohort_week, COUNT(*) AS cohort_size FROM cohorts GROUP BY cohort_week
),
activity AS (
  SELECT DISTINCT c.cohort_week, e.user_id,
         CAST((epoch(date_trunc('week', e.ts)) - epoch(c.cohort_week)) // 604800 AS INT)
           AS week_offset
  FROM events e JOIN cohorts c ON c.user_id = e.user_id
  WHERE e.ts >= c.cohort_week
)
SELECT a.cohort_week, a.week_offset,
       COUNT(*) AS active_users, s.cohort_size,
       CAST(COUNT(*) AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS retention
FROM activity a JOIN sizes s ON s.cohort_week = a.cohort_week
GROUP BY a.cohort_week, a.week_offset, s.cohort_size
"""


@register(
    "cohort_retention",
    _COHORT_ORACLE,
    "Weekly cohort retention matrix: users cohorted by signup week; for "
    "each (cohort, week offset) the distinct active share of the cohort -- "
    "the classic retention triangle.",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two keyed aggregates and one join, all partitioned by user_id then
    (cohort_week, offset): at 100 TB the events-to-cohort join is the only
    wide exchange over the fact table (cohort table is per-user, often
    broadcast-able after aggregation); distinct-activity dedup happens
    before the count, map-side combinable."""
    events = load_table(spark, sf_dir, "events")
    cohorts = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    sizes = cohorts.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    activity = (
        events.join(cohorts, "user_id")
        .where(F.col("ts") >= F.col("cohort_week"))
        .select(
            "cohort_week",
            "user_id",
            (
                (
                    F.unix_timestamp(F.date_trunc("week", F.col("ts")))
                    - F.unix_timestamp("cohort_week")
                )
                / F.lit(604800)
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("active_users"))
        .join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "active_users",
            "cohort_size",
            (
                F.col("active_users").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("retention"),
        )
    )


# --- trailing-window anomaly detection ---------------------------------------

# exact-integer moments under the z-score: value -> cents BIGINT, then the
# variance is a fixed expression over (n, s, ss) with one parenthesization,
# identical text in both engines -> bit-identical doubles
_VAR_EXPR = (
    "(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    " / CAST(n AS DOUBLE)"
)
_Z_EXPR = (
    "(CAST(xc AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    f" / SQRT({_VAR_EXPR})"
)

_ANOMALY_ORACLE = f"""
WITH cents AS (
  SELECT event_id, user_id, ts, epoch(ts) AS tsec,
         CAST(ROUND(value * 100) AS BIGINT) AS xc
  FROM events
),
framed AS (
  SELECT event_id, user_id, xc,
         COUNT(*) OVER w AS n, SUM(xc) OVER w AS s, SUM(xc * xc) OVER w AS ss
  FROM cents
  WINDOW w AS (PARTITION BY user_id ORDER BY tsec
               RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id,
       CASE WHEN n > 1 AND {_VAR_EXPR} > 0 THEN {_Z_EXPR} END AS zscore,
       COALESCE(n > 1 AND {_VAR_EXPR} > 0 AND ABS({_Z_EXPR}) > 2.0, FALSE)
         AS is_anomaly
FROM framed
"""


@register(
    "anomaly_zscore_events",
    _ANOMALY_ORACLE,
    "Trailing-7-day per-user z-score anomaly flag over event values: "
    "RANGE-frame running moments (count/sum/sum-of-squares as exact "
    "BIGINT cents), variance and z from one fixed expression -- "
    "bit-identical across engines; |z| > 2 flags the anomaly.",
)
def anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-adjacent observability face of the RANGE window
    (SURVEY §2.6): one partitioned sort per user computes all three running
    moments in a single window frame; no self-join, no UDF. At 100 TB the
    only exchange is the hash partition by user_id (combinable nowhere --
    windows need the sort -- but AQE sizes the partitions and skewed users
    are bounded by their own event counts)."""
    events = load_table(spark, sf_dir, "events")
    cents = events.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("tsec"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("xc"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tsec")
        .rangeBetween(-604800, Window.currentRow)
    )
    framed = cents.select(
        "event_id",
        "user_id",
        "xc",
        F.count("*").over(w).alias("n"),
        F.sum("xc").over(w).alias("s"),
        F.sum(F.col("xc") * F.col("xc")).over(w).alias("ss"),
    )
    var_ok = (F.col("n") > 1) & (F.expr(_VAR_EXPR) > 0)
    return framed.select(
        "event_id",
        "user_id",
        F.when(var_ok, F.expr(_Z_EXPR)).alias("zscore"),
        F.coalesce(
            var_ok & (F.abs(F.expr(_Z_EXPR)) > 2.0), F.lit(False)
        ).alias("is_anomaly"),
    )


# --- time-series gap fill ----------------------------------------------------

_GAPFILL_ORACLE = """
WITH obs AS (
  SELECT user_id, epoch_ms(ts) // 3600000 AS hour_idx,
         CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS observed_cents
  FROM events WHERE user_id % 5 = 0 GROUP BY 1, 2
),
span AS (SELECT user_id, MIN(hour_idx) AS mn, MAX(hour_idx) AS mx FROM obs GROUP BY 1),
spine AS (SELECT user_id, unnest(generate_series(mn, mx)) AS hour_idx FROM span)
SELECT s.user_id, s.hour_idx,
       LAST_VALUE(o.observed_cents IGNORE NULLS)
         OVER (PARTITION BY s.user_id ORDER BY s.hour_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_cents,
       o.observed_cents IS NULL AS is_gap
FROM spine s LEFT JOIN obs o USING (user_id, hour_idx)
"""


@register(
    "timeseries_gap_fill",
    _GAPFILL_ORACLE,
    "Hourly resample with last-observation-carried-forward fill: per-user "
    "dense hour spine between first and last event, observed hourly sums "
    "as exact cents, gaps forward-filled (time_bucket_gapfill/LOCF shape).",
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-resample + LOCF, the hypertable-rollup/gap-fill operator the
    reference's streaming-analytics users run on event series. Every stage
    is keyed on user_id (the hourly agg on (user_id, hour)), so at 100 TB
    one hash partitioning by user carries the agg, the spine join, and the
    fill window; the spine explode is map-side from the 1-row-per-user
    span table. The user_id % 5 filter is a deterministic workload subset
    (pushed to the scan), not a semantic restriction."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") % 5 == 0)
    hour = F.expr("unix_millis(ts) div 3600000")
    obs = ev.groupBy("user_id", hour.alias("hour_idx")).agg(
        F.sum(F.expr("CAST(ROUND(value*100) AS BIGINT)")).alias("observed_cents")
    )
    span = obs.groupBy("user_id").agg(
        F.min("hour_idx").alias("mn"), F.max("hour_idx").alias("mx")
    )
    spine = span.select(
        "user_id", F.explode(F.sequence("mn", "mx")).alias("hour_idx")
    )
    joined = spine.join(obs, ["user_id", "hour_idx"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "hour_idx",
        F.last("observed_cents", ignorenulls=True).over(w).alias("value_cents"),
        F.col("observed_cents").isNull().alias("is_gap"),
    )


# --- marketing attribution ---------------------------------------------------

_ATTR_ORACLE = """
WITH touched AS (
  SELECT event_id, event_type, value,
         LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
  FROM events
)
SELECT COALESCE(channel, 'direct') AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT)/100.0 AS revenue
FROM touched
WHERE event_type = 'purchase'
GROUP BY 1
"""


@register(
    "attribution_last_touch",
    _ATTR_ORACLE,
    "Last-touch marketing attribution: each purchase credits the user's "
    "most recent preceding non-purchase event type ('direct' when none); "
    "purchases and exact-cent revenue per channel.",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last non-purchase touch via one LAST_VALUE(ignore nulls) window
    ending 1 PRECEDING -- the per-user event-sequence shape again: a
    single hash partitioning by user_id carries the window, and the final
    channel rollup is a tiny combinable aggregate. No joins, no
    self-join-per-purchase (the naive formulation), no driver loops."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("channel", touch)
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            (F.sum(F.expr("CAST(ROUND(value*100) AS BIGINT)")) / 100.0).alias(
                "revenue"
            ),
        )
    )


# --- lag-1 autocorrelation ---------------------------------------------------

# Pearson r between consecutive-hour totals from exact BIGINT moments
# (n, sum x, sum y, sum xy, sum x^2, sum y^2): ONE expression string over
# identical integers -> bit-identical doubles.
_AC_R_EXPR = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)

_AC_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, epoch_ms(ts) // 3600000 AS h,
         CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS xc
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, xc AS y,
         LAG(xc) OVER (PARTITION BY event_type ORDER BY h) AS x,
         h - LAG(h) OVER (PARTITION BY event_type ORDER BY h) AS gap
  FROM hourly
),
pairs AS (SELECT event_type, x, y FROM lagged WHERE x IS NOT NULL AND gap = 1),
moments AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x*y) AS BIGINT) AS sxy,
         CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy
  FROM pairs GROUP BY event_type
)
SELECT event_type, n, {_AC_R_EXPR} AS autocorr_lag1
FROM moments
"""


@register(
    "hourly_autocorr_lag1",
    _AC_ORACLE,
    "Lag-1 autocorrelation of hourly value totals per event type "
    "(adjacent hours only; series gaps excluded): Pearson r from exact "
    "BIGINT moments -- the seasonality/persistence screen for event "
    "series.",
)
def hourly_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series diagnostics at warehouse scale: the hourly rollup is
    one combinable exchange on (type, hour); the LAG pairing and the
    moment sums share the event_type partitioning; the Pearson formula
    runs on a #types-row table. Products stay within BIGINT headroom
    (hourly cents ~1e7 -> squares ~1e14, summed over ~720 hours) -- the
    SCALING.md integer-headroom rule, applied: big products only in the
    per-(type,hour) table, never per event row."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.expr("unix_millis(ts) div 3600000").alias("h")
    ).agg(F.sum(F.expr("CAST(ROUND(value*100) AS BIGINT)")).cast("bigint").alias("xc"))
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = hourly.select(
        "event_type",
        F.col("xc").alias("y"),
        F.lag("xc").over(w).alias("x"),
        (F.col("h") - F.lag("h").over(w)).alias("gap"),
    )
    pairs = lagged.where(F.col("x").isNotNull() & (F.col("gap") == 1))
    moments = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    return moments.select("event_type", "n", F.expr(_AC_R_EXPR).alias("autocorr_lag1"))


# --- per-group closed-form OLS trend ----------------------------------------

# Shared double-precision tail for the OLS closed form (identical text in
# Spark SQL and DuckDB; inputs are exact BIGINT moments). Denominator 0
# (all observations on one day) yields NULL, not an error, in both engines.
_OLS_DEN = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
_OLS_SLOPE = (
    "CASE WHEN n > 1 AND " + _OLS_DEN + " <> 0.0 THEN "
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / " + _OLS_DEN + " / 100.0 ELSE NULL END"
)
_OLS_ICPT = (
    "CASE WHEN n > 1 AND " + _OLS_DEN + " <> 0.0 THEN "
    "(CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / " + _OLS_DEN + " * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0 ELSE NULL END"
)

_TREND_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS yc
  FROM events GROUP BY 1, 2
),
rel AS (
  SELECT event_type, day - MIN(day) OVER (PARTITION BY event_type) AS x, yc AS y
  FROM daily
),
moments AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM rel GROUP BY event_type
)
SELECT event_type, n AS n_days, {_OLS_SLOPE} AS slope_per_day, {_OLS_ICPT} AS intercept
FROM moments
"""


@register(
    "daily_trend_ols",
    _TREND_ORACLE,
    "Per-key closed-form OLS trend: slope/intercept of DAILY value totals "
    "per event type from exact BIGINT moments (n, Sx, Sy, Sxy, Sxx) -- "
    "the grouped linear-regression primitive (growth/decay screens, "
    "forecasting features) without MLlib. The corpus does ONE combinable "
    "daily aggregate; OLS runs on the <= groups x days table. x is "
    "day - min(day) PER GROUP, so moments stay small integers at any "
    "calendar range and the x*y products obey the SCALING.md headroom "
    "rule (y stays cents-BIGINT; no y^2 term is computed, keeping every "
    "sum far from 2^63 even at 1000x data).",
)
def daily_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily totals (one shuffle) -> per-group relative day index -> exact
    integer moments -> one shared double expression. The min-day window
    and moment agg both run on the tiny daily table, partitioned by the
    same key the daily agg already hashed on."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr("CAST(unix_millis(ts) div 86400000 AS BIGINT)").alias("day")
    ).agg(
        F.sum(F.expr("CAST(ROUND(value*100) AS BIGINT)")).cast("bigint").alias("yc")
    )
    w = Window.partitionBy("event_type")
    rel = daily.select(
        "event_type",
        (F.col("day") - F.min("day").over(w)).alias("x"),
        F.col("yc").alias("y"),
    )
    moments = rel.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return moments.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.expr(_OLS_SLOPE).alias("slope_per_day"),
        F.expr(_OLS_ICPT).alias("intercept"),
    )


# --- forward as-of with tolerance (label generation) ------------------------

_TTP_TOL_MS = 7 * 86_400_000  # 7-day label horizon

_TTP_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
         FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_purchase_ms
  FROM events
)
SELECT user_id, event_id, ts_ms,
       CASE WHEN next_purchase_ms - ts_ms <= {_TTP_TOL_MS}
            THEN next_purchase_ms END AS next_purchase_ms,
       CASE WHEN next_purchase_ms - ts_ms <= {_TTP_TOL_MS}
            THEN next_purchase_ms - ts_ms END AS delta_ms
FROM seq WHERE event_type = 'view'
"""


@register(
    "time_to_next_purchase",
    _TTP_ORACLE,
    "FORWARD as-of join with tolerance -- the label-generation twin of "
    "asof_join_latest_click (which looks backward): every view event "
    "gets the SAME USER's next purchase timestamp within a 7-day "
    "horizon, or NULL past it (right-censoring). ONE forward-frame "
    "FIRST_VALUE(IGNORE NULLS) window replaces a per-view self-join "
    "against purchases: one shuffle on user_id, per-user sort only -- "
    "the time-to-event feature/label every conversion or survival "
    "model consumes, at corpus scale.",
)
def time_to_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first(ignorenulls) over ROWS 1 FOLLOWING..UNBOUNDED: the forward
    scan is a single linear frame pass per user; tolerance censoring is
    a map-side CASE after the window."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    purchase_ms = F.when(
        F.col("event_type") == "purchase", F.unix_millis("ts")
    )
    seq = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
        F.first(purchase_ms, ignorenulls=True).over(w).alias("raw_next"),
    )
    in_tol = (F.col("raw_next") - F.col("ts_ms")) <= _TTP_TOL_MS
    return seq.where(F.col("event_type") == "view").select(
        "user_id",
        "event_id",
        "ts_ms",
        F.when(in_tol, F.col("raw_next")).alias("next_purchase_ms"),
        F.when(in_tol, F.col("raw_next") - F.col("ts_ms")).alias("delta_ms"),
    )


# --- incremental materialized-view maintenance ------------------------------

_ROLL_DAY_MS = 86_400_000

_ROLL_ORACLE = f"""
SELECT (epoch_ms(ts) // {_ROLL_DAY_MS}) * {_ROLL_DAY_MS} AS day_start_ms, event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value,
       MAX(value) AS max_value, MIN(value) AS min_value
FROM events GROUP BY 1, 2
"""


def _events_fingerprint(sf_dir: str) -> str:
    """Content cache key for the persisted rollup (same contract as the
    LSH band index / IVF codebook fingerprints)."""
    import os

    from rlink_rs_spark.tables import content_fingerprint

    return content_fingerprint(os.path.join(sf_dir, "events.parquet"))


def _daily_rollup(df: DataFrame) -> DataFrame:
    """Distributive daily rollup in MERGEABLE form: count/sum-cents/max/min
    re-aggregate losslessly, which is what makes the view incrementally
    maintainable (avg or distinct would need their own mergeable carriers
    -- n+sum and the KMV sketch respectively)."""
    return df.groupBy(
        F.expr(f"CAST(unix_millis(ts) div {_ROLL_DAY_MS} AS BIGINT)").alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CAST(ROUND(value*100) AS BIGINT)")).cast("bigint").alias("sc"),
        F.max("value").alias("mx"),
        F.min("value").alias("mn"),
    )


@register(
    "incremental_daily_rollup",
    _ROLL_ORACLE,
    "Incremental materialized-view maintenance (the Delta/Iceberg rollup "
    "shape): the standing corpus' daily rollup is a persisted, content-"
    "fingerprinted artifact (artifacts/daily_rollup/); an arriving "
    "day-partition aggregates ONLY ITSELF and merges into the view by "
    "re-aggregating the mergeable carriers (count/sum-cents/max/min) on "
    "the <= days x types summary table. Warm runs scan one day, never "
    "the history -- at 100 TB this is the difference between an O(day) "
    "and an O(corpus) nightly pipeline. The result is exactly the "
    "full-table rollup, which is the oracle.",
)
def incremental_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History = all days before the newest; delta = the newest day (a
    deterministic split of the fixture standing in for the arriving
    partition). Warm path (r12, closing the r11 watch row): the delta
    bound comes from the VIEW artifact -- a bounded-scalar max over the
    <= days x types summary table, never an events pass -- and is applied
    to events as a LITERAL ts predicate, so the parquet scan gets
    PushedFilters + row-group pruning and the warm path reads ~one day of
    events, not the corpus. (The r11 1-row-broadcast-from-events shape
    avoided the driver scalar but cost a second full events scan AND lost
    scan pruning on the delta side -- strictly worse at 100 TB. The eager
    events scalar remains only on the once-per-corpus cold build.)"""
    import os

    events = load_table(spark, sf_dir, "events")
    day_expr = F.expr(f"CAST(unix_millis(ts) div {_ROLL_DAY_MS} AS BIGINT)")
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    cache_dir = os.path.join(repo_root, "artifacts", "daily_rollup")
    path = os.path.join(cache_dir, f"rollup_{_events_fingerprint(sf_dir)}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):  # committed write only
        # temp dir + atomic rename: concurrent sessions sharing the repo-root
        # artifact path each build into their own staging dir and the first
        # rename wins (the content fingerprint makes all builds identical)
        max_day = events.agg(F.max(day_expr)).collect()[0][0]
        history = events.where(day_expr < max_day)
        staging = f"{path}.tmp.{os.getpid()}"
        _daily_rollup(history).write.mode("overwrite").parquet(staging)
        try:
            os.rename(staging, path)
        except OSError:  # another session committed first -- use theirs
            import shutil

            shutil.rmtree(staging, ignore_errors=True)
    # pinned schema (mirrors streaming/rollup._VIEW_SCHEMA): a single-day
    # corpus has an EMPTY history, whose part-file-less artifact dir cannot
    # be schema-inferred
    view = spark.read.schema(
        "day bigint, event_type string, n bigint, sc bigint, mx double, mn double"
    ).parquet(path)
    # delta = all days after the view's newest (== the newest events day:
    # the view is built over days < max). max(view.day) is a bounded
    # scalar over the tiny summary table; the resulting LITERAL converts
    # to a ts bound that pushes into the parquet scan. Fixture days are
    # what they are -- derive the bound from view coverage, so view+delta
    # stay disjoint and complete even with gaps.
    try:
        # local fast path: the view is a tiny driver-owned summary artifact;
        # its parquet footer statistics carry max(day) without a Spark job
        # (~0.4s scheduling constant per serving run at any scale). Remote
        # artifact stores fall back to the bounded-scalar Spark collect.
        import glob as _glob

        import pyarrow.parquet as _pq

        parts = _glob.glob(os.path.join(path, "part-*.parquet"))
        vals = []
        for p in parts:
            md = _pq.ParquetFile(p).metadata
            day_i = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == "day"
            ) if md.num_row_groups else None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(day_i).statistics
                if st is not None and st.has_min_max:
                    vals.append(st.max)
        if parts and not vals:  # files but no usable stats: use the Spark path
            raise ValueError("no footer statistics for day column")
        max_view_day = max(vals) if vals else None
    except Exception:
        max_view_day = view.agg(F.max("day")).collect()[0][0]
    if max_view_day is None:  # empty history (single-day corpus): delta = all
        delta = events
    else:
        bound_ms = (max_view_day + 1) * _ROLL_DAY_MS
        # unix_millis(ts) div DAY >= d+1  <=>  ts >= timestamp of (d+1)*DAY
        delta = events.where(F.col("ts") >= F.timestamp_millis(F.lit(bound_ms)))
    merged = (
        view.unionByName(_daily_rollup(delta))
        .groupBy("day", "event_type")
        .agg(
            F.sum("n").cast("bigint").alias("cnt"),
            F.sum("sc").cast("bigint").alias("sc"),
            F.max("mx").alias("max_value"),
            F.min("mn").alias("min_value"),
        )
    )
    return merged.select(
        (F.col("day") * _ROLL_DAY_MS).alias("day_start_ms"),
        "event_type",
        "cnt",
        (F.col("sc") / 100.0).alias("sum_value"),
        "max_value",
        "min_value",
    )


@register(
    "streaming_daily_rollup",
    _ROLL_ORACLE,  # shared with the incremental batch twin: same algebra
    "STREAMING materialized-view maintenance: the daily rollup's "
    "mergeable carriers (count/sum-cents/max/min) fold per micro-batch "
    "against the carried view on the <= days x types summary table -- "
    "state is the view itself, bounded by the key space, and the "
    "drained view equals the full-table rollup (shared oracle). "
    "Per-epoch overwrite commits give exactly-once across restarts; "
    "the reference's incremental window reduce "
    "(window_base_reduce.rs:84-101) generalized to a persistent view.",
)
def streaming_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay in 4 ts-ordered chunks; each epoch's work is one combinable
    aggregate over the BATCH plus a tiny-view merge -- the stream never
    rescans history (streaming/rollup.py)."""
    from rlink_rs_spark.streaming.rollup import read_rollup_view, streaming_rollup_sink
    from rlink_rs_spark.streaming.sources import file_stream

    src = file_stream(
        spark, sf_dir, "events", max_files_per_trigger=1, chunks=2, order_col="ts"
    )
    work_dir = scratch_dir("rlink_rollup_")
    q = streaming_rollup_sink(
        src.select("ts", "event_type", "value"),
        work_dir=work_dir,
    )
    drain(q, what="streaming_daily_rollup")
    return read_rollup_view(spark, work_dir)


# --- composed quality-ensemble gate -----------------------------------------

def _ensemble_oracle() -> str:
    """Composition of the three registered quality oracles VERBATIM (the
    ann_recall_report pattern) -- the gate cannot drift from the filters
    it combines."""
    from rlink_rs_spark.queries.base import REGISTRY as _R

    return f"""
WITH ppl AS ({_R["lm_perplexity_filter"].oracle}),
rep AS ({_R["repetition_quality_signals"].oracle}),
dsir AS ({_R["dsir_importance_weights"].oracle})
SELECT p.doc_id, p.lang,
       p.ppl_bucket <> 'tail' AS passes_ppl,
       r.passes_repetition_filter AS passes_rep,
       d.selected AS passes_dsir,
       (p.ppl_bucket <> 'tail' AND r.passes_repetition_filter AND d.selected)
         AS admitted
FROM ppl p JOIN rep r ON p.doc_id = r.doc_id JOIN dsir d ON p.doc_id = d.doc_id
"""


@register(
    "quality_ensemble_gate",
    _ensemble_oracle(),
    "The FULL corpus-quality stack as one verdict table: CCNet perplexity "
    "tercile (not tail) AND Gopher repetition signals AND DSIR top-"
    "quartile importance, combined per document -- the admit decision a "
    "production pretraining intake actually applies (each filter alone "
    "has known blind spots; the ensemble is the deployed shape). "
    "Composition, not new machinery: all three branches are the "
    "registered queries themselves, sharing their plans and oracles "
    "verbatim, joined on doc_id (each side one row per doc).",
    bench=False,  # re-runs three plans the registry already times
)
def quality_ensemble_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.queries.lm import lm_perplexity_filter
    from rlink_rs_spark.queries.pipeline_ops import (
        dsir_importance_weights,
        repetition_quality_signals,
    )

    ppl = lm_perplexity_filter(spark, sf_dir).select(
        "doc_id", "lang", (F.col("ppl_bucket") != "tail").alias("passes_ppl")
    )
    rep = repetition_quality_signals(spark, sf_dir).select(
        "doc_id", F.col("passes_repetition_filter").alias("passes_rep")
    )
    dsir = dsir_importance_weights(spark, sf_dir).select(
        "doc_id", F.col("selected").alias("passes_dsir")
    )
    return (
        ppl.join(rep, "doc_id")
        .join(dsir, "doc_id")
        .select(
            "doc_id",
            "lang",
            "passes_ppl",
            "passes_rep",
            "passes_dsir",
            (F.col("passes_ppl") & F.col("passes_rep") & F.col("passes_dsir")).alias(
                "admitted"
            ),
        )
    )
