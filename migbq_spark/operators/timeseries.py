"""Time-series operators over the events stream (§2.K extension batch 3):
gap-filled daily series, cumulative-distinct growth, and time-range
window frames.

migbq's `check` command reasons about per-day counts with missing days
(a day with no rows simply doesn't appear in its reconciliation query —
SURVEY.md §3.1 EP3); `ts_gap_fill` produces the dense calendar the
reconciliation actually wants.  The other two are standard telemetry
shapes a training-data pipeline reports on (corpus growth, trailing
activity).

Scale notes (100 TB): the calendar/grid sides are tiny (days ×
event_types) and broadcast; the fact side contributes one hash
aggregation each.  `win_range_frame` shuffles once on user_id — the
range frame is evaluated with a sliding in-partition accumulator, not a
per-row rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from migbq_spark.catalog import load
from migbq_spark.common import dec
from migbq_spark.registry import register


@register(
    "ts_gap_fill",
    oracle="""
    WITH e AS (SELECT CAST(ts AS DATE) AS d, event_type FROM events),
    b AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM e),
    days AS (SELECT CAST(unnest(generate_series(dmin, dmax, INTERVAL 1 DAY))
                         AS DATE) AS d
             FROM b),
    types AS (SELECT DISTINCT event_type FROM e),
    c AS (SELECT event_type, d, COUNT(*) AS n_events FROM e GROUP BY 1, 2)
    SELECT t.event_type, days.d, COALESCE(c.n_events, 0) AS n_events
    FROM days CROSS JOIN types t
    LEFT JOIN c ON c.event_type = t.event_type AND c.d = days.d
    """,
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily series: (event_type × every calendar day in range),
    zero-filled where no events occurred — the gap-filling step that
    turns a sparse GROUP BY day into a plottable/reconcilable series.
    The calendar is generated in-query from the data's own [min, max]
    span (sf-independent).  Grid side is |days|×|types| rows —
    broadcast; the fact side is one aggregation."""
    e = load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "event_type"
    )
    counts = e.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("n"))
    bounds = e.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    days = bounds.select(
        F.explode(F.expr("sequence(dmin, dmax, interval 1 day)")).alias("d")
    )
    types = e.select("event_type").distinct()
    grid = F.broadcast(days.crossJoin(types))
    return grid.join(counts, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce("n", F.lit(0)).alias("n_events")
    )


@register(
    "cum_new_users",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT first_day, COUNT(*) AS new_users
        FROM first_seen GROUP BY first_day
    )
    SELECT first_day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY first_day
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW)
                AS BIGINT) AS cum_users
    FROM daily
    """,
)
def cum_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus/user growth curve: first-appearance day per user, daily
    new-user counts, running cumulative total.  This is the scalable
    formulation of "cumulative COUNT(DISTINCT)": one aggregation finds
    each key's first day, then the running sum is over |days| rows —
    never a per-day distinct rescan.  first_day is unique in the daily
    series, so the unpartitioned running sum is deterministic and its
    input is tiny (≤ |days| rows) at any corpus size."""
    e = load(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    daily = first.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = (
        Window.orderBy("first_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "first_day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )


@register(
    "win_range_frame",
    oracle="""
    SELECT user_id, event_id,
           SUM(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id
               ORDER BY CAST(floor(date_part('epoch', CAST(ts AS TIMESTAMP)))
                             AS BIGINT)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS trailing_1h
    FROM events
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing one-hour value sum per user via a RANGE frame over epoch
    seconds — a VALUE-based frame (peers at the same second share one
    frame, so no tiebreak is needed: RANGE semantics are deterministic
    where ROWS would not be).  Both engines floor the timestamp to whole
    seconds (Spark `unix_timestamp` truncates; the oracle floors the
    double epoch explicitly).  One shuffle on user_id; the frame is a
    sliding accumulator within each sorted partition."""
    e = load(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.sum(dec("value")).over(w).cast("double").alias("trailing_1h"),
    )


@register(
    "sessionize_gaps",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
    ),
    f AS (
        SELECT user_id, event_id, us,
               CASE WHEN LAG(us) OVER w IS NULL THEN 0
                    WHEN us - LAG(us) OVER w > 1800000000 THEN 1
                    ELSE 0 END AS brk
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    s AS (
        SELECT user_id, us,
               CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW)
                    AS BIGINT) AS session_id
        FROM f
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(us) AS start_us, MAX(us) AS end_us
    FROM s GROUP BY user_id, session_id
    """,
)
def sessionize_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: per user, a new session starts after a
    >30-minute silence — lag-gap flag, running sum of flags as the
    session id, then a per-session rollup.  The batch twin of
    `stream_session_window` (same 30-min gap), and the formulation a
    backfill over historical data uses where streaming state is overkill.

    Gap arithmetic runs on integer epoch-microseconds (`unix_micros` /
    `epoch_us`) so both engines compare exact integers — never subtract
    raw timestamps across engines.  ORDER BY ends with event_id, so the
    lag/running-sum pair is deterministic even for same-µs events.

    Scale (100 TB): one shuffle on user_id serves both window passes and
    the rollup (same partitioning reused across stages); sessions never
    cross users, so the op is embarrassingly parallel across the key
    space and skew is bounded by the hottest single user."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    brk = F.when(F.lag("us").over(w).isNull(), 0).otherwise(
        F.when(F.col("us") - F.lag("us").over(w) > 1_800_000_000, 1).otherwise(0)
    )
    run = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flagged = e.withColumn("brk", brk)
    sess = flagged.withColumn("session_id", F.sum("brk").over(run))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
    )


@register(
    "win_moving_avg",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT d, n_orders,
           SUM(n_orders) OVER w * 1.0 / COUNT(*) OVER w AS avg_7d
    FROM daily
    WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily order volume: integer window sums
    with ONE final IEEE division (never AVG-of-doubles over a frame —
    engines disagree on its accumulation order; SUM/COUNT of ints are
    exact).  The day key is unique, so the unpartitioned frame is
    deterministic and its input is the tiny daily rollup, not the fact
    table."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    w = Window.orderBy("d").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "d",
        "n_orders",
        (F.sum("n_orders").over(w) * F.lit(1.0) / F.count(F.lit(1)).over(w)).alias(
            "avg_7d"
        ),
    )


@register(
    "locf_impute",
    oracle="""
    SELECT user_id, event_id,
           CASE WHEN event_type = 'error' THEN NULL
                ELSE CAST(value AS DECIMAL(18,2)) END AS raw_value,
           LAST_VALUE(CASE WHEN event_type = 'error' THEN NULL
                           ELSE CAST(value AS DECIMAL(18,2)) END
                      IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS locf_value
    FROM events
    """,
)
def locf_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward imputation: error events carry no
    usable reading (modeled as NULL), so each user's series is filled
    with the most recent non-null value — `F.last(ignorenulls=True)`
    over a running frame / `LAST_VALUE(... IGNORE NULLS)`.  The gap-fill
    every sensor/feature pipeline needs before training; values pass
    through exactly (DECIMAL, no arithmetic), so the fill is
    hash-checkable.

    Scale (100 TB): one shuffle on user_id; the running frame is a
    single carried register per partition — no per-row rescan, and no
    state beyond the last non-null value even for year-long series."""
    e = load(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        dec("value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # terminal double: NULL raw_value must render 'nan' (float64) like
    # DuckDB's .df(), not 'None' (object Decimal) — driver-hash stability
    return e.select(
        "user_id",
        "event_id",
        v.cast("double").alias("raw_value"),
        F.last(v, ignorenulls=True).over(w).cast("double").alias("locf_value"),
    )


@register(
    "anomaly_zscore_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
        FROM events GROUP BY 1
    ),
    stats AS (
        SELECT d, n,
               AVG(n * 1.0) OVER w AS mu,
               STDDEV_SAMP(n * 1.0) OVER w AS sd,
               COUNT(*) OVER w AS n_prior
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT d, n, ROUND(mu, 4) AS mu_7d,
           ROUND((n - mu) / sd, 4) AS zscore,
           (abs(n - mu) > 2 * sd) AS is_anomaly
    FROM stats WHERE n_prior >= 7 AND sd > 0
    """,
)
def anomaly_zscore_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score anomaly flags on daily volume: each day scored
    against the mean/stddev of the PRECEDING 7 days (frame excludes the
    current row — a self-inclusive baseline dilutes the very anomaly it
    scores).  Days without a full 7-day baseline are dropped.  Counts
    are exact ints; the mean/std/z are one float pass over a ≤7-row
    frame, 4-dp rounded (float-sensitive).

    Scale (100 TB): the daily rollup is map-side-combinable; the window
    runs over |days| rows on one task.  Per-key variants (per table /
    per tenant) partition the same window by the key — this is the
    volume-drop alarm migbq's `check` approximates with exact count
    reconciliation (SURVEY §3.1 EP3), generalized to a statistical
    gate."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("d").rowsBetween(-7, -1)
    nf = F.col("n") * 1.0
    stats = daily.select(
        "d",
        "n",
        F.avg(nf).over(w).alias("mu"),
        F.stddev_samp(nf).over(w).alias("sd"),
        F.count(F.lit(1)).over(w).alias("n_prior"),
    )
    return stats.filter((F.col("n_prior") >= 7) & (F.col("sd") > 0)).select(
        "d",
        "n",
        F.round("mu", 4).alias("mu_7d"),
        F.round((F.col("n") - F.col("mu")) / F.col("sd"), 4).alias("zscore"),
        (F.abs(F.col("n") - F.col("mu")) > 2 * F.col("sd")).alias("is_anomaly"),
    )


@register(
    "anomaly_zscore_by_key",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, d, n,
               AVG(n * 1.0) OVER w AS mu,
               STDDEV_SAMP(n * 1.0) OVER w AS sd,
               COUNT(*) OVER w AS n_prior
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, d, n, ROUND(mu, 4) AS mu_7d,
           ROUND((n - mu) / sd, 4) AS zscore,
           (abs(n - mu) > 2 * sd) AS is_anomaly
    FROM stats WHERE n_prior >= 7 AND sd > 0
    """,
)
def anomaly_zscore_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key trailing z-score anomaly flags: `anomaly_zscore_daily`
    partitioned by event_type — each logical table/tenant/stream gets
    its own baseline, so a volume drop in one key isn't masked by
    growth in another.  Same self-exclusive 7-day frame, same 4-dp
    float rounding.

    Scale (100 TB): the daily rollup collapses map-side to
    |keys|×|days| rows; the windows then run per key in parallel — this
    is the per-table volume alarm migbq's `check` loop would run across
    thousands of tables, in one plan."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-7, -1)
    nf = F.col("n") * 1.0
    stats = daily.select(
        "event_type",
        "d",
        "n",
        F.avg(nf).over(w).alias("mu"),
        F.stddev_samp(nf).over(w).alias("sd"),
        F.count(F.lit(1)).over(w).alias("n_prior"),
    )
    return stats.filter((F.col("n_prior") >= 7) & (F.col("sd") > 0)).select(
        "event_type",
        "d",
        "n",
        F.round("mu", 4).alias("mu_7d"),
        F.round((F.col("n") - F.col("mu")) / F.col("sd"), 4).alias("zscore"),
        (F.abs(F.col("n") - F.col("mu")) > 2 * F.col("sd")).alias("is_anomaly"),
    )


@register(
    "interval_union_duration",
    oracle="""
    WITH iv AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS s,
               epoch_us(CAST(ts AS TIMESTAMP)) + 600000000 AS e
        FROM events
    ),
    f AS (
        SELECT user_id, s, e,
               MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS prev_max_e
        FROM iv
    ),
    g AS (
        SELECT user_id, s, e,
               CASE WHEN prev_max_e IS NULL THEN 0
                    WHEN s > prev_max_e THEN 1 ELSE 0 END AS brk
        FROM f
    ),
    h AS (
        SELECT user_id, s, e,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS island
        FROM g
    ),
    islands AS (
        SELECT user_id, island, MIN(s) AS island_s, MAX(e) AS island_e
        FROM h GROUP BY user_id, island
    )
    SELECT user_id, COUNT(*) AS n_islands,
           CAST(SUM(island_e - island_s) AS BIGINT) AS busy_us
    FROM islands GROUP BY user_id
    """,
)
def interval_union_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union (merge-overlaps) per user: each event opens a
    10-minute activity interval; overlapping intervals merge into
    islands, and the output is each user's island count and total
    distinct busy time — the utilization/coverage metric a naive
    SUM(duration) double-counts.  Island detection is the running-max
    trick: a new island starts where an interval's start exceeds the
    max end of ALL prior intervals (not just the previous row's — that
    misses intervals nested inside a long one).

    All arithmetic is integer epoch-µs; ORDER BYs carry tiebreaks.

    Scale (100 TB): one shuffle on user_id feeds the running-max
    window, the island rollup, and the per-user rollup (co-partitioned
    throughout); state per partition is one running max."""
    e = load(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + 600_000_000).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    f = iv.withColumn("prev_max_e", F.max("e").over(w_prev))
    brk = F.when(F.col("prev_max_e").isNull(), 0).otherwise(
        F.when(F.col("s") > F.col("prev_max_e"), 1).otherwise(0)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    h = f.withColumn("brk", brk).withColumn("island", F.sum("brk").over(w_run))
    islands = h.groupBy("user_id", "island").agg(
        F.min("s").alias("island_s"), F.max("e").alias("island_e")
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("island_e") - F.col("island_s")).alias("busy_us"),
    )


@register(
    "interarrival_histogram",
    oracle="""
    WITH s AS (
        SELECT o_custkey,
               date_diff('day',
                   LAG(CAST(o_orderdate AS DATE)) OVER (
                       PARTITION BY o_custkey
                       ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
                   CAST(o_orderdate AS DATE)) AS gap_days
        FROM orders
    )
    SELECT CAST(gap_days // 7 AS BIGINT) AS gap_weeks,
           COUNT(*) AS n_gaps,
           MIN(gap_days) AS min_days,
           MAX(gap_days) AS max_days
    FROM s WHERE gap_days IS NOT NULL
    GROUP BY CAST(gap_days // 7 AS BIGINT)
    """,
)
def interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution: days between each customer's
    consecutive orders, rolled into week-wide buckets — the
    repeat-behavior profile behind churn models and reorder
    forecasting.  Gap arithmetic is integer day-diffs (lag ORDER BY
    carries the o_orderkey tiebreak for same-day orders); first orders
    (NULL lag) are excluded.

    Scale (100 TB): one shuffle on the customer key for the lag, then
    the histogram collapses map-side to |buckets| rows."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.to_date("o_orderdate"), "o_orderkey"
    )
    s = o.select(
        F.datediff(
            F.to_date("o_orderdate"),
            F.lag(F.to_date("o_orderdate")).over(w),
        ).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    return s.groupBy(
        F.expr("gap_days div 7").alias("gap_weeks")
    ).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_days").alias("min_days"),
        F.max("gap_days").alias("max_days"),
    )


@register(
    "rolling_max_drawdown",
    oracle="""
    WITH s AS (
        SELECT user_id, event_id,
               CAST(value AS DECIMAL(18,2)) AS v,
               MAX(CAST(value AS DECIMAL(18,2))) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS peak
        FROM events
    )
    SELECT user_id,
           CAST(MAX(peak - v) AS DECIMAL(18,2)) AS max_drawdown,
           CAST(MAX(peak) AS DECIMAL(18,2)) AS final_peak
    FROM s GROUP BY user_id
    """,
)
def rolling_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user series: running peak (cumulative MAX)
    minus current value, maximized — the worst peak-to-trough drop, the
    stability metric for any monitored quantity (account balance, queue
    depth, quality score).  All DECIMAL comparisons/subtractions —
    exact; ordering carries the event_id tiebreak (ties don't affect a
    running MAX, but pinned order is the house rule).

    Scale (100 TB): one shuffle on user_id feeds the running-max window
    AND the final rollup (same partitioning); per-partition state is a
    single peak register."""
    e = load(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = e.select(
        "user_id",
        v.alias("v"),
        F.max(v).over(w).alias("peak"),
    )
    return s.groupBy("user_id").agg(
        F.max(F.col("peak") - F.col("v")).cast("decimal(18,2)").cast("double")
        .alias("max_drawdown"),
        F.max("peak").cast("decimal(18,2)").cast("double").alias("final_peak"),
    )


@register(
    "daily_autocorr_lag1",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT n AS x, LAG(n) OVER (ORDER BY d) AS y FROM daily
    ),
    p AS (SELECT x, y FROM lagged WHERE y IS NOT NULL),
    m AS (
        SELECT COUNT(*) AS k,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM p
    )
    SELECT k,
           ROUND((k * sxy - sx * sy)
                 / (sqrt(k * sxx - sx * sx) * sqrt(k * syy - sy * sy)),
                 4) AS autocorr_lag1
    FROM m
    """,
)
def daily_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily event volume — the persistence
    diagnostic that says whether yesterday predicts today (inputs to
    forecasting-model choice and to how wide anomaly bands should be).
    Pearson correlation over (xₜ, xₜ₋₁) pairs from EXACT integer sums
    (the corr_moments pattern shifted in time): all moments are int64
    aggregations, converted to double once for the closed-form r,
    4-dp rounded.

    Scale (100 TB): the daily rollup is combinable; the lag + moments
    run over |days| rows on one task."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("d")
    p = daily.select(
        F.col("n").alias("x"), F.lag("n").over(w).alias("y")
    ).filter(F.col("y").isNotNull())
    m = p.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return m.select("k", F.round(num / den, 4).alias("autocorr_lag1"))


@register(
    "control_chart_bands",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
        FROM events GROUP BY 1
    ),
    bands AS (
        SELECT d, n,
               quantile_cont(n, 0.10) OVER w AS p10,
               quantile_cont(n, 0.50) OVER w AS p50,
               quantile_cont(n, 0.90) OVER w AS p90,
               COUNT(*) OVER w AS n_window
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT d, n,
           ROUND(p10, 4) AS p10, ROUND(p50, 4) AS p50, ROUND(p90, 4) AS p90,
           (n < p10 OR n > p90) AS out_of_band
    FROM bands WHERE n_window >= 14
    """,
)
def control_chart_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile control chart: each day's volume against the trailing
    14-day p10/p50/p90 bands, out-of-band days flagged — the
    non-parametric alternative to z-score alarms (anomaly_zscore_daily)
    that survives heavy-tailed or skewed volumes where mean±kσ lies.
    Exact interpolated percentiles run per frame (Spark `percentile`
    as a window ≡ DuckDB `quantile_cont OVER`, the agg_percentile
    equivalence); days without a full window are dropped; 4-dp rounded
    (float-sensitive at interpolation).

    Scale (100 TB): the rollup is combinable; the banded window sorts
    ≤14 values per day over |days| rows on one task — per-key variants
    partition the same window."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("d").rowsBetween(-13, Window.currentRow)
    bands = daily.select(
        "d",
        "n",
        F.expr("percentile(n, 0.10)").over(w).alias("p10"),
        F.expr("percentile(n, 0.50)").over(w).alias("p50"),
        F.expr("percentile(n, 0.90)").over(w).alias("p90"),
        F.count(F.lit(1)).over(w).alias("n_window"),
    )
    return bands.filter(F.col("n_window") >= 14).select(
        "d",
        "n",
        F.round("p10", 4).alias("p10"),
        F.round("p50", 4).alias("p50"),
        F.round("p90", 4).alias("p90"),
        ((F.col("n") < F.col("p10")) | (F.col("n") > F.col("p90"))).alias(
            "out_of_band"
        ),
    )


@register(
    "share_of_voice_7d",
    oracle="""
    WITH e AS (SELECT CAST(ts AS DATE) AS d, event_type FROM events),
    b AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM e),
    days AS (SELECT CAST(unnest(generate_series(dmin, dmax, INTERVAL 1 DAY))
                         AS DATE) AS d FROM b),
    types AS (SELECT DISTINCT event_type FROM e),
    c AS (SELECT event_type, d, COUNT(*) AS n FROM e GROUP BY 1, 2),
    dense AS (
        SELECT t.event_type, days.d, COALESCE(c.n, 0) AS n
        FROM days CROSS JOIN types t
        LEFT JOIN c ON c.event_type = t.event_type AND c.d = days.d
    ),
    rolled AS (
        SELECT event_type, d,
               SUM(n) OVER (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS n_7d,
               COUNT(*) OVER (PARTITION BY event_type ORDER BY d
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS n_days
        FROM dense
    ),
    tot AS (
        SELECT d, SUM(n_7d) AS total_7d FROM rolled GROUP BY d
    )
    SELECT r.event_type, r.d, CAST(r.n_7d AS BIGINT) AS n_7d,
           ROUND(r.n_7d * 1.0 / t.total_7d, 4) AS share_7d
    FROM rolled r JOIN tot t USING (d)
    WHERE r.n_days = 7
    """,
)
def share_of_voice_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day share-of-voice: each event type's trailing-week
    volume as a fraction of ALL types' trailing-week volume — the
    composition trend that separates "my category grew" from
    "everything grew".  The (day × type) grid is gap-filled FIRST
    (ts_gap_fill's dense-calendar trick) so trailing frames see zeros,
    not missing rows — a ROWS frame over a sparse series silently
    widens its time span; days without a full week are dropped.

    Scale (100 TB): the dense grid is |days|×|types| (tiny); trailing
    sums partition by type; the per-day total is a |grid|-sized rollup;
    shares are integer-count ratios, one rounded division."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(F.to_date("ts").alias("d"), "event_type")
    counts = e.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("n"))
    bounds = e.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    days = bounds.select(
        F.explode(F.expr("sequence(dmin, dmax, interval 1 day)")).alias("d")
    )
    types = e.select("event_type").distinct()
    dense = (
        F.broadcast(days.crossJoin(types))
        .join(counts, ["event_type", "d"], "left")
        .select("event_type", "d", F.coalesce("n", F.lit(0)).alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    rolled = dense.select(
        "event_type",
        "d",
        F.sum("n").over(w).alias("n_7d"),
        F.count(F.lit(1)).over(w).alias("n_days"),
    )
    tot = rolled.groupBy("d").agg(F.sum("n_7d").alias("total_7d"))
    return (
        rolled.filter(F.col("n_days") == 7)
        .join(tot, "d")
        .select(
            "event_type",
            "d",
            "n_7d",
            F.round(F.col("n_7d") * 1.0 / F.col("total_7d"), 4).alias(
                "share_7d"
            ),
        )
    )


# ---------------------------------------------------------------- sketches

#: Max centroids per quantile sketch (t-digest-style compression bound).
_TDIGEST_K = 64


def _compress(vals, weights, k=_TDIGEST_K):
    """Compress weighted points into ≤k equal-weight centroids.

    Deterministic t-digest-style compression: sort by value, split into k
    contiguous equal-WEIGHT bins, keep each bin's (weighted mean, weight).
    Equal-weight bins bound the rank error of any quantile query by one
    bin (≤ total_weight/k); sorting first makes the result independent of
    input order, which is what makes the sketch MERGEABLE: merging = pool
    centroids of both sketches, re-sort, re-compress."""
    import numpy as np

    order = np.argsort(vals, kind="stable")
    vals, weights = vals[order], weights[order]
    total = weights.sum()
    if len(vals) <= k:
        return vals, weights
    # equal-weight bin edges over the cumulative weight
    cum = np.cumsum(weights)
    edges = total * (np.arange(1, k + 1) / k)
    idx = np.searchsorted(cum, edges, side="left")
    out_v, out_w, lo = [], [], 0
    for hi in idx:
        hi = min(int(hi) + 1, len(vals))
        if hi <= lo:
            continue
        w = weights[lo:hi]
        out_v.append(float((vals[lo:hi] * w).sum() / w.sum()))
        out_w.append(float(w.sum()))
        lo = hi
    return np.array(out_v), np.array(out_w)


def _quantile(vals, weights, q):
    """Weighted-centroid quantile: linear interpolation on cumulative
    weight midpoints (the standard t-digest query rule)."""
    import numpy as np

    if len(vals) == 0:
        return float("nan")
    cum = np.cumsum(weights) - weights / 2.0
    target = q * weights.sum()
    return float(np.interp(target, cum, vals))


@register(
    "rolling_quantile_tdigest",
    oracle=f"""
    WITH v AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT) AS vm
        FROM events
    ),
    p1 AS (
        SELECT d, vm,
               ROW_NUMBER() OVER (PARTITION BY d ORDER BY vm) AS p,
               COUNT(*) OVER (PARTITION BY d) AS n
        FROM v
    ),
    c1 AS (
        SELECT d, ({_TDIGEST_K} * (p - 1)) // n + 1 AS b,
               SUM(vm) AS csum, COUNT(*) AS cw
        FROM p1 GROUP BY d, b
    ),
    member AS (
        SELECT d + CAST(k AS INTEGER) AS win_d, csum, cw
        FROM c1, (SELECT unnest(generate_series(0, 6)) AS k) ks
    ),
    m1 AS (
        SELECT win_d, csum, cw,
               SUM(cw) OVER w - cw AS prev,
               SUM(cw) OVER (PARTITION BY win_d) AS tw
        FROM member
        WINDOW w AS (PARTITION BY win_d
                     ORDER BY CAST(csum AS DOUBLE) / cw, csum, cw
                     ROWS UNBOUNDED PRECEDING)
    ),
    c2 AS (
        SELECT win_d, ({_TDIGEST_K} * prev) // tw + 1 AS b,
               SUM(csum) AS bsum, SUM(cw) AS bw, MAX(tw) AS tw
        FROM m1 GROUP BY win_d, b
    ),
    qrows AS (
        SELECT win_d, b, tw,
               CAST(bsum AS DOUBLE) / bw AS cv,
               SUM(bw) OVER (PARTITION BY win_d ORDER BY b
                             ROWS UNBOUNDED PRECEDING) - bw / 2.0 AS mid
        FROM c2
    ),
    r AS (
        SELECT win_d, b, tw, cv, mid,
               LEAD(cv) OVER (PARTITION BY win_d ORDER BY b) AS cv2,
               LEAD(mid) OVER (PARTITION BY win_d ORDER BY b) AS mid2,
               FIRST_VALUE(cv) OVER (PARTITION BY win_d ORDER BY b) AS cv_lo,
               FIRST_VALUE(mid) OVER (PARTITION BY win_d ORDER BY b) AS mid_lo,
               LAST_VALUE(cv) OVER (PARTITION BY win_d ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                   AS cv_hi,
               LAST_VALUE(mid) OVER (PARTITION BY win_d ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                   AS mid_hi
        FROM qrows
    ),
    interp AS (
        SELECT win_d, tw, qq,
               CASE WHEN qq * tw <= MIN(mid_lo) THEN MIN(cv_lo)
                    WHEN qq * tw >= MIN(mid_hi) THEN MIN(cv_hi)
                    ELSE MIN(CASE WHEN mid <= qq * tw AND mid2 > qq * tw
                                  THEN (cv2 - cv) / (mid2 - mid)
                                       * (qq * tw - mid) + cv
                             END)
               END AS est
        FROM r, (SELECT unnest([CAST(0.5 AS DOUBLE),
                                CAST(0.95 AS DOUBLE)]) AS qq) qs
        GROUP BY win_d, tw, qq
    ),
    piv AS (
        SELECT win_d, CAST(tw AS DOUBLE) AS n_est,
               MIN(CASE WHEN qq = 0.5 THEN est END) / 1000000.0 AS p50,
               MIN(CASE WHEN qq = 0.95 THEN est END) / 1000000.0 AS p95
        FROM interp GROUP BY win_d, tw
    )
    SELECT win_d, n_est, p50, p95
    FROM piv
    WHERE win_d >= (SELECT MIN(d) FROM v) + 6
      AND win_d <= (SELECT MAX(d) FROM v)
    """,
)
def rolling_quantile_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day p50/p95 of event value per day, from MERGED daily
    quantile sketches (SURVEY §7.2 candidate: t-digest-style mergeable
    quantile windows).

    Two-phase sketch pipeline — the only shape that works at 100 TB:

    1. per-day sketch: one `applyInPandas` over day groups compresses
       each day's values into ≤K equal-weight centroids (vectorized
       numpy; K=64 ⇒ rank error ≤ n/64 per day).
    2. rolling merge: each day's sketch is exploded to the ≤7 window-end
       days it participates in (offset 0..6 — a broadcast-sized grid op),
       and a second `applyInPandas` per (window-end day) pools + re-sorts
       + re-compresses the centroids and queries p50/p95.

    The raw values are read ONCE; the shuffled payload is K centroids per
    day — at 100 TB the rolling stage moves kilobytes per day instead of
    re-scanning a week of raw data per window (what a naive
    `percentile() OVER (RANGE 7 days)` re-aggregation does).

    PORTABLE: centroids are carried as INTEGER (Σ value-micro-units,
    weight) pairs, so both compression levels are exact integer arithmetic
    — bin(p) = floor(K·prevcum/W)+1 is the closed form of the equal-weight
    searchsorted binning, order-independent because the centroid sort key
    (mean, sum, weight) is a total order — and the only floats are the
    final fixed-order interpolation (np.interp's exact formula, mirrored
    in the oracle) over exact-int-derived doubles.  The DuckDB oracle
    replays both levels with window functions, making this a hash-checked
    MERGEABLE quantile sketch; rank-error accuracy is additionally pinned
    vs the exact rolling percentile in tests/test_pipeline.py, and the
    generic float kernel keeps its hypothesis suite
    (tests/test_tdigest.py)."""
    import pandas as pd
    import numpy as np

    K = _TDIGEST_K
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        F.to_date("ts").alias("d"),
        F.floor(F.col("value").cast("double") * F.lit(1000000.0))
        .cast("bigint")
        .alias("vm"),
    )

    def day_sketch(pdf: pd.DataFrame) -> pd.DataFrame:
        vm = np.sort(pdf["vm"].to_numpy(np.int64))
        n = len(vm)
        b = (K * np.arange(n, dtype=np.int64)) // n
        g = pd.DataFrame({"b": b, "vm": vm}).groupby("b", sort=True)
        return pd.DataFrame(
            {
                "d": [pdf["d"].iloc[0]] * g.ngroups,
                "csum": g["vm"].sum().to_numpy(np.int64),
                "cw": g.size().to_numpy(np.int64),
            }
        )

    sketches = days.groupBy("d").applyInPandas(
        day_sketch, "d date, csum long, cw long"
    )

    # fan each day's sketch out to the window-end days it belongs to
    member = sketches.select(
        F.explode(F.expr("sequence(0, 6)")).alias("off"),
        F.date_add(F.col("d"), F.col("off")).alias("win_d"),
        "csum",
        "cw",
    ).drop("off")

    def merge_query(pdf: pd.DataFrame) -> pd.DataFrame:
        s = pdf["csum"].to_numpy(np.int64)
        w = pdf["cw"].to_numpy(np.int64)
        mean = s / w
        order = np.lexsort((w, s, mean))
        s, w = s[order], w[order]
        cum = np.cumsum(w)
        total = int(cum[-1])
        b = (K * (cum - w)) // total
        g = pd.DataFrame({"b": b, "s": s, "w": w}).groupby("b", sort=True)
        bs = g["s"].sum().to_numpy(np.int64)
        bw = g["w"].sum().to_numpy(np.int64)
        cv = bs / bw
        mid = np.cumsum(bw) - bw / 2.0

        def q(qq: float) -> float:
            return float(np.interp(qq * total, mid, cv)) / 1000000.0

        return pd.DataFrame(
            {
                "win_d": [pdf["win_d"].iloc[0]],
                "n_est": [float(total)],
                "p50": [q(0.5)],
                "p95": [q(0.95)],
            }
        )

    out = member.groupBy("win_d").applyInPandas(
        merge_query, "win_d date, n_est double, p50 double, p95 double"
    )
    # keep only full 7-day windows (same convention as share_of_voice_7d)
    bounds = days.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    return out.join(F.broadcast(bounds)).filter(
        (F.col("win_d") >= F.date_add(F.col("dmin"), 6))
        & (F.col("win_d") <= F.col("dmax"))
    ).select("win_d", "n_est", "p50", "p95")


@register(
    "theil_sen_daily_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    slopes AS (
        SELECT CAST(FLOOR((b.cnt - a.cnt) * 1000000.0
                          / date_diff('day', a.d, b.d)) AS BIGINT) AS sq
        FROM daily a JOIN daily b ON b.d > a.d
    ),
    ranked AS (
        SELECT sq, ROW_NUMBER() OVER (ORDER BY sq) AS rn,
               COUNT(*) OVER () AS m
        FROM slopes
    ),
    mid AS (
        SELECT CAST(SUM(sq) AS BIGINT) AS s2, MAX(m) AS m,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM ranked
        WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           CAST(m * 1 AS BIGINT) AS n_pairs,
           ROUND(s2 * 1.0 / k / 1000000.0, 4) AS slope_per_day,
           s2 > 0 AS trending_up
    FROM mid
    """,
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL–SEN ROBUST TREND on daily event volume: the MEDIAN of all
    pairwise day-to-day slopes — the trend estimator that shrugs off
    the outlier days that wreck a least-squares fit, complementing
    `anomaly_zscore_daily` (which needs a robust baseline) and
    `control_chart_bands`.  Up to ~29% of days can be arbitrarily
    corrupted before the estimate moves (the estimator's breakdown
    point), which is exactly the property an ops dashboard wants on
    crawl-volume data full of outage and backfill days.

    Determinism: slopes quantize to int64 micro-units per PAIR (one
    fixed-order double division each); the median picks the one or two
    middle values of the sorted slope MULTISET by row position —
    values at those positions are unique regardless of tie order — and
    their integer sum decides the trend sign with no float compare.

    Scale (100 TB): the pairwise step is over DAYS, not rows — one
    partial-aggregated groupBy to |days|, then |days|²/2 slope pairs
    (~65 k pairs for a year), all tiny-frame work after one scan."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    a = daily.select(F.col("d").alias("d1"), F.col("cnt").alias("c1"))
    b = daily.select(F.col("d").alias("d2"), F.col("cnt").alias("c2"))
    slopes = a.join(b, F.col("d2") > F.col("d1")).select(
        F.floor(
            (F.col("c2") - F.col("c1"))
            * F.lit(1000000.0)
            / F.datediff("d2", "d1")
        )
        .cast("bigint")
        .alias("sq")
    )
    w = Window.orderBy("sq")
    w_all = Window.orderBy("sq").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = slopes.select(
        "sq",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("m"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.expr("(m + 1) div 2"))
        | (F.col("rn") == F.expr("m div 2 + 1"))
    ).agg(
        F.sum("sq").alias("s2"),
        F.max("m").alias("m"),
        F.count(F.lit(1)).alias("k"),
    )
    n_days = daily.agg(F.count(F.lit(1)).alias("n_days"))
    return mid.crossJoin(F.broadcast(n_days)).select(
        "n_days",
        F.col("m").cast("bigint").alias("n_pairs"),
        F.round(
            F.col("s2") * F.lit(1.0) / F.col("k") / F.lit(1000000.0), 4
        ).alias("slope_per_day"),
        (F.col("s2") > 0).alias("trending_up"),
    )


@register(
    "cusum_drift_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    ),
    g AS (
        SELECT d, cnt,
               COUNT(*) OVER () AS n,
               SUM(cnt) OVER () AS t,
               SUM(cnt * cnt) OVER () AS sq
        FROM daily
    ),
    p AS (
        SELECT d, cnt, n, t, sq,
               SUM(n * cnt - t) OVER (ORDER BY d
                   ROWS UNBOUNDED PRECEDING) AS pfx
        FROM g
    ),
    s AS (
        SELECT d, cnt, n, pfx,
               n * sq - t * t AS s2n,
               LEAST(MIN(pfx) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING),
                     0) AS lo,
               GREATEST(MAX(pfx) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING),
                        0) AS hi
        FROM p
    )
    SELECT d, cnt,
           ROUND((pfx - lo) * 1.0 / n, 4) AS cusum_pos,
           ROUND((hi - pfx) * 1.0 / n, 4) AS cusum_neg,
           (pfx - lo) > 4.0 * sqrt(CAST(s2n AS DOUBLE)) AS alarm_pos,
           (hi - pfx) > 4.0 * sqrt(CAST(s2n AS DOUBLE)) AS alarm_neg
    FROM s
    """,
)
def cusum_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGE'S CUSUM DRIFT DETECTOR over daily event counts — the
    monitoring op a pipeline owner points at ingest volume: a sustained
    level shift (upstream source died, crawler unblocked, duplicate
    feed attached) accumulates in the one-sided CUSUM statistics long
    before any single day crosses an outlier bound, the failure mode
    `anomaly_zscore_daily` (pointwise) cannot see.

    Closed form instead of the textbook recurrence: with zero
    allowance, S⁺_t = max(0, S⁺_{t-1} + (x_t − μ)) telescopes to
    P_t − min_{j≤t} P_j where P is the prefix sum of (x − μ) — so two
    running windows (min/max of one prefix-sum column) replace the
    sequential loop, which is what makes the op ONE window pass over
    the |days|-row daily frame instead of an iterative driver loop.

    Determinism: everything is scaled to INTEGERS — P is accumulated
    as Σ(n·x_i − T) (n = day count, T = total), exactly n× the
    textbook statistic, so prefix sums, running extrema, and the
    CUSUM values are exact int64 arithmetic; the only doubles are the
    final /n renders and the alarm threshold 4σ̂ (σ̂ from the exact
    n·Σx²−T² moment via one sqrt — the same fixed-order expression in
    both engines).

    Scale (100 TB): one partial aggregate collapses the corpus to
    |days| rows; every window after that runs on the tiny daily frame
    (single partition by design — the frame IS small; repartitioning
    a |days|-row frame would be overhead, not parallelism)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_all = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_pfx = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    g = daily.select(
        "d",
        "cnt",
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("cnt").over(w_all).alias("t"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w_all).alias("sq"),
    )
    p = g.withColumn(
        "pfx", F.sum(F.col("n") * F.col("cnt") - F.col("t")).over(w_pfx)
    )
    s = p.select(
        "d",
        "cnt",
        "n",
        "pfx",
        (F.col("n") * F.col("sq") - F.col("t") * F.col("t")).alias("s2n"),
        # the prefix minimum/maximum must include the EMPTY prefix
        # (P_0 = 0): S_t = P_t − min_{0≤j≤t} P_j
        F.least(F.min("pfx").over(w_pfx), F.lit(0)).alias("lo"),
        F.greatest(F.max("pfx").over(w_pfx), F.lit(0)).alias("hi"),
    )
    thresh = F.lit(4.0) * F.sqrt(F.col("s2n").cast("double"))
    return s.select(
        "d",
        "cnt",
        F.round((F.col("pfx") - F.col("lo")) * F.lit(1.0) / F.col("n"), 4)
        .alias("cusum_pos"),
        F.round((F.col("hi") - F.col("pfx")) * F.lit(1.0) / F.col("n"), 4)
        .alias("cusum_neg"),
        ((F.col("pfx") - F.col("lo")) > thresh).alias("alarm_pos"),
        ((F.col("hi") - F.col("pfx")) > thresh).alias("alarm_neg"),
    )


# --------------------------------------------------- ewma_daily_volume

def _ewma_oracle() -> str:
    """Build the 16-lag EWMA oracle: integer weights 3^k * 4^(15-k)
    (= (3/4)^k scaled by 4^15) over the last 16 days."""
    num = " + ".join(
        f"COALESCE(lag(cnt, {k}) OVER w, 0) * CAST({3**k * 4**(15-k)} AS BIGINT)"
        for k in range(16)
    )
    den = " + ".join(
        f"CASE WHEN lag(cnt, {k}) OVER w IS NULL THEN CAST(0 AS BIGINT) "
        f"ELSE CAST({3**k * 4**(15-k)} AS BIGINT) END"
        for k in range(16)
    )
    return f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    ),
    e AS (
        SELECT d, cnt,
               {num} AS num,
               {den} AS den
        FROM daily
        WINDOW w AS (ORDER BY d)
    )
    SELECT d, cnt,
           ROUND(num * 1.0 / den, 4) AS ewma_16d,
           ROUND(cnt * den * 1.0 / num, 4) AS ratio
    FROM e
    """


@register("ewma_daily_volume", oracle=_ewma_oracle())
def ewma_daily_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPONENTIALLY-WEIGHTED MOVING AVERAGE of daily event volume,
    alpha = 1/4 truncated at 16 days — the smoothed baseline ops
    dashboards divide today's volume by (the `ratio` column; compare
    `cusum_drift_daily` for sustained shifts, this for "is today 2x
    its smoothed self").  The recurrence S_t = alpha*x_t +
    (1-alpha)*S_{t-1} is unrolled into 16 literal lag() terms with
    weights (3/4)^k, renormalized over the lags that exist (first 15
    days use fewer terms — the standard adjusted-EWMA correction).

    Determinism is EXACT, not behind-rounding: weights are the
    INTEGERS 3^k * 4^(15-k) (so (3/4)^k x 4^15), every numerator term
    x * 3^k * 4^(15-k) <= ~1e6 * 1.07e9 fits int64, the sums are
    integer, and the single final division of two exact int64s is one
    correctly-rounded IEEE op — bit-identical in any engine, at any
    accumulation order.  (Contrast the textbook float recurrence,
    which is order-SENSITIVE and impossible to hash-verify.)

    Scale (100 TB): the corpus collapses map-side to |days| rows; the
    16 lags are ONE window pass over that tiny frame (single
    partition by design, same note as `cusum_drift_daily`)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy("d")
    lags = [F.lag("cnt", k).over(w).alias(f"l{k}") for k in range(16)]
    e = daily.select("d", "cnt", *lags)
    num = sum(
        (
            F.coalesce(F.col(f"l{k}"), F.lit(0))
            * F.lit(3**k * 4 ** (15 - k)).cast("bigint")
            for k in range(16)
        ),
        F.lit(0).cast("bigint"),
    )
    den = sum(
        (
            F.when(F.col(f"l{k}").isNull(), F.lit(0).cast("bigint")).otherwise(
                F.lit(3**k * 4 ** (15 - k)).cast("bigint")
            )
            for k in range(16)
        ),
        F.lit(0).cast("bigint"),
    )
    return e.select(
        "d",
        "cnt",
        F.round(num * F.lit(1.0) / den, 4).alias("ewma_16d"),
        F.round(F.col("cnt") * den * F.lit(1.0) / num, 4).alias("ratio"),
    )


# --------------------------------------------- open_orders_backlog_daily

@register(
    "open_orders_backlog_daily",
    oracle="""
    WITH opened AS (
        SELECT o_orderdate AS d, CAST(COUNT(*) AS BIGINT) AS n_opened
        FROM orders GROUP BY 1
    ),
    shipped AS (
        SELECT last_ship AS d, CAST(COUNT(*) AS BIGINT) AS n_closed
        FROM (SELECT l_orderkey, MAX(l_shipdate) AS last_ship
              FROM lineitem GROUP BY l_orderkey)
        GROUP BY 1
    ),
    delta AS (
        SELECT COALESCE(o.d, s.d) AS d,
               COALESCE(n_opened, 0) AS n_opened,
               COALESCE(n_closed, 0) AS n_closed
        FROM opened o FULL OUTER JOIN shipped s ON o.d = s.d
    )
    SELECT d, n_opened, n_closed,
           CAST(SUM(n_opened - n_closed)
                OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS backlog
    FROM delta
    """,
)
def open_orders_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPEN-ORDER BACKLOG curve via the SWEEP-LINE / difference-array
    method: +1 at order date, -1 on the day the order's LAST line item
    ships, running sum = in-flight orders per day — the
    interval-stabbing question ("how many intervals cover day d")
    answered WITHOUT expanding order x day pairs, which is what makes
    it viable when intervals span months: cost is |orders| + |days|,
    never their product (contrast the naive `d BETWEEN open AND close`
    range join).

    Determinism: all counts exact integers; the running sum is int64
    over an ordered window.

    Scale (100 TB): both event streams collapse map-side to |days|
    rows (the lineitem max-per-order rollup shuffles once on the
    orderkey it shares with the scan layout); the full-outer stitch
    and running sum run on the tiny daily frame."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    opened = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_opened")
    )
    shipped = (
        li.groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .groupBy(F.col("last_ship").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_closed"))
    )
    delta = opened.join(shipped, "d", "full_outer").select(
        "d",
        F.coalesce("n_opened", F.lit(0)).alias("n_opened"),
        F.coalesce("n_closed", F.lit(0)).alias("n_closed"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return delta.withColumn(
        "backlog",
        F.sum(F.col("n_opened") - F.col("n_closed")).over(w).cast("bigint"),
    )


# ------------------------------------------------ session_timeout_sweep

@register(
    "session_timeout_sweep",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id), ts) AS gap_s
        FROM events
    ),
    users AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM events),
    tot AS (SELECT COUNT(*) AS n_events FROM events),
    t AS (SELECT unnest([300, 1800, 7200, 21600]) AS timeout_s)
    SELECT t.timeout_s,
           CAST(users.n_users
                + SUM(CASE WHEN gap_s > t.timeout_s THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sessions,
           ROUND(tot.n_events * 1.0 /
                 (users.n_users
                  + SUM(CASE WHEN gap_s > t.timeout_s THEN 1 ELSE 0 END)),
                 4) AS events_per_session
    FROM gaps CROSS JOIN users CROSS JOIN tot CROSS JOIN t
    GROUP BY t.timeout_s, users.n_users, tot.n_events
    """,
)
def session_timeout_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-TIMEOUT SENSITIVITY SWEEP — the measurement that PICKS
    the gap threshold `sessionize_gaps` and `stream_session_window`
    hard-code: session counts and mean session depth at four candidate
    timeouts (5 min / 30 min / 2 h / 6 h) from ONE pass over the
    per-user gap distribution.  Where the curve flattens (adding
    timeout no longer merges sessions) is the natural choice — the
    same elbow methodology as watermark sizing, applied to
    sessionization.

    Sessions-at-timeout needs no sessionizer: every user contributes
    1 session plus one more per gap exceeding T, so the sweep is a
    conditional count over gaps — 4 literals, zero extra passes.

    Determinism: gaps are exact integer seconds off a totally ordered
    window (ts, event_id); counts are exact; one rounded division.

    Scale (100 TB): one shuffle on user_id for the lag window, then
    the corpus collapses map-side to 4 rows; the two scalar frames
    broadcast."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        (
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
        ).alias("gap_s")
    )
    users = ev.agg(F.count_distinct("user_id").alias("n_users"))
    tot = ev.agg(F.count(F.lit(1)).alias("n_events"))
    t = spark.createDataFrame(
        [(300,), (1800,), (7200,), (21600,)], "timeout_s int"
    )
    return (
        gaps.crossJoin(F.broadcast(users))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(t))
        .groupBy("timeout_s", "n_users", "n_events")
        .agg(
            F.sum(
                F.when(F.col("gap_s") > F.col("timeout_s"), 1).otherwise(0)
            ).alias("n_extra")
        )
        .select(
            "timeout_s",
            (F.col("n_users") + F.col("n_extra"))
            .cast("bigint")
            .alias("n_sessions"),
            F.round(
                F.col("n_events")
                * F.lit(1.0)
                / (F.col("n_users") + F.col("n_extra")),
                4,
            ).alias("events_per_session"),
        )
    )


# -------------------------------------------- burst_detection_twostate

#: Quantization prep for the two-state burst DP — identical text runs
#: on both engines (only the daily-source CTE differs), so the costs
#: entering the recurrence are the same int64 micro-nats everywhere.
_BURST_PREP_SQL = """
    prep AS (
        SELECT rn, d, x,
               CAST(FLOOR((lam0 - x * ln(lam0)) * 1000000.0) AS BIGINT)
                   AS e0,
               CAST(FLOOR((lam1 - x * ln(lam1)) * 1000000.0) AS BIGINT)
                   AS e1,
               CAST(FLOOR(ln(n * 1.0) * 1000000.0) AS BIGINT) AS tu
        FROM (
            SELECT rn, d, x,
                   SUM(x) OVER () * 1.0 / COUNT(*) OVER () AS lam0,
                   2.0 * SUM(x) OVER () / COUNT(*) OVER () AS lam1,
                   COUNT(*) OVER () AS n
            FROM daily
        )
    )"""

#: Oracle-side DP: the recurrence as a real `WITH RECURSIVE` — exact
#: integer addition + LEAST over the quantized costs, bit-stable at
#: any depth.  The Spark side runs the SAME recurrence as one
#: `applyInPandas` task (see the operator docstring for why).
_BURST_DP_SQL = (
    _BURST_PREP_SQL
    + """,
    dp(rn, d, x, c0, c1) AS (
        SELECT rn, d, x, e0, e1 + tu FROM prep WHERE rn = 1
        UNION ALL
        SELECT p.rn, p.d, p.x,
               p.e0 + LEAST(dp.c0, dp.c1),
               p.e1 + LEAST(dp.c0 + p.tu, dp.c1)
        FROM dp JOIN prep p ON p.rn = dp.rn + 1
    )
    SELECT d, x AS cnt,
           ROUND(CAST(c0 AS DOUBLE) / 1000000.0, 4) AS cost_base,
           ROUND(CAST(c1 AS DOUBLE) / 1000000.0, 4) AS cost_burst,
           c1 < c0 AS in_burst
    FROM dp
"""
)


@register(
    "burst_detection_twostate",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, d, x
        FROM (SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
              FROM events GROUP BY 1)
    ),
    """
    + _BURST_DP_SQL,
)
def burst_detection_twostate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-STATE BURST DETECTION (Kleinberg 2002's finite-automaton
    model, batch form): each day is emitted by a base-rate or a
    2x-rate Poisson state; a Viterbi-style forward DP accumulates the
    per-state costs with an ln(n) penalty for entering the burst
    state, and a day is flagged when the burst state's forward cost
    undercuts the base state's — the burst model that separates "a
    sustained elevated episode" from `anomaly_zscore_daily`'s
    single-day spikes and `cusum_drift_daily`'s one-sided level
    shifts.

    Determinism: emission and transition costs are quantized to int64
    micro-nats BEFORE the recursion (each floor is of a fixed-order
    double expression, run as the SAME `prep` SQL text on both
    engines), so the DP is exact integer addition + min — bit-stable
    at any depth regardless of which engine (or Python) executes it;
    the final cost division + ROUND happens back in Spark expressions
    (HALF_UP on both engines).

    Scale (100 TB): the corpus collapses map-side to |days| rows
    before any recursion — that collapse is the scale move, and it is
    unchanged.  The recurrence itself previously ran as a real `WITH
    RECURSIVE`, i.e. |days| sequential frontier iterations, EACH a
    scheduler round-trip: ~10 s of pure per-step overhead at 30 days,
    ~1,100 sequential micro-jobs for three years, flat in data size.
    A sequential DP over a frame that small belongs in ONE task: a
    single-group `applyInPandas` runs the identical integer recurrence
    in-process (micro-seconds for centuries of days), so wall-clock is the
    daily collapse plus one tiny task.  The recursive-CTE form is retained
    verbatim as the DuckDB oracle, pinning the two execution strategies
    equal. Poisson x! terms cancel between states and are dropped."""
    import pandas as pd

    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .withColumn("rn", F.row_number().over(Window.orderBy("d")))
        .select("rn", "d", "x")
    )
    daily.createOrReplaceTempView("mq_burst_daily")
    prep = spark.sql(
        "WITH daily AS (SELECT rn, d, x FROM mq_burst_daily),\n"
        + _BURST_PREP_SQL
        + "\nSELECT rn, d, x, e0, e1, tu FROM prep"
    )

    def _dp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn").reset_index(drop=True)
        c0s: list[int] = []
        c1s: list[int] = []
        c0 = c1 = 0
        for i, (e0, e1, tu) in enumerate(
            zip(pdf["e0"].tolist(), pdf["e1"].tolist(), pdf["tu"].tolist())
        ):
            if i == 0:
                c0, c1 = e0, e1 + tu
            else:
                # same recurrence as the oracle's recursive CTE: both
                # new costs read the PREVIOUS (c0, c1) pair
                c0, c1 = e0 + min(c0, c1), e1 + min(c0 + tu, c1)
            c0s.append(c0)
            c1s.append(c1)
        return pd.DataFrame(
            {"d": pdf["d"], "cnt": pdf["x"], "c0": c0s, "c1": c1s}
        )

    costs = prep.groupBy(F.lit(1).alias("_g")).applyInPandas(
        _dp, schema="d date, cnt bigint, c0 bigint, c1 bigint"
    )
    return costs.select(
        "d",
        "cnt",
        F.round(F.col("c0").cast("double") / 1000000.0, 4).alias(
            "cost_base"
        ),
        F.round(F.col("c1").cast("double") / 1000000.0, 4).alias(
            "cost_burst"
        ),
        (F.col("c1") < F.col("c0")).alias("in_burst"),
    )


# ------------------------------------------------- holt_linear_daily

#: Shared daily-counts CTE text for the trend/decomposition ops.
_DAILY_CTE = """
    daily AS (
        SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, d, x
        FROM (SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
              FROM events GROUP BY 1)
    )"""


@register(
    "holt_linear_daily",
    oracle="""
    WITH RECURSIVE"""
    + _DAILY_CTE
    + """,
    hw(rn, d, x, l, b) AS (
        SELECT rn, d, x, x * 1000000, CAST(0 AS BIGINT) FROM daily
        WHERE rn = 1
        UNION ALL
        SELECT p.rn, p.d, p.x,
               CAST(FLOOR(CAST(p.x * 1000000 + 3 * (hw.l + hw.b)
                               AS DOUBLE) / 4.0) AS BIGINT),
               CAST(FLOOR(CAST(CAST(FLOOR(CAST(p.x * 1000000
                                              + 3 * (hw.l + hw.b)
                                              AS DOUBLE) / 4.0) AS BIGINT)
                               - hw.l + 3 * hw.b
                               AS DOUBLE) / 4.0) AS BIGINT)
        FROM hw JOIN daily p ON p.rn = hw.rn + 1
    )
    SELECT d, x AS cnt,
           ROUND(CAST(l AS DOUBLE) / 1000000.0, 4) AS level,
           ROUND(CAST(b AS DOUBLE) / 1000000.0, 4) AS trend,
           ROUND(CAST(l + b AS DOUBLE) / 1000000.0, 4) AS forecast_next
    FROM hw
    """,
)
def holt_linear_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT LINEAR-TREND SMOOTHING (double exponential) of daily event
    volume, alpha = beta = 1/4: level absorbs noise, trend carries the
    drift, `forecast_next = level + trend` is the one-step-ahead
    capacity forecast — the next rung past `ewma_daily_volume` (level
    only, lag under drift) and the forecasting complement to
    `cusum_drift_daily` (detects shifts, doesn't predict).

    Determinism: the recurrence runs in int64 micro-units with
    alpha = 1/4 exact — each step is integer add/multiply plus one
    floor-of-(int/4.0), a power-of-two division that is exact in
    double below 2^53, so level/trend are bit-stable at any depth in
    any engine; init is l_1 = x_1, b_1 = 0.

    Scale (100 TB): the corpus collapses map-side to |days| rows; the
    sequential recurrence then runs in ONE `applyInPandas` task over
    that tiny frame (micro-seconds for centuries of days) — same
    de-serialization as `burst_detection_twostate`, with the
    recursive-CTE form retained verbatim as the oracle pinning the
    two execution strategies equal."""
    import pandas as pd

    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .withColumn("rn", F.row_number().over(Window.orderBy("d")))
        .select("rn", "d", "x")
    )

    def _holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn").reset_index(drop=True)
        ls: list[int] = []
        bs: list[int] = []
        l = b = 0
        for i, x in enumerate(pdf["x"].tolist()):
            if i == 0:
                l, b = int(x) * 1000000, 0
            else:
                l_new = (int(x) * 1000000 + 3 * (l + b)) // 4
                b = (l_new - l + 3 * b) // 4
                l = l_new
            ls.append(l)
            bs.append(b)
        return pd.DataFrame(
            {"d": pdf["d"], "cnt": pdf["x"], "l": ls, "b": bs}
        )

    out = daily.groupBy(F.lit(1).alias("_g")).applyInPandas(
        _holt, schema="d date, cnt bigint, l bigint, b bigint"
    )
    return out.select(
        "d",
        "cnt",
        F.round(F.col("l").cast("double") / 1000000.0, 4).alias("level"),
        F.round(F.col("b").cast("double") / 1000000.0, 4).alias("trend"),
        F.round(
            (F.col("l") + F.col("b")).cast("double") / 1000000.0, 4
        ).alias("forecast_next"),
    )


# -------------------------------------------- changepoint_binseg_daily

@register(
    "changepoint_binseg_daily",
    oracle="""
    WITH"""
    + _DAILY_CTE
    + """,
    pre AS (
        SELECT rn, d, x,
               CAST(SUM(x) OVER (ORDER BY rn) AS BIGINT) AS sk,
               CAST(SUM(x) OVER () AS BIGINT) AS sn,
               COUNT(*) OVER () AS n
        FROM daily
    ),
    gains AS (
        SELECT rn AS k, d,
               CAST(FLOOR((CAST(sk AS DOUBLE) * sk / k
                           + CAST(sn - sk AS DOUBLE) * (sn - sk) / (n - k)
                           - CAST(sn AS DOUBLE) * sn / n)
                          * 1000000.0) AS BIGINT) AS gain_q,
               sk, sn, n
        FROM (SELECT rn, d, x, sk, sn, n, rn AS k FROM pre)
        WHERE rn < n
    )
    SELECT d AS split_day, k AS split_k,
           CAST(k AS BIGINT) AS n_left,
           CAST(n - k AS BIGINT) AS n_right,
           ROUND(CAST(sk AS DOUBLE) / k, 4) AS mean_left,
           ROUND(CAST(sn - sk AS DOUBLE) / (n - k), 4) AS mean_right,
           ROUND(CAST(gain_q AS DOUBLE) / 1000000.0, 4) AS sse_gain
    FROM gains
    ORDER BY gain_q DESC, k ASC
    LIMIT 1
    """,
)
def changepoint_binseg_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SINGLE-CHANGEPOINT BINARY SEGMENTATION over the daily volume
    series: the split k that maximizes the variance-reduction gain
    `S_k^2/k + (S_n-S_k)^2/(n-k) - S_n^2/n` (the classic CUSUM-square
    identity — gain computed from PREFIX SUMS alone, no per-split
    rescan, so evaluating all n-1 candidate splits costs one pass).
    Complements `cusum_drift_daily` (direction-committed sequential
    alarm) with the retrospective "WHERE did the level shift" answer.

    Determinism: prefix sums are exact int64; the gain is one
    fixed-order double expression per split quantized to micro-units;
    argmax ties break on earliest split day.

    Scale (100 TB): corpus collapses map-side to |days|; the gain scan
    is a window pass over that tiny frame."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .withColumn("rn", F.row_number().over(Window.orderBy("d")))
    )
    pre = daily.select(
        "rn",
        "d",
        F.sum("x").over(Window.orderBy("rn")).cast("bigint").alias("sk"),
        F.sum("x")
        .over(Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        ))
        .cast("bigint")
        .alias("sn"),
        F.count(F.lit(1))
        .over(Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        ))
        .alias("n"),
    )
    gains = pre.filter(F.col("rn") < F.col("n")).select(
        F.col("rn").alias("k"),
        "d",
        F.floor(
            (
                F.col("sk").cast("double") * F.col("sk") / F.col("rn")
                + (F.col("sn") - F.col("sk")).cast("double")
                * (F.col("sn") - F.col("sk"))
                / (F.col("n") - F.col("rn"))
                - F.col("sn").cast("double") * F.col("sn") / F.col("n")
            )
            * F.lit(1000000.0)
        )
        .cast("bigint")
        .alias("gain_q"),
        "sk",
        "sn",
        "n",
    )
    return (
        gains.orderBy(F.col("gain_q").desc(), F.col("k").asc())
        .limit(1)
        .select(
            F.col("d").alias("split_day"),
            F.col("k").alias("split_k"),
            F.col("k").cast("bigint").alias("n_left"),
            (F.col("n") - F.col("k")).cast("bigint").alias("n_right"),
            F.round(F.col("sk").cast("double") / F.col("k"), 4).alias(
                "mean_left"
            ),
            F.round(
                (F.col("sn") - F.col("sk")).cast("double")
                / (F.col("n") - F.col("k")),
                4,
            ).alias("mean_right"),
            F.round(
                F.col("gain_q").cast("double") / 1000000.0, 4
            ).alias("sse_gain"),
        )
    )


# ---------------------------------------------- stl_decompose_daily

@register(
    "stl_decompose_daily",
    oracle="""
    WITH"""
    + _DAILY_CTE
    + """,
    tr AS (
        SELECT rn, d, x,
               CAST((d - DATE '1970-01-01') AS BIGINT) % 7 AS dow,
               CASE WHEN rn >= 4 AND rn <= COUNT(*) OVER () - 3
                    THEN CAST(SUM(x) OVER (ORDER BY rn
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                         AS BIGINT)
               END AS sum7
        FROM daily
    ),
    dt AS (
        SELECT rn, d, x, dow, sum7,
               CAST(FLOOR((x - CAST(sum7 AS DOUBLE) / 7.0)
                          * 1000000.0) AS BIGINT) AS dt_q
        FROM tr WHERE sum7 IS NOT NULL
    ),
    seas AS (
        SELECT dow,
               CAST(FLOOR(CAST(SUM(dt_q) AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS s_q
        FROM dt GROUP BY dow
    )
    SELECT dt.d, dt.x AS cnt,
           ROUND(CAST(dt.sum7 AS DOUBLE) / 7.0, 4) AS trend,
           ROUND(CAST(seas.s_q AS DOUBLE) / 1000000.0, 4) AS seasonal,
           ROUND(CAST(dt.dt_q - seas.s_q AS DOUBLE) / 1000000.0, 4)
               AS remainder
    FROM dt JOIN seas ON dt.dow = seas.dow
    """,
)
def stl_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-STYLE ADDITIVE DECOMPOSITION of daily volume into trend +
    day-of-week seasonal + remainder (one classical-decomposition
    pass: centered 7-day moving-average trend, seasonal = per-DOW
    mean of the detrended series, remainder = what neither explains)
    — the diagnostic that tells an on-call WHICH component moved:
    `seasonality_dow_hour` profiles the raw grid, this separates the
    weekly rhythm FROM the trend so a Monday spike isn't misread as
    growth.  Edge days without a full 7-day window are excluded (the
    standard centered-MA truncation).

    Determinism: the 7-day sum is exact int64; day-of-week comes from
    epoch-day mod 7 (no engine DOW-numbering dependence); detrended
    values and seasonal means are quantized to int64 micro-units
    before any cross-row aggregation, so the remainder is exact
    integer subtraction.

    Scale (100 TB): corpus collapses map-side to |days|; the MA
    window, DOW aggregation, and broadcast-size seasonal join all run
    on tiny frames."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .withColumn("rn", F.row_number().over(Window.orderBy("d")))
    )
    n_w = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ma_w = Window.orderBy("rn").rowsBetween(-3, 3)
    tr = daily.select(
        "rn",
        "d",
        "x",
        (F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
         .cast("bigint") % 7).alias("dow"),
        F.when(
            (F.col("rn") >= 4)
            & (F.col("rn") <= F.count(F.lit(1)).over(n_w) - 3),
            F.sum("x").over(ma_w).cast("bigint"),
        ).alias("sum7"),
    )
    dt = tr.filter(F.col("sum7").isNotNull()).withColumn(
        "dt_q",
        F.floor(
            (F.col("x") - F.col("sum7").cast("double") / F.lit(7.0))
            * F.lit(1000000.0)
        ).cast("bigint"),
    )
    seas = dt.groupBy("dow").agg(
        F.floor(
            F.sum("dt_q").cast("double") / F.count(F.lit(1))
        )
        .cast("bigint")
        .alias("s_q")
    )
    return dt.join(F.broadcast(seas), "dow").select(
        "d",
        F.col("x").alias("cnt"),
        F.round(F.col("sum7").cast("double") / 7.0, 4).alias("trend"),
        F.round(F.col("s_q").cast("double") / 1000000.0, 4).alias(
            "seasonal"
        ),
        F.round(
            (F.col("dt_q") - F.col("s_q")).cast("double") / 1000000.0, 4
        ).alias("remainder"),
    )


# ----------------------------------------------- acf_lags_profile

@register(
    "acf_lags_profile",
    oracle="""
    WITH"""
    + _DAILY_CTE
    + """,
    lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
    pairs AS (
        SELECT l.lag, a.x AS xa, b.x AS xb
        FROM daily a
        JOIN lags l ON TRUE
        JOIN daily b ON b.rn = a.rn + l.lag
    ),
    sums AS (
        SELECT lag,
               CAST(COUNT(*) AS BIGINT) AS np,
               CAST(SUM(xa) AS BIGINT) AS sa,
               CAST(SUM(xb) AS BIGINT) AS sb,
               CAST(SUM(xa * xb) AS BIGINT) AS sab,
               CAST(SUM(xa * xa) AS BIGINT) AS saa,
               CAST(SUM(xb * xb) AS BIGINT) AS sbb
        FROM pairs GROUP BY lag
    )
    SELECT lag, np AS n_pairs,
           ROUND((CAST(np AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)
                 / SQRT((CAST(np AS DOUBLE) * saa
                         - CAST(sa AS DOUBLE) * sa)
                        * (CAST(np AS DOUBLE) * sbb
                           - CAST(sb AS DOUBLE) * sb)), 4) AS acf
    FROM sums
    """,
)
def acf_lags_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION PROFILE of daily volume at lags 1..7 — the
    multi-lag generalization of `daily_autocorr_lag1`: one row per
    lag, Pearson r over the overlapping (x_t, x_{t+k}) pairs.  The
    lag-7 spike (weekly rhythm) vs lag-1 decay (momentum) is the
    standard pre-model seasonality diagnostic, and the empirical
    basis for `stl_decompose_daily`'s 7-day season choice.

    Determinism: all six sufficient sums per lag are exact int64 over
    integer counts; the correlation is one fixed-order double formula
    per lag, rounded once.

    Scale (100 TB): corpus collapses map-side to |days|; the 7-way
    lag fan (7 literal leads exploded — `F.lead` needs literal
    offsets) and per-lag sums run on that tiny frame."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .withColumn("rn", F.row_number().over(Window.orderBy("d")))
    )
    w = Window.orderBy("rn")
    with_leads = daily.select(
        "x",
        *[F.lead("x", k).over(w).alias(f"xl{k}") for k in range(1, 8)],
    )
    pairs = with_leads.select(
        "x",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"), F.col(f"xl{k}").alias("xb")
                    )
                    for k in range(1, 8)
                ]
            )
        ).alias("p"),
    ).select(
        F.col("p.lag").alias("lag"),
        F.col("x").alias("xa"),
        F.col("p.xb").alias("xb"),
    ).filter(F.col("xb").isNotNull())
    sums = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum("xa").cast("bigint").alias("sa"),
        F.sum("xb").cast("bigint").alias("sb"),
        F.sum(F.col("xa") * F.col("xb")).cast("bigint").alias("sab"),
        F.sum(F.col("xa") * F.col("xa")).cast("bigint").alias("saa"),
        F.sum(F.col("xb") * F.col("xb")).cast("bigint").alias("sbb"),
    )
    return sums.select(
        "lag",
        F.col("np").alias("n_pairs"),
        F.round(
            (
                F.col("np").cast("double") * F.col("sab")
                - F.col("sa").cast("double") * F.col("sb")
            )
            / F.sqrt(
                (
                    F.col("np").cast("double") * F.col("saa")
                    - F.col("sa").cast("double") * F.col("sa")
                )
                * (
                    F.col("np").cast("double") * F.col("sbb")
                    - F.col("sb").cast("double") * F.col("sb")
                )
            ),
            4,
        ).alias("acf"),
    )


# ------------------------------------------- spearman_corr_value_ts

#: Daily (count, quantized-revenue) frame shared by the rank/concordance
#: correlation ops: value is quantized per ROW before the daily sum
#: (quantize-before-sum), so both daily metrics are exact integers.
_DAILY2_CTE = """
    daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT)
                   AS rev_q
        FROM events GROUP BY 1
    )"""


@register(
    "spearman_corr_value_ts",
    oracle="""
    WITH"""
    + _DAILY2_CTE
    + """,
    ranked AS (
        SELECT cnt, rev_q,
               RANK() OVER (ORDER BY cnt)
                   + (COUNT(*) OVER (PARTITION BY cnt) - 1) / 2.0 AS ra,
               RANK() OVER (ORDER BY rev_q)
                   + (COUNT(*) OVER (PARTITION BY rev_q) - 1) / 2.0 AS rb
        FROM daily
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(ra) AS sa, SUM(rb) AS sb,
               SUM(ra * rb) AS sab,
               SUM(ra * ra) AS saa, SUM(rb * rb) AS sbb
        FROM ranked
    )
    SELECT n AS n_days,
           ROUND((CAST(n AS DOUBLE) * sab - sa * sb)
                 / SQRT((CAST(n AS DOUBLE) * saa - sa * sa)
                        * (CAST(n AS DOUBLE) * sbb - sb * sb)),
                 4) AS spearman_rho
    FROM sums
    """,
)
def spearman_corr_value_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION between daily event count and daily
    revenue — the robust complement to `corr_moments`' Pearson: rank
    transform first (average ranks on ties, the textbook treatment),
    then Pearson over the ranks, so one outlier day can't manufacture
    or destroy the relationship.

    Determinism: both daily metrics are exact int64 (value quantized
    to cents per row BEFORE the daily sum); average ranks are exact
    multiples of 0.5 (rank + (ties-1)/2), so every rank sum/product
    is an exactly-representable double and order-free; one final
    fixed-order formula, rounded once.

    Scale (100 TB): corpus collapses map-side to |days| rows; ranks
    and moment sums run on that tiny frame."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.floor(F.col("value") * F.lit(100.0)).cast("bigint"))
        .cast("bigint")
        .alias("rev_q"),
    )
    ranked = daily.select(
        (
            F.rank().over(Window.orderBy("cnt"))
            + (
                F.count(F.lit(1)).over(Window.partitionBy("cnt")) - 1
            )
            / F.lit(2.0)
        ).alias("ra"),
        (
            F.rank().over(Window.orderBy("rev_q"))
            + (
                F.count(F.lit(1)).over(Window.partitionBy("rev_q")) - 1
            )
            / F.lit(2.0)
        ).alias("rb"),
    )
    sums = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("ra").alias("sa"),
        F.sum("rb").alias("sb"),
        F.sum(F.col("ra") * F.col("rb")).alias("sab"),
        F.sum(F.col("ra") * F.col("ra")).alias("saa"),
        F.sum(F.col("rb") * F.col("rb")).alias("sbb"),
    )
    return sums.select(
        F.col("n").alias("n_days"),
        F.round(
            (
                F.col("n").cast("double") * F.col("sab")
                - F.col("sa") * F.col("sb")
            )
            / F.sqrt(
                (
                    F.col("n").cast("double") * F.col("saa")
                    - F.col("sa") * F.col("sa")
                )
                * (
                    F.col("n").cast("double") * F.col("sbb")
                    - F.col("sb") * F.col("sb")
                )
            ),
            4,
        ).alias("spearman_rho"),
    )


# --------------------------------------------- kendall_tau_daily

@register(
    "kendall_tau_daily",
    oracle="""
    WITH"""
    + _DAILY2_CTE
    + """,
    seq AS (
        SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, cnt, rev_q
        FROM daily
    ),
    pairs AS (
        SELECT CASE WHEN (a.cnt < b.cnt AND a.rev_q < b.rev_q)
                      OR (a.cnt > b.cnt AND a.rev_q > b.rev_q)
                    THEN 1 ELSE 0 END AS c,
               CASE WHEN (a.cnt < b.cnt AND a.rev_q > b.rev_q)
                      OR (a.cnt > b.cnt AND a.rev_q < b.rev_q)
                    THEN 1 ELSE 0 END AS dd,
               CASE WHEN a.cnt = b.cnt AND a.rev_q <> b.rev_q
                    THEN 1 ELSE 0 END AS tx,
               CASE WHEN a.rev_q = b.rev_q AND a.cnt <> b.cnt
                    THEN 1 ELSE 0 END AS ty
        FROM seq a JOIN seq b ON a.rn < b.rn
    )
    SELECT CAST(SUM(c) AS BIGINT) AS concordant,
           CAST(SUM(dd) AS BIGINT) AS discordant,
           ROUND((CAST(SUM(c) AS DOUBLE) - SUM(dd))
                 / SQRT((CAST(SUM(c) AS DOUBLE) + SUM(dd) + SUM(tx))
                        * (CAST(SUM(c) AS DOUBLE) + SUM(dd) + SUM(ty))),
                 4) AS tau_b
    FROM pairs
    """,
)
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL TAU-B between daily event count and daily revenue —
    the concordance-pair alternative to `spearman_corr_value_ts`:
    counts agreeing vs disagreeing day pairs directly (with the tau-b
    tie correction), so the statistic has a plain operational reading
    ("in X% of day pairs, busier ALSO meant richer").

    Determinism: concordant/discordant/tie counts are exact integers
    over exact int64 daily metrics; one fixed-order final formula.

    Scale (100 TB): the corpus collapses map-side to |days| rows
    FIRST, so the O(|days|^2) pair join is over the tiny daily frame
    (a year = ~66k pairs) — the quadratic is in days, never in rows."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.floor(F.col("value") * F.lit(100.0)).cast("bigint"))
        .cast("bigint")
        .alias("rev_q"),
    )
    seq = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("rn"),
        "cnt",
        "rev_q",
    )
    a = seq.alias("a")
    b = seq.alias("b")
    pairs = a.join(b, F.col("a.rn") < F.col("b.rn")).select(
        F.when(
            (
                (F.col("a.cnt") < F.col("b.cnt"))
                & (F.col("a.rev_q") < F.col("b.rev_q"))
            )
            | (
                (F.col("a.cnt") > F.col("b.cnt"))
                & (F.col("a.rev_q") > F.col("b.rev_q"))
            ),
            1,
        )
        .otherwise(0)
        .alias("c"),
        F.when(
            (
                (F.col("a.cnt") < F.col("b.cnt"))
                & (F.col("a.rev_q") > F.col("b.rev_q"))
            )
            | (
                (F.col("a.cnt") > F.col("b.cnt"))
                & (F.col("a.rev_q") < F.col("b.rev_q"))
            ),
            1,
        )
        .otherwise(0)
        .alias("dd"),
        F.when(
            (F.col("a.cnt") == F.col("b.cnt"))
            & (F.col("a.rev_q") != F.col("b.rev_q")),
            1,
        )
        .otherwise(0)
        .alias("tx"),
        F.when(
            (F.col("a.rev_q") == F.col("b.rev_q"))
            & (F.col("a.cnt") != F.col("b.cnt")),
            1,
        )
        .otherwise(0)
        .alias("ty"),
    )
    return pairs.agg(
        F.sum("c").cast("bigint").alias("concordant"),
        F.sum("dd").cast("bigint").alias("discordant"),
        F.round(
            (F.sum("c").cast("double") - F.sum("dd"))
            / F.sqrt(
                (F.sum("c").cast("double") + F.sum("dd") + F.sum("tx"))
                * (F.sum("c").cast("double") + F.sum("dd") + F.sum("ty"))
            ),
            4,
        ).alias("tau_b"),
    )


# --------------------------------------------- page_hinkley_drift_daily

@register(
    "page_hinkley_drift_daily",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    cum AS (
        SELECT event_type, d, x,
               SUM(x) OVER (PARTITION BY event_type ORDER BY d) AS s,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
                   AS i
        FROM daily
    ),
    q AS (
        SELECT event_type, d,
               CAST(FLOOR((CAST(x AS DOUBLE)
                           - CAST(s AS DOUBLE) / i) * 1000000.0)
                    AS BIGINT) AS tq
        FROM cum
    ),
    m AS (
        SELECT event_type, d,
               SUM(tq) OVER (PARTITION BY event_type ORDER BY d) AS mt
        FROM q
    ),
    ph AS (
        SELECT event_type, d, mt,
               mt - MIN(mt) OVER (PARTITION BY event_type ORDER BY d)
                   AS ph_t
        FROM m
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(CAST(MAX(ph_t) AS DOUBLE) / 1000000.0, 4) AS ph_max,
           CAST(MAX(ph_t) > 50000000 AS BOOLEAN) AS drift_detected
    FROM ph
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def page_hinkley_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGE–HINKLEY DRIFT DETECTOR on daily event volume per type —
    the sequential change-point monitor next to `cusum_drift_daily`
    (CUSUM tracks deviation from a FIXED baseline mean; Page–Hinkley
    tracks deviation from the RUNNING mean, so it adapts to slow
    level shifts and fires only on abrupt ones): m_t = Σ(x_i −
    mean_i), PH_t = m_t − min_{i≤t} m_i, alert when PH exceeds λ
    (pinned at 50).

    Determinism: daily counts and cumulative sums are exact ints;
    the per-day term (x_i − S_i/i) is ONE IEEE division + subtraction
    on identical integers, floor-quantized to micro-units BEFORE the
    cumulative sum (the anova/chi-square quantize-before-sum move);
    the running min/max are order-fixed by the date window.

    Scale (100 TB): collapses to |types|x|days| rows map-side; the
    three windows share ONE (event_type, d) sort; at a billion days
    per key the same plan holds with range-partitioned windows."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    wo = Window.partitionBy("event_type").orderBy("d")
    cum = daily.select(
        "event_type",
        "d",
        "x",
        F.sum("x").over(wo).alias("s"),
        F.row_number().over(wo).alias("i"),
    )
    q = cum.select(
        "event_type",
        "d",
        F.floor(
            (
                F.col("x").cast("double")
                - F.col("s").cast("double") / F.col("i")
            )
            * F.lit(1000000.0)
        )
        .cast("bigint")
        .alias("tq"),
    )
    m = q.select(
        "event_type", "d", F.sum("tq").over(wo).alias("mt")
    )
    ph = m.select(
        "event_type",
        "d",
        (F.col("mt") - F.min("mt").over(wo)).alias("ph_t"),
    )
    return (
        ph.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.round(
                F.max("ph_t").cast("double") / F.lit(1000000.0), 4
            ).alias("ph_max"),
            (F.max("ph_t") > 50000000).alias("drift_detected"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------- dow_seasonal_backtest

@register(
    "dow_seasonal_backtest",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    idx AS (
        SELECT d, x,
               ROW_NUMBER() OVER (ORDER BY d) AS i,
               CAST((d - DATE '1970-01-01') AS BIGINT) % 7 AS dow
        FROM daily
    ),
    model AS (
        SELECT dow, CAST(SUM(x) AS BIGINT) AS sx,
               CAST(COUNT(*) AS BIGINT) AS nd
        FROM idx WHERE i <= 21 GROUP BY dow
    ),
    test AS (
        SELECT t.d, t.x,
               CAST(m.sx AS DOUBLE) / m.nd AS yhat
        FROM idx t JOIN model m ON m.dow = t.dow
        WHERE t.i > 21
    ),
    naive AS (
        SELECT CAST(SUM(x) AS BIGINT) * 1.0 / COUNT(*) AS mu
        FROM idx WHERE i <= 21
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test_days,
           ROUND(SUM(CAST(FLOOR(ABS(t.x - t.yhat) * 1000000.0)
                          AS BIGINT)) / 1000000.0 / COUNT(*), 4)
               AS mae_dow,
           ROUND(SUM(CAST(FLOOR(ABS(t.x - naive.mu) * 1000000.0)
                          AS BIGINT)) / 1000000.0 / COUNT(*), 4)
               AS mae_naive,
           ROUND(1.0 - SUM(CAST(FLOOR(ABS(t.x - t.yhat) * 1000000.0)
                                AS BIGINT)) * 1.0
                       / SUM(CAST(FLOOR(ABS(t.x - naive.mu)
                                        * 1000000.0) AS BIGINT)),
                 4) AS skill_vs_naive
    FROM test t CROSS JOIN naive
    """,
)
def dow_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAY-OF-WEEK SEASONAL FORECAST BACKTEST: fit per-weekday mean
    volume on the first 21 days, forecast the remaining days, score
    MAE out-of-sample against the flat-mean naive baseline (skill =
    1 − MAE_dow/MAE_naive) — the EVALUATION half `holt_linear_daily`
    and `seasonality_dow_hour` don't cover: those FIT models; this
    op holds data out and asks whether the seasonal structure
    actually predicts.

    Determinism: day-of-week via epoch-day % 7 (Spark's dayofweek()
    and DuckDB's disagree on week start — modulo arithmetic
    sidesteps the dialect); means are exact-integer ratios; each
    |error| is a fixed IEEE chain floor-quantized to micro-units
    BEFORE the sum (quantize-before-sum).

    Scale (100 TB): collapses to |days| rows map-side; the model is
    a 7-row broadcast; the backtest join is map-side against it."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    idx = daily.select(
        "d",
        "x",
        F.row_number().over(Window.orderBy("d")).alias("i"),
        (
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            % 7
        ).alias("dow"),
    )
    idx = idx.localCheckpoint(eager=True)  # tiny: |days| rows
    train = idx.filter(F.col("i") <= 21)
    model = train.groupBy("dow").agg(
        F.sum("x").cast("bigint").alias("sx"),
        F.count(F.lit(1)).cast("bigint").alias("nd"),
    )
    naive = train.agg(
        (F.sum("x").cast("bigint") * F.lit(1.0) / F.count(F.lit(1))).alias(
            "mu"
        )
    )
    test = (
        idx.filter(F.col("i") > 21)
        .join(F.broadcast(model), "dow")
        .crossJoin(F.broadcast(naive))
        .select(
            "x",
            (F.col("sx").cast("double") / F.col("nd")).alias("yhat"),
            "mu",
        )
    )
    e_dow = F.floor(
        F.abs(F.col("x") - F.col("yhat")) * F.lit(1000000.0)
    ).cast("bigint")
    e_naive = F.floor(
        F.abs(F.col("x") - F.col("mu")) * F.lit(1000000.0)
    ).cast("bigint")
    return test.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test_days"),
        F.round(
            F.sum(e_dow) / F.lit(1000000.0) / F.count(F.lit(1)), 4
        ).alias("mae_dow"),
        F.round(
            F.sum(e_naive) / F.lit(1000000.0) / F.count(F.lit(1)), 4
        ).alias("mae_naive"),
        F.round(
            F.lit(1.0) - F.sum(e_dow) * F.lit(1.0) / F.sum(e_naive), 4
        ).alias("skill_vs_naive"),
    )


# ------------------------------------------------------- ts_resample_ohlc

@register(
    "ts_resample_ohlc",
    oracle="""
    WITH e AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
               ts, event_id
        FROM events
    )
    SELECT d,
           CAST(FIRST(v ORDER BY ts, event_id) AS BIGINT) AS open_c,
           CAST(MAX(v) AS BIGINT) AS high_c,
           CAST(MIN(v) AS BIGINT) AS low_c,
           CAST(LAST(v ORDER BY ts, event_id) AS BIGINT) AS close_c,
           CAST(COUNT(*) AS BIGINT) AS volume,
           CAST(SUM(v) AS BIGINT) AS vsum_c
    FROM e GROUP BY d ORDER BY d
    """,
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAILY OHLC RESAMPLE of the event value stream — the canonical
    downsample for any tick-shaped series (finance bars, sensor
    rollups, metric pre-aggregation): per day, the first/highest/
    lowest/last value plus volume.  The shape `ts_gap_fill` and the
    anomaly ops consume when the raw stream is too big to window
    directly.

    Determinism: values quantize to cents BEFORE any aggregation;
    open/close are selected by the UNIQUE composite (ts, event_id)
    via min_by/max_by on a struct key (Spark) and FIRST/LAST with
    aggregate ORDER BY (DuckDB) — no ties possible, so both engines
    pick the same row.

    Scale (100 TB): ONE map-side-combinable groupBy(day) — min_by/
    max_by/min/max/count/sum all carry O(1) partial state per day, so
    the shuffle moves |days| x 6 registers, not the corpus; no
    window, no sort of the raw stream (the ORDER BY in the oracle is
    inside DuckDB's agg; Spark's min_by struct key does the same
    without sorting)."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        F.to_date("ts").alias("d"),
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "v"
        ),
        "ts",
        "event_id",
    )
    return (
        e.groupBy("d")
        .agg(
            F.expr("min_by(v, struct(ts, event_id))")
            .cast("bigint")
            .alias("open_c"),
            F.max("v").cast("bigint").alias("high_c"),
            F.min("v").cast("bigint").alias("low_c"),
            F.expr("max_by(v, struct(ts, event_id))")
            .cast("bigint")
            .alias("close_c"),
            F.count(F.lit(1)).cast("bigint").alias("volume"),
            F.sum("v").cast("bigint").alias("vsum_c"),
        )
        .orderBy("d")
    )


# ------------------------------------------------ velocity_acceleration_daily

@register(
    "velocity_acceleration_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    v AS (
        SELECT d, n,
               n - LAG(n) OVER (ORDER BY d) AS velocity
        FROM daily
    ),
    a AS (
        SELECT d, n, velocity,
               velocity - LAG(velocity) OVER (ORDER BY d) AS accel
        FROM v
    )
    SELECT d, n,
           CAST(velocity AS BIGINT) AS velocity,
           CAST(accel AS BIGINT) AS accel,
           CASE WHEN accel > 0 THEN 'speeding_up'
                WHEN accel < 0 THEN 'slowing_down'
                ELSE 'steady' END AS phase
    FROM a WHERE accel IS NOT NULL ORDER BY d
    """,
)
def velocity_acceleration_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST AND SECOND DISCRETE DIFFERENCES of daily event volume —
    velocity (day-over-day change) and acceleration (change of the
    change), the trend-inflection diagnostic sitting between
    `percent_change_wow` (relative velocity) and
    `changepoint_binseg_daily` (offline segmentation): acceleration
    flipping sign is the earliest online hint a trend is bending.

    Determinism: counts and differences are exact int64 end-to-end;
    the phase label is a three-way CASE on an exact integer.

    Scale (100 TB): the corpus collapses to |days| rows in one
    combinable groupBy; both LAG windows run over that day-bounded
    table (the global orderBy window is flat-class — |days| rows on
    one task, the `daily_autocorr_lag1` precedent)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.orderBy("d")
    v = daily.withColumn(
        "velocity", (F.col("n") - F.lag("n").over(w)).cast("bigint")
    )
    a = v.withColumn(
        "accel",
        (F.col("velocity") - F.lag("velocity").over(w)).cast("bigint"),
    )
    return (
        a.filter(F.col("accel").isNotNull())
        .select(
            "d",
            "n",
            "velocity",
            "accel",
            F.when(F.col("accel") > 0, "speeding_up")
            .when(F.col("accel") < 0, "slowing_down")
            .otherwise("steady")
            .alias("phase"),
        )
        .orderBy("d")
    )


# --------------------------------------------------- rolling_corr_pair_14d

@register(
    "rolling_corr_pair_14d",
    oracle="""
    WITH e AS (SELECT CAST(ts AS DATE) AS d, event_type FROM events
               WHERE event_type IN ('click', 'purchase')),
    b AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM e),
    days AS (SELECT CAST(unnest(generate_series(dmin, dmax,
                                                INTERVAL 1 DAY))
                         AS DATE) AS d
             FROM b),
    c AS (SELECT d,
                 CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT)
                     AS x,
                 CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT)
                     AS y
          FROM e GROUP BY d),
    dense AS (SELECT days.d,
                     COALESCE(c.x, 0) AS x, COALESCE(c.y, 0) AS y
              FROM days LEFT JOIN c USING (d)),
    roll AS (
        SELECT d, x, y,
               COUNT(*) OVER w AS k,
               SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
               SUM(x * y) OVER w AS sxy,
               SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy
        FROM dense
        WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT d, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
           ROUND(CAST(k * sxy - sx * sy AS DOUBLE)
                 / NULLIF(SQRT(CAST(k * sxx - sx * sx AS DOUBLE))
                          * SQRT(CAST(k * syy - sy * sy AS DOUBLE)), 0.0),
                 4) AS corr_14d
    FROM roll WHERE k >= 14 ORDER BY d
    """,
)
def rolling_corr_pair_14d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING 14-DAY PEARSON CORRELATION between the click and
    purchase daily volumes — the co-movement monitor next to
    `daily_autocorr_lag1` (self) and `cross_correlation_lagged`
    (whole-series, per-lag): a correlation that decays in the rolling
    window flags the two funnels decoupling in near-real-time.

    Determinism: the day grid is gap-filled DENSE (missing days count
    0, so both engines window the same row set); all five rolling
    moments are exact int64 window sums; r is ONE double closed form
    behind ROUND(4) with a NULLIF(.,0) guard for zero-variance
    windows (ansi-safe on Spark, inf-safe on DuckDB).

    Scale (100 TB): the corpus collapses to |days| rows first; the
    rolling frame is a ROWS window with O(1) sliding-accumulator
    state over the day-bounded table (flat class)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    e = ev.select(F.to_date("ts").alias("d"), "event_type")
    b = e.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    days = b.select(
        F.explode(F.sequence("dmin", "dmax")).alias("d")
    )
    c = e.groupBy("d").agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("bigint")
        .alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("y"),
    )
    dense = (
        days.join(c, "d", "left")
        .select(
            "d",
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    w = Window.orderBy("d").rowsBetween(-13, 0)
    roll = dense.select(
        "d",
        "x",
        "y",
        F.count(F.lit(1)).over(w).alias("k"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    num = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.nullif(
        F.sqrt(
            (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        )
        * F.sqrt(
            (F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                "double"
            )
        ),
        F.lit(0.0),
    )
    return (
        roll.filter(F.col("k") >= 14)
        .select("d", "x", "y", F.round(num / den, 4).alias("corr_14d"))
        .orderBy("d")
    )


# --------------------------------------------------------- mann_kendall_trend

@register(
    "mann_kendall_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN b.n > a.n THEN 1
                             WHEN b.n < a.n THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM daily a JOIN daily b ON b.d > a.d
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    ties AS (
        SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
                    AS BIGINT) AS tie_corr
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t
              FROM daily GROUP BY n HAVING COUNT(*) > 1)
    )
    SELECT s.s_stat, nn.n,
           ROUND((CAST(s.s_stat AS DOUBLE)
                  - CASE WHEN s.s_stat > 0 THEN 1
                         WHEN s.s_stat < 0 THEN -1 ELSE 0 END)
                 / SQRT((CAST(nn.n AS DOUBLE) * (nn.n - 1) * (2 * nn.n + 5)
                         - ties.tie_corr) / 18.0),
                 4) AS z_mk
    FROM s CROSS JOIN nn CROSS JOIN ties
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL TREND TEST on daily event volume (Mann 1945,
    Kendall 1975) — the rank-based monotone-trend detector that pairs
    with `theil_sen_daily_trend` (its canonical slope estimator): S =
    sum of sign(x_j - x_i) over all day pairs i < j, z from the
    tie-corrected variance.  Distribution-free where
    `daily_autocorr_lag1`'s Pearson machinery assumes linearity.

    Determinism: S and the tie correction are exact int64 (the pair
    sign sum is order-free); z is one shared continuity-corrected
    formula behind ROUND(4).

    Scale (100 TB): the corpus collapses to |days| rows FIRST; the
    O(|days|^2) pair join runs on the day-bounded table (~6.4k pairs
    for 80 days — flat class; at multi-year granularity switch to the
    O(n log n) inversion-count form, documented trade)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = daily.select(F.col("d").alias("da"), F.col("n").alias("na"))
    b = daily.select(F.col("d").alias("db"), F.col("n").alias("nb"))
    s = (
        a.join(b, F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("nb") > F.col("na"), 1)
                .when(F.col("nb") < F.col("na"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (
        daily.groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t")
                    * (F.col("t") - 1)
                    * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_corr")
        )
    )
    j = s.crossJoin(F.broadcast(nn)).crossJoin(F.broadcast(ties))
    cc = (
        F.when(F.col("s_stat") > 0, 1)
        .when(F.col("s_stat") < 0, -1)
        .otherwise(0)
    )
    z = (F.col("s_stat").cast("double") - cc) / F.sqrt(
        (
            F.col("n").cast("double")
            * (F.col("n") - 1)
            * (2 * F.col("n") + 5)
            - F.col("tie_corr")
        )
        / 18.0
    )
    return j.select("s_stat", "n", F.round(z, 4).alias("z_mk"))


# ---------------------------------------------------- win_range_interval_days

@register(
    "win_range_interval_days",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT event_type, d,
           CAST(SUM(v) OVER w AS BIGINT) AS v_7d,
           CAST(SUM(n) OVER w AS BIGINT) AS n_7d
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY d
                 RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
    ORDER BY event_type, d
    """,
)
def win_range_interval_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-RANGE WINDOW FRAME with a calendar INTERVAL bound —
    trailing 7-DAY value/count sums per arm via `RANGE BETWEEN
    INTERVAL 7 DAYS PRECEDING AND CURRENT ROW` — the VALUE-based
    frame over sparse daily data that a ROWS frame gets WRONG
    (`control_chart_bands`' ROWS 13 PRECEDING spans 14 rows, which is
    14 calendar days only when no day is missing; the RANGE INTERVAL
    frame spans exactly 8 calendar days regardless of gaps).
    `win_range_frame` is the epoch-seconds integer-range variant;
    this grades the calendar-interval SQL surface itself.

    Determinism: cents-exact int64 window sums; the frame bound is a
    calendar comparison both engines evaluate identically on DATE
    order (no gap-fill needed — that's the point).

    Scale (100 TB): one combinable (arm, day) collapse; the interval
    window runs on the day-bounded table partitioned by arm with a
    sliding accumulator."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(
            F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
        )
        .cast("bigint")
        .alias("v"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    daily.createOrReplaceTempView("_wri_daily")
    return spark.sql(
        """
        SELECT event_type, d,
               CAST(SUM(v) OVER w AS BIGINT) AS v_7d,
               CAST(SUM(n) OVER w AS BIGINT) AS n_7d
        FROM _wri_daily
        WINDOW w AS (PARTITION BY event_type ORDER BY CAST(d AS TIMESTAMP)
                     RANGE BETWEEN INTERVAL 7 DAYS PRECEDING
                           AND CURRENT ROW)
        ORDER BY event_type, d
        """
    )


# ------------------------------------------------ holt_winters_additive_daily

@register(
    "holt_winters_additive_daily",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT row_number() OVER (ORDER BY d) AS rn, d, x
        FROM (SELECT CAST(ts AS DATE) AS d,
                     CAST(COUNT(*) AS BIGINT) AS x
              FROM events GROUP BY 1)
    ),
    init AS (
        SELECT CAST((SELECT SUM(x) FROM daily WHERE rn <= 7)
                    * 1000000 // 7 AS BIGINT) AS l0
    ),
    r AS (
        SELECT CAST(7 AS BIGINT) AS rn,
               (SELECT d FROM daily WHERE rn = 7) AS d,
               (SELECT x FROM daily WHERE rn = 7) AS x,
               init.l0 AS l,
               CAST(0 AS BIGINT) AS b,
               list_transform(
                   (SELECT list(x ORDER BY rn) FROM daily
                    WHERE rn <= 7),
                   v -> v * 1000000 - init.l0) AS s,
               CAST(NULL AS BIGINT) AS fitted
        FROM init
        UNION ALL
        SELECT dd.rn, dd.d, dd.x,
               CAST(FLOOR((dd.x * 1000000
                           - r.s[CAST((dd.rn - 1) % 7 + 1 AS INT)]
                           + 3 * (r.l + r.b)) / 4.0) AS BIGINT),
               CAST(FLOOR((CAST(FLOOR((dd.x * 1000000
                           - r.s[CAST((dd.rn - 1) % 7 + 1 AS INT)]
                           + 3 * (r.l + r.b)) / 4.0) AS BIGINT)
                           - r.l + 3 * r.b) / 4.0) AS BIGINT),
               list_transform(range(1, 8),
                   i -> CASE WHEN i = CAST((dd.rn - 1) % 7 + 1 AS INT)
                        THEN CAST(FLOOR((dd.x * 1000000
                             - CAST(FLOOR((dd.x * 1000000
                                 - r.s[CAST((dd.rn - 1) % 7 + 1 AS INT)]
                                 + 3 * (r.l + r.b)) / 4.0) AS BIGINT)
                             + 3 * r.s[CAST((dd.rn - 1) % 7
                                            + 1 AS INT)]) / 4.0)
                             AS BIGINT)
                        ELSE r.s[CAST(i AS INT)] END),
               CAST(r.l + r.b
                    + r.s[CAST((dd.rn - 1) % 7 + 1 AS INT)] AS BIGINT)
        FROM r JOIN daily dd ON dd.rn = r.rn + 1
    )
    SELECT d, x AS cnt, l AS level_q, b AS trend_q,
           s[CAST((rn - 1) % 7 + 1 AS INT)] AS seasonal_q, fitted
    FROM r WHERE rn >= 8 ORDER BY d
    """,
)
def holt_winters_additive_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT-WINTERS ADDITIVE (triple exponential) smoothing of daily
    volume with a 7-slot weekly seasonal, alpha = beta = gamma = 1/4
    — the seasonality-aware rung past `holt_linear_daily` (which
    lags every weekend dip) and the forecasting complement to
    `seasonality_dow_hour` (which measures the pattern but doesn't
    track its drift).  Emits per day: level, trend, the active
    seasonal slot, and the one-step-ahead fitted value the state
    predicted BEFORE seeing the day (the backtest residual source).

    Determinism: the full recurrence runs in int64 micro-units;
    every /4 is floor-of-(int/4.0), a power-of-two division exact in
    double below 2^53 (the holt_linear precedent) — NOT `//`, whose
    DuckDB semantics truncate toward zero and diverge from Python
    floor on the NEGATIVE seasonal terms (-7//2 = -3
    in DuckDB, -4 in Python).  Init: l = 7-day mean (values
    nonnegative, // safe there), b = 0, s_i = x_i*1e6 - l.

    Scale (100 TB): corpus collapses map-side to |days| rows; the
    inherently sequential recurrence runs in ONE applyInPandas task
    over that tiny frame, with the recursive-CTE form as the oracle
    pinning both execution strategies equal."""
    import pandas as pd

    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .withColumn("rn", F.row_number().over(Window.orderBy("d")))
        .withColumn("g", F.lit(1))
        .select("g", "rn", "d", "x")
    )

    def _hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn").reset_index(drop=True)
        xs = [int(v) for v in pdf["x"].tolist()]
        n = len(xs)
        out = {"d": [], "cnt": [], "level_q": [], "trend_q": [],
               "seasonal_q": [], "fitted": []}
        if n < 8:
            return pd.DataFrame(out)
        l = sum(xs[:7]) * 1000000 // 7
        b = 0
        s = [x * 1000000 - l for x in xs[:7]]
        for t in range(8, n + 1):
            xq = xs[t - 1] * 1000000
            slot = (t - 1) % 7
            fitted = l + b + s[slot]
            l_new = (xq - s[slot] + 3 * (l + b)) // 4
            b_new = (l_new - l + 3 * b) // 4
            s[slot] = (xq - l_new + 3 * s[slot]) // 4
            l, b = l_new, b_new
            out["d"].append(pdf["d"].iloc[t - 1])
            out["cnt"].append(xs[t - 1])
            out["level_q"].append(l)
            out["trend_q"].append(b)
            out["seasonal_q"].append(s[slot])
            out["fitted"].append(fitted)
        return pd.DataFrame(out)

    res = daily.groupBy("g").applyInPandas(
        _hw,
        "d date, cnt bigint, level_q bigint, trend_q bigint,"
        " seasonal_q bigint, fitted bigint",
    )
    return res.orderBy("d")


# ------------------------------------------------------- rsi_indicator_daily

@register(
    "rsi_indicator_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    ),
    diffed AS (
        SELECT d, cnt,
               cnt - LAG(cnt) OVER (ORDER BY d) AS chg,
               ROW_NUMBER() OVER (ORDER BY d) AS rn
        FROM daily
    ),
    gl AS (
        SELECT d, cnt, rn,
               CASE WHEN chg > 0 THEN chg ELSE 0 END AS gain,
               CASE WHEN chg < 0 THEN -chg ELSE 0 END AS loss
        FROM diffed WHERE chg IS NOT NULL
    ),
    win AS (
        SELECT d, cnt,
               SUM(gain) OVER (ORDER BY d
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS g14,
               SUM(loss) OVER (ORDER BY d
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS l14,
               COUNT(*) OVER (ORDER BY d
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS nw
        FROM gl
    )
    SELECT d, cnt,
           ROUND(100.0 * g14 / NULLIF(g14 + l14, 0), 4) AS rsi14,
           CASE WHEN 100.0 * g14 / NULLIF(g14 + l14, 0) > 70 THEN 'overbought'
                WHEN 100.0 * g14 / NULLIF(g14 + l14, 0) < 30 THEN 'oversold'
                ELSE 'neutral' END AS zone
    FROM win WHERE nw = 14 ORDER BY d
    """,
)
def rsi_indicator_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELATIVE STRENGTH INDEX (Cutler's simple-average variant) over
    daily event volume: 14-day windowed sums of up-moves vs down-moves,
    RSI = 100·Σgain/(Σgain+Σloss), with the standard 70/30
    overbought/oversold zoning.  Cutler's SMA form is used instead of
    Wilder's recursive smoothing DELIBERATELY: the recurrence is an
    order-sensitive float fold (impossible to hash-verify and
    needlessly sequential), while windowed integer sums are exact and
    parallel — same determinism argument as `ewma_daily_volume`'s
    integer-weight unrolling.

    Determinism: daily counts and their diffs are int64; the 14-day
    gain/loss sums are exact integer arithmetic; the single final
    division is one IEEE op, ROUND(.,4); the zone CASE compares the
    same double both engines computed; NULLIF guards the flat-window
    0/0.

    Scale (100 TB): corpus collapses map-side to |days| rows; lag,
    windowed sums, and zoning are one pass over that tiny frame
    (single-partition by design, the `cusum_drift_daily` note)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.orderBy("d")
    diffed = daily.select(
        "d", "cnt", (F.col("cnt") - F.lag("cnt").over(w)).alias("chg")
    ).where(F.col("chg").isNotNull())
    gl = diffed.select(
        "d",
        "cnt",
        F.when(F.col("chg") > 0, F.col("chg")).otherwise(F.lit(0)).alias("gain"),
        F.when(F.col("chg") < 0, -F.col("chg")).otherwise(F.lit(0)).alias("loss"),
    )
    wf = Window.orderBy("d").rowsBetween(-13, 0)
    win = gl.select(
        "d",
        "cnt",
        F.sum("gain").over(wf).alias("g14"),
        F.sum("loss").over(wf).alias("l14"),
        F.count(F.lit(1)).over(wf).alias("nw"),
    ).where(F.col("nw") == 14)
    rsi = F.lit(100.0) * F.col("g14") / F.nullif(
        F.col("g14") + F.col("l14"), F.lit(0)
    )
    return win.select(
        "d",
        "cnt",
        F.round(rsi, 4).alias("rsi14"),
        F.when(rsi > 70, "overbought")
        .when(rsi < 30, "oversold")
        .otherwise("neutral")
        .alias("zone"),
    ).orderBy("d")


# ------------------------------------------------------ sma_crossover_signals

@register(
    "sma_crossover_signals",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    ),
    win AS (
        SELECT d, cnt,
               SUM(cnt) OVER (ORDER BY d
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS s5,
               SUM(cnt) OVER (ORDER BY d
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS s20,
               ROW_NUMBER() OVER (ORDER BY d) AS rn
        FROM daily
    ),
    flags AS (
        SELECT d, cnt, s5, s20,
               CASE WHEN s5 * 4 > s20 THEN 1 ELSE 0 END AS fast_above
        FROM win WHERE rn >= 20
    ),
    sig AS (
        SELECT d, cnt, s5, s20, fast_above,
               LAG(fast_above) OVER (ORDER BY d) AS prev_above
        FROM flags
    )
    SELECT d, cnt,
           ROUND(s5 / 5.0, 4) AS sma5,
           ROUND(s20 / 20.0, 4) AS sma20,
           CASE WHEN prev_above = 0 AND fast_above = 1 THEN 'golden_cross'
                WHEN prev_above = 1 AND fast_above = 0 THEN 'death_cross'
           END AS signal
    FROM sig
    WHERE (prev_above = 0 AND fast_above = 1)
       OR (prev_above = 1 AND fast_above = 0)
    ORDER BY d
    """,
)
def sma_crossover_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOVING-AVERAGE CROSSOVER DETECTION on daily event volume: the
    5-day SMA crossing the 20-day SMA from below emits `golden_cross`,
    from above `death_cross` — the canonical trend-change signal
    backtesting pipelines extract before any strategy evaluation.
    Only complete 20-day windows participate (rn >= 20).

    Determinism: the SMA comparison never divides — sma5 > sma20 ⟺
    s5·4 > s20 (integer cross-multiplication, the friedman-ranks
    cross-product rule: 5·20/LCM collapses to ×4 vs ×1); lag of the
    integer flag gives exact crossing detection; the two SMAs are
    rendered with ONE division each at output, ROUND(.,4).

    Scale (100 TB): map-side collapse to |days| rows, then one window
    pass (single-partition over the tiny daily frame)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.orderBy("d")
    win = daily.select(
        "d",
        "cnt",
        F.sum("cnt").over(w.rowsBetween(-4, 0)).alias("s5"),
        F.sum("cnt").over(w.rowsBetween(-19, 0)).alias("s20"),
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") >= 20)
    flags = win.select(
        "d",
        "cnt",
        "s5",
        "s20",
        F.when(F.col("s5") * 4 > F.col("s20"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("fast_above"),
    )
    sig = flags.withColumn("prev_above", F.lag("fast_above").over(w))
    cross_up = (F.col("prev_above") == 0) & (F.col("fast_above") == 1)
    cross_dn = (F.col("prev_above") == 1) & (F.col("fast_above") == 0)
    return (
        sig.where(cross_up | cross_dn)
        .select(
            "d",
            "cnt",
            F.round(F.col("s5") / F.lit(5.0), 4).alias("sma5"),
            F.round(F.col("s20") / F.lit(20.0), 4).alias("sma20"),
            F.when(cross_up, "golden_cross")
            .when(cross_dn, "death_cross")
            .alias("signal"),
        )
        .orderBy("d")
    )


# ----------------------------------------------------- bollinger_bands_daily

@register(
    "bollinger_bands_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    ),
    win AS (
        SELECT d, cnt,
               SUM(cnt) OVER (ORDER BY d
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS s,
               SUM(cnt * cnt) OVER (ORDER BY d
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS ss,
               COUNT(*) OVER (ORDER BY d
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS nw
        FROM daily
    )
    SELECT d, cnt,
           ROUND(s / 20.0, 4) AS mid,
           ROUND(s / 20.0 + 2.0 * SQRT((20 * ss - s * s) / (20.0 * 19.0)),
                 4) AS upper_band,
           ROUND(s / 20.0 - 2.0 * SQRT((20 * ss - s * s) / (20.0 * 19.0)),
                 4) AS lower_band,
           CASE WHEN cnt > s / 20.0
                         + 2.0 * SQRT((20 * ss - s * s) / (20.0 * 19.0))
                THEN 'above'
                WHEN cnt < s / 20.0
                         - 2.0 * SQRT((20 * ss - s * s) / (20.0 * 19.0))
                THEN 'below' ELSE 'inside' END AS breach
    FROM win WHERE nw = 20 ORDER BY d
    """,
)
def bollinger_bands_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOLLINGER BANDS on daily event volume: rolling 20-day mean ±
    2 sample standard deviations, with per-day breach zoning — the
    ROLLING volatility envelope, complementing `control_chart_bands`
    (which bands around the GLOBAL mean) and `anomaly_zscore_daily`
    (pointwise z against the full history).  Only complete 20-day
    windows emit.

    Determinism: the windowed sums s and ss are exact int64 (daily
    counts squared × 20 stay far under 2^63 at any plausible per-day
    volume); variance = (20·ss − s²)/(20·19) has an EXACT integer
    numerator, the division and sqrt are single correctly-rounded IEEE
    ops, and both engines evaluate the identical expression tree —
    the breach CASE therefore compares bit-identical doubles.

    Scale (100 TB): map-side collapse to |days| rows; one window pass
    over the tiny daily frame."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wf = Window.orderBy("d").rowsBetween(-19, 0)
    win = daily.select(
        "d",
        "cnt",
        F.sum("cnt").over(wf).alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).over(wf).alias("ss"),
        F.count(F.lit(1)).over(wf).alias("nw"),
    ).where(F.col("nw") == 20)
    mid = F.col("s") / F.lit(20.0)
    sd = F.sqrt(
        (F.lit(20) * F.col("ss") - F.col("s") * F.col("s"))
        / (F.lit(20.0) * F.lit(19.0))
    )
    upper = mid + F.lit(2.0) * sd
    lower = mid - F.lit(2.0) * sd
    return win.select(
        "d",
        "cnt",
        F.round(mid, 4).alias("mid"),
        F.round(upper, 4).alias("upper_band"),
        F.round(lower, 4).alias("lower_band"),
        F.when(F.col("cnt") > upper, "above")
        .when(F.col("cnt") < lower, "below")
        .otherwise("inside")
        .alias("breach"),
    ).orderBy("d")


# ----------------------------------------------------- mase_seasonal_naive

@register(
    "mase_seasonal_naive",
    oracle="""
    WITH daily AS (
        SELECT event_type AS g, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT g, d, cnt,
               LAG(cnt, 1) OVER (PARTITION BY g ORDER BY d) AS l1,
               LAG(cnt, 7) OVER (PARTITION BY g ORDER BY d) AS l7
        FROM daily
    )
    SELECT g,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(ABS(cnt - l1)) AS BIGINT) AS ae_naive1,
           CAST(SUM(ABS(cnt - l7)) AS BIGINT) AS ae_snaive7,
           ROUND(SUM(ABS(cnt - l7)) * 1.0
                 / NULLIF(SUM(ABS(cnt - l1)), 0), 4) AS mase
    FROM lagged WHERE l7 IS NOT NULL
    GROUP BY g ORDER BY g
    """,
)
def mase_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE-STYLE FORECAST-BASELINE COMPARISON per event type: the
    seasonal-naive forecast (x[d-7], "same weekday last week") scored
    against the naive-1 baseline (x[d-1]) on the shared scorable days —
    the scale-free first question of any forecasting effort ("does
    weekly seasonality beat persistence here?").  mase < 1 means the
    seasonal forecast's absolute error beats persistence.  Days are
    restricted to l7 IS NOT NULL so both baselines score the SAME day
    set (classic MASE denominators are in-sample naive-1 over all
    days; pinning one day set keeps the two sums directly comparable
    and integer-exact).

    Determinism: daily counts and lag diffs are int64; both absolute-
    error sums are exact integers; one final division, NULLIF-guarded,
    ROUND(.,4).

    Scale (100 TB): map-side collapse to |types|·|days| rows; lags ride
    windows PARTITIONED by event_type; the final agg is per-type."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("g"), F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w = Window.partitionBy("g").orderBy("d")
    lagged = daily.select(
        "g",
        "d",
        "cnt",
        F.lag("cnt", 1).over(w).alias("l1"),
        F.lag("cnt", 7).over(w).alias("l7"),
    ).where(F.col("l7").isNotNull())
    ae1 = F.sum(F.abs(F.col("cnt") - F.col("l1"))).cast("bigint")
    ae7 = F.sum(F.abs(F.col("cnt") - F.col("l7"))).cast("bigint")
    return (
        lagged.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scored"),
            ae1.alias("ae_naive1"),
            ae7.alias("ae_snaive7"),
            F.round(
                F.sum(F.abs(F.col("cnt") - F.col("l7")))
                * F.lit(1.0)
                / F.nullif(
                    F.sum(F.abs(F.col("cnt") - F.col("l1"))), F.lit(0)
                ),
                4,
            ).alias("mase"),
        )
        .orderBy("g")
    )


# ------------------------------------------------------ atr_range_volatility

@register(
    "atr_range_volatility",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(MAX(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS hi,
               CAST(MIN(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS lo
        FROM events GROUP BY 1
    ),
    tr AS (
        SELECT d, hi, lo,
               GREATEST(hi - lo,
                        ABS(hi - LAG(hi - (hi - lo)) OVER (ORDER BY d)),
                        ABS(lo - LAG(hi - (hi - lo)) OVER (ORDER BY d)))
                   AS true_range,
               LAG(hi) OVER (ORDER BY d) AS prev_hi
        FROM daily
    ),
    win AS (
        SELECT d, hi, lo, true_range,
               SUM(true_range) OVER (ORDER BY d
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS s14,
               COUNT(*) OVER (ORDER BY d
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS nw
        FROM tr WHERE prev_hi IS NOT NULL
    )
    SELECT d, hi, lo, CAST(true_range AS BIGINT) AS true_range,
           ROUND(s14 / 14.0 / 100.0, 4) AS atr14
    FROM win WHERE nw = 14 ORDER BY d
    """,
)
def atr_range_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVERAGE TRUE RANGE (Cutler-style SMA-14) of the daily event-value
    series: true range = max(high−low, |high−prev_close|,
    |low−prev_close|) where prev_close is proxied by the previous
    day's (high − range) = previous low... deliberately the WILDER
    textbook formula with prev_close := LAG(hi−(hi−lo)) = LAG(lo) —
    spelled that way in BOTH engines so the lag argument is the same
    expression tree.  ATR is the volatility denominator position
    sizing and anomaly thresholds divide by; pairs with
    `ts_resample_ohlc` (which builds the OHLC frame this op's hi/lo
    mirror).

    Determinism: values quantize to integer cents BEFORE max/min (the
    decimal-render rule); true range is integer GREATEST/ABS
    arithmetic; the 14-day sum is exact int64; one final division
    renders cents back to currency units, ROUND(.,4).

    Scale (100 TB): map-side collapse to |days| rows (max/min partial-
    aggregate); one window pass over the tiny daily frame."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.max(F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .alias("hi"),
        F.min(F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .alias("lo"),
    )
    w = Window.orderBy("d")
    prev_close = F.lag(F.col("hi") - (F.col("hi") - F.col("lo"))).over(w)
    tr = daily.select(
        "d",
        "hi",
        "lo",
        F.greatest(
            F.col("hi") - F.col("lo"),
            F.abs(F.col("hi") - prev_close),
            F.abs(F.col("lo") - prev_close),
        ).alias("true_range"),
        F.lag("hi").over(w).alias("prev_hi"),
    ).where(F.col("prev_hi").isNotNull())
    wf = Window.orderBy("d").rowsBetween(-13, 0)
    win = tr.select(
        "d",
        "hi",
        "lo",
        "true_range",
        F.sum("true_range").over(wf).alias("s14"),
        F.count(F.lit(1)).over(wf).alias("nw"),
    ).where(F.col("nw") == 14)
    return win.select(
        "d",
        "hi",
        "lo",
        F.col("true_range").cast("bigint").alias("true_range"),
        F.round(F.col("s14") / F.lit(14.0) / F.lit(100.0), 4).alias("atr14"),
    ).orderBy("d")
