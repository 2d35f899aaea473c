"""Window-function operators — SURVEY.md §2.E.

Reference parity: `win_rownum_dedup` IS migbq's BigQuery dedup repair —
after a retried load double-inserts a PK range, it keeps one row per PK
with `ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC) = 1`
(`[pub:H migbq/BigQueryForwarder.py]`, SURVEY §3.1 EP3).

Determinism: every window ORDER BY ends in a unique tiebreak
(event_id / o_orderkey / c_custkey), and every timestamp ordering is done
at µs precision on BOTH engines — the oracle casts ts inside the window's
ORDER BY, because ordering DuckDB's ns values while Spark orders µs
values could pick different survivors on µs ties.

Scale notes (100 TB): all partitioned windows are a single hash shuffle
on the partition key + an in-partition sort — the scalable shape.  The
two global windows (`win_ntile`, `sort_multi_key`) funnel into one
partition by definition; they are declared queries, not building blocks —
at scale you'd range-partition first (SortExec does) or bucket by an
ntile boundary lookup from a sampled quantile sketch
(approxQuantile), which is how `win_ntile`'s docstring says to scale it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from migbq_spark.catalog import load
from migbq_spark.common import dec
from migbq_spark.registry import register


@register(
    "win_rownum_dedup",
    oracle="""
    SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts
    FROM (SELECT user_id, event_type, event_id, ts,
                 ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def win_rownum_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """migbq's dedup-repair shape: deterministic keep-latest-one-per-key.
    (Never bare dropDuplicates — which row survives is nondeterministic.)"""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.asc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


@register(
    "win_rank_topk_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rnk
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rnk
          FROM orders)
    WHERE rnk <= 3
    """,
)
def win_rank_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — per-group top-k via row_number; at
    scale this is the shuffle-once alternative to a global sort."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


@register(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
           date_diff('microsecond',
                     LAG(CAST(ts AS TIMESTAMP)) OVER w,
                     CAST(ts AS TIMESTAMP)) AS gap_us,
           LEAD(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap (µs) + next event type — the
    sessionization input (§2.H `stream_session_window` builds on this)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev_ts = F.lag("ts").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DECIMAL(38,2)) AS running_spend
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer in date order (explicit ROWS frame)."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_day"),
        F.sum(dec("o_totalprice")).over(w).cast("decimal(38,2)")
        .cast("double").alias("running_spend"),
    )


@register(
    "win_ntile",
    oracle="""
    SELECT c_custkey, c_acctbal,
           NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
    FROM customer
    """,
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucket of customers by balance (total order w/ tiebreak).
    Global window — at 100 TB compute quartile boundaries with
    approxQuantile / percentile_approx and broadcast-join the bucket
    lookup instead of a single-partition NTILE."""
    c = load(spark, sf_dir, "customer")
    w = Window.orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_custkey", "c_acctbal", F.ntile(4).over(w).alias("quartile")
    )


@register(
    "win_first_last",
    oracle="""
    SELECT user_id, event_id,
           FIRST_VALUE(event_type) OVER w AS first_et,
           LAST_VALUE(event_type) OVER w AS last_et,
           NTH_VALUE(event_type, 2) OVER w AS second_et
    FROM (SELECT user_id, event_id, event_type,
                 CAST(ts AS TIMESTAMP) AS ts FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation over the full partition frame: each event annotated
    with its user's first / last / second event_type.  The explicit
    UNBOUNDED FOLLOWING frame matters — the default frame stops at
    CURRENT ROW, which silently turns LAST_VALUE into "current value"
    on both engines.  Unique (ts, event_id) order → deterministic."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.first("event_type").over(w).alias("first_et"),
        F.last("event_type").over(w).alias("last_et"),
        F.nth_value("event_type", 2).over(w).alias("second_et"),
    )


@register(
    "win_nth_value",
    oracle="""
    SELECT DISTINCT user_id,
           NTH_VALUE(event_id, 3) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS third_event_id
    FROM events
    """,
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user third event (`nth_value` over the full partition frame):
    the "what was the user's Nth action" question — onboarding analyses
    key on it.  The frame is explicitly unbounded-both-sides (default
    frames end at CURRENT ROW, where rows before the 3rd see NULL);
    ORDER BY carries the event_id tiebreak; DISTINCT collapses the
    per-row window output to one row per user (users with <3 events
    keep a NULL marker row).

    Scale (100 TB): one shuffle on user_id; an unbounded frame means
    one pass per partition with a 3-deep buffer, not a rescan."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return e.select(
        "user_id",
        F.nth_value("event_id", 3).over(w).alias("third_event_id"),
    ).distinct()


@register(
    "running_total_reset",
    oracle="""
    WITH f AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               CAST(value AS DECIMAL(18,2)) AS v,
               CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS rst
        FROM events
    ),
    g AS (
        SELECT user_id, event_id, us, v,
               SUM(rst) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS epoch
        FROM f
    )
    SELECT user_id, event_id, CAST(epoch AS BIGINT) AS epoch,
           CAST(SUM(v) OVER (PARTITION BY user_id, epoch
                             ORDER BY us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)
                AS DECIMAL(38,2)) AS run_since_signup
    FROM g
    """,
)
def running_total_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reset-able running accumulator: per-user cumulative value that
    restarts at every 'signup' event — the counter-with-reset pattern
    (spend since last login, usage since plan change) that a plain
    running SUM cannot express.  Two stacked windows on ONE partition
    key: a running count of reset markers defines the epoch, then the
    running DECIMAL sum partitions by (user, epoch).  Integer-µs
    ordering with event_id tiebreaks; DECIMAL accumulation is
    order-exact.

    Scale (100 TB): both windows and the epoch sub-partitioning reuse
    a single shuffle on user_id (epoch is a derived column, not a new
    distribution); state per partition is two running registers."""
    e = load(spark, sf_dir, "events")
    f = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.col("value").cast("decimal(18,2)").alias("v"),
        F.when(F.col("event_type") == "signup", 1).otherwise(0).alias("rst"),
    )
    w_epoch = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = f.withColumn("epoch", F.sum("rst").over(w_epoch))
    w_run = (
        Window.partitionBy("user_id", "epoch")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return g.select(
        "user_id",
        "event_id",
        "epoch",
        F.sum("v").over(w_run).cast("decimal(38,2)").cast("double")
        .alias("run_since_signup"),
    )


@register(
    "percent_of_total_window",
    oracle="""
    WITH g AS (
        SELECT event_type,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
                   AS type_sum
        FROM events GROUP BY event_type
    )
    SELECT event_type, type_sum,
           ROUND(CAST(type_sum AS DOUBLE)
                 / CAST(SUM(type_sum) OVER () AS DOUBLE), 4) AS share
    FROM g
    """,
)
def percent_of_total_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each group's share of the grand total via an
    unpartitioned empty-frame window over the ALREADY-AGGREGATED rollup
    — the share-of-wallet / mix-percentage report.  The window input is
    |groups| rows (never the fact table), numerator and denominator are
    exact DECIMAL sums, one rounded IEEE division per row.

    Scale (100 TB): the fact-table pass is one map-side-combinable
    aggregation; the OVER () total runs on the tiny rollup in a single
    task — the pattern that makes global-share windows scale is
    aggregating FIRST."""
    e = load(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("type_sum")
    )
    w = Window.partitionBy()
    return g.select(
        "event_type",
        F.col("type_sum").cast("double").alias("type_sum"),
        F.round(
            F.col("type_sum").cast("double")
            / F.sum("type_sum").over(w).cast("double"),
            4,
        ).alias("share"),
    )


@register(
    "win_ignore_nulls",
    oracle="""
    SELECT user_id, event_id,
           CAST(LAG(v IGNORE NULLS) OVER w AS DOUBLE) AS prev_reading,
           CAST(LEAD(v IGNORE NULLS) OVER w AS DOUBLE) AS next_reading,
           CAST(NTH_VALUE(v, 2 IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS second_reading
    FROM (SELECT user_id, event_id, ts,
                 CASE WHEN event_type = 'error' THEN NULL
                      ELSE CAST(value AS DECIMAL(18,2)) END AS v
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window navigation: previous/next non-null
    reading via LAG/LEAD IGNORE NULLS and the second-ever non-null via
    running-frame NTH_VALUE IGNORE NULLS — the §2.E completion beside
    `locf_impute`'s LAST_VALUE form (error events model NULL readings).
    DECIMAL pass-through (no arithmetic), one terminal double cast per
    column — hash-exact.

    Scale (100 TB): one shuffle on user_id shared by all three
    functions (identical window spec ⇒ single Exchange + sort); IGNORE
    NULLS keeps one extra carried register per function, independent of
    series length."""
    ev = load(spark, sf_dir, "events")
    ev.createOrReplaceTempView("mq_events_ign")
    return spark.sql(
        """
        SELECT user_id, event_id,
               CAST(LAG(v) IGNORE NULLS OVER w AS DOUBLE) AS prev_reading,
               CAST(LEAD(v) IGNORE NULLS OVER w AS DOUBLE) AS next_reading,
               CAST(NTH_VALUE(v, 2) IGNORE NULLS
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                   AS second_reading
        FROM (SELECT user_id, event_id, ts,
                     CASE WHEN event_type = 'error' THEN NULL
                          ELSE CAST(value AS DECIMAL(18,2)) END AS v
              FROM mq_events_ign)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """
    )


# ------------------------------------------------------ session_window_batch

@register(
    "session_window_batch",
    oracle="""
    WITH e AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         >= INTERVAL 30 MINUTE
                         OR LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events WHERE user_id % 13 = 0
    ),
    s AS (
        SELECT user_id,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sess_id
        FROM e
    ),
    per_sess AS (
        SELECT user_id, sess_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM s GROUP BY user_id, sess_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(MAX(n) AS BIGINT) AS max_session_events
    FROM per_sess GROUP BY user_id ORDER BY user_id
    """,
)
def session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION_WINDOW IN BATCH MODE — Spark's built-in dynamic-gap
    session assignment (`F.session_window(ts, '30 minutes')`) run on
    a static table and graded against the manual LAG-island
    sessionization (`sessionize_gaps`' shape) as the oracle: the two
    must agree EXACTLY (a session extends while consecutive events
    are < gap apart; a >= gap step starts a new one), which pins the
    boundary semantics of the API (strict-less merge) — the subtle
    off-by-one that silently shifts session counts if assumed wrong.

    Determinism: session membership is gap-arithmetic on timestamps;
    counts exact int64.

    Scale (100 TB): ONE shuffle on user_id; session_window merges
    in-partition after the sort (same cost shape as the manual
    two-window form but one window pass fewer); the per-user rollup
    reuses the partitioning."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") % 13 == 0)
    per_sess = (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return (
        per_sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("n").cast("bigint").alias("n_events"),
            F.max("n").cast("bigint").alias("max_session_events"),
        )
        .orderBy("user_id")
    )
