"""Aggregation operators — SURVEY.md §2.D.

Reference parity: `agg_pk_bounds` is migbq's first query per table
(SELECT MIN(pk),MAX(pk),COUNT(*) — `[pub:H migbq/MsSqlDatasource.py]`,
SURVEY §3.1); `agg_having_dups` is its post-retry duplicate-PK probe and
`agg_day_counts` its per-day `check` reconciliation count
(`[pub:H migbq/BigQueryForwarder.py]`).  The rest is engine-core
aggregation surface.

Scale notes (100 TB): every groupBy here compiles to partial (map-side)
+ final hash aggregation — one shuffle on the group keys, no driver-side
work.  Group-key cardinality is tiny (flags, types, days), so the reduce
side is trivially balanced; AQE coalesces the post-shuffle partitions.
DECIMAL sums are exact and order-independent, which is also what makes
them safe under any degree of parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from migbq_spark.catalog import load
from migbq_spark.common import DEC, cents, dec, md5_int, scaled_sum_agg
from migbq_spark.registry import register


@register(
    "agg_pk_bounds",
    oracle="""
    SELECT MIN(o_orderkey) AS pk_min, MAX(o_orderkey) AS pk_max,
           COUNT(*) AS cnt
    FROM orders
    """,
)
def agg_pk_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """migbq's table-bounds probe, the first query of every migration run."""
    return load(spark, sf_dir, "orders").agg(
        F.min("o_orderkey").alias("pk_min"),
        F.max("o_orderkey").alias("pk_max"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "agg_groupby_sum",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_base_price,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                         AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sum_disc_price,
           CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                              AS DECIMAL(18,4))
                         * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))
                         AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP (TPC-H Q1 shape): per (returnflag, linestatus) money sums.

    Money semantics are DECIMAL end-to-end — per-row DECIMAL(18,2)
    rounding, exact lossless products (2dp×2dp→4dp, ×2dp→6dp), exact
    order-independent sums — so Spark and DuckDB agree bit-for-bit
    regardless of partitioning/add order (SURVEY §7.4.1).  The sums are
    EXECUTED as two-level scaled-int64 accumulation
    (common.scaled_sum_agg): numerically identical, int64-adder speed,
    overflow-safe at any total via the DECIMAL(38) merge level.
    """
    li = load(spark, sf_dir, "lineitem")
    # Scaled-int64 formulation of the decimal math (common.scaled_sum_agg):
    # cents products compose exactly — (ep·100)·(100−disc·100) is the
    # unscaled value of the DECIMAL(18,4) disc_price, etc.  Numerically
    # identical to decimal SUMs, ~1.4× faster (no BigDecimal boxing).
    hundred = F.lit(100).cast("long")
    qty_c = cents("l_quantity")
    ep_c = cents("l_extendedprice")
    dp_e4 = ep_c * (hundred - cents("l_discount"))
    ch_e6 = dp_e4 * (hundred + cents("l_tax"))
    return scaled_sum_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            ("sum_qty", qty_c, 2),
            ("sum_base_price", ep_c, 2),
            ("sum_disc_price", dp_e4, 4),
            ("sum_charge", ch_e6, 6),
        ],
        count_alias="count_order",
    )


@register(
    "agg_avg_decimal",
    oracle="""
    SELECT c_mktsegment,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_bal,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def agg_avg_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG in its bit-stable form: exact decimal SUM, then a single IEEE
    double division — identical bits on any engine (decimal division would
    engage engine-specific scale/rounding rules instead)."""
    c = load(spark, sf_dir, "customer")
    sum_bal = F.sum(dec("c_acctbal"))
    cnt = F.count(F.lit(1))
    return c.groupBy("c_mktsegment").agg(
        sum_bal.cast("decimal(38,2)").cast("double").alias("sum_bal"),
        cnt.alias("cnt"),
        (sum_bal.cast("double") / cnt).alias("avg_bal"),
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register("agg_approx_distinct")  # rows-only: HLL estimates differ per engine
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB form of
    `agg_count_distinct`: no exact-distinct shuffle explosion, fixed-size
    sketch per group, mergeable map-side."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


@register(
    "agg_having_dups",
    oracle="""
    SELECT user_id, COUNT(*) AS cnt
    FROM events
    GROUP BY user_id
    HAVING COUNT(*) > 10
    """,
)
def agg_having_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """migbq's duplicate-PK probe shape: GROUP BY key HAVING COUNT(*)>N."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 10)
    )


@register(
    "agg_day_counts",
    oracle="""
    SELECT CAST(o_orderdate AS DATE) AS order_day, COUNT(*) AS cnt
    FROM orders
    GROUP BY CAST(o_orderdate AS DATE)
    """,
)
def agg_day_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """migbq `check`: per-day row counts (BQ side grouped by _PARTITIONTIME)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy(F.to_date("o_orderdate").alias("order_day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # terminal double: driver hashes pandas frames where DuckDB DECIMAL
    # arrives as float64 — the exact decimal sum gets ONE final rounding
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_quantity")).cast("decimal(38,2)").cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    o.createOrReplaceTempView("mq_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
                    AS DOUBLE) AS sum_price
        FROM mq_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


@register("agg_approx_percentile")  # rows-only: sketch estimates are engine-specific
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles: `approx_percentile` (KLL-style, single
    pass, mergeable partials) — the 100 TB twin of the exact-sort
    `agg_percentile`.  Estimates are engine-specific (rows-only check);
    tests pin the estimate against the exact percentile within the
    sketch's accuracy bound."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("p50_approx"),
        F.expr("approx_percentile(value, 0.99, 10000)").alias("p99_approx"),
    )


@register(
    "corr_moments",
    oracle="""
    WITH s AS (
        SELECT event_type,
               COUNT(*) AS n,
               SUM(CAST(value AS DECIMAL(18,4))) AS sx,
               SUM(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS DECIMAL(18,0)))
                   AS sy,
               SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
                   AS sxx,
               SUM(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS DECIMAL(18,0))
                   * CAST(regexp_extract(props, '"k": (\\d+)', 1) AS DECIMAL(18,0)))
                   AS syy,
               SUM(CAST(value AS DECIMAL(18,4))
                   * CAST(regexp_extract(props, '"k": (\\d+)', 1) AS DECIMAL(18,0)))
                   AS sxy
        FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 4) AS corr_vk
    FROM s
    """,
)
def corr_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between `value` and the JSON-extracted `k`,
    per event_type, via exact decimal power sums — the two-variable
    extension of `agg_stats_moments`.  Never hash-check Spark's
    `corr()` against another engine: its streaming co-moment update
    order is engine-specific; exact sums + one identical double
    expression are bit-stable."""
    e = load(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(18,4)")
    y = F.regexp_extract("props", '"k": (\\d+)', 1).cast("decimal(18,0)")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return s.select("event_type", "n", F.round(corr, 4).alias("corr_vk"))


@register(
    "agg_max_by_struct",
    oracle="""
    SELECT o_orderstatus, o_orderkey AS top_orderkey,
           CAST(o_totalprice AS DECIMAL(18,2)) AS top_price
    FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                    ORDER BY o_totalprice DESC,
                                             o_orderkey DESC) AS rn
          FROM orders)
    WHERE rn = 1
    """,
)
def agg_max_by_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARG-MAX per group without a window: `max(struct(price, key))`
    selects the lexicographic maximum in ONE aggregation — price ties
    broken by the unique key, so the answer is deterministic where a
    bare `max_by(key, price)` would not be.  One partial+final agg
    carrying a single struct per group — strictly cheaper than the
    window formulation (which must sort every group) at any scale; the
    oracle uses the window form precisely because ANSI SQL lacks
    struct-ordered aggregates."""
    o = load(spark, sf_dir, "orders")
    top = F.max(
        F.struct(
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
            F.col("o_orderkey").alias("k"),
        )
    )
    return o.groupBy("o_orderstatus").agg(
        top.getField("k").alias("top_orderkey"),
        top.getField("p").cast("double").alias("top_price"),
    )


@register(
    "agg_bool_flags",
    oracle="""
    SELECT event_type,
           bool_and(value > 10) AS all_gt10,
           bool_or(value > 190) AS any_gt190,
           CAST(count_if(value > 100) AS BIGINT) AS n_gt100
    FROM events GROUP BY event_type
    """,
)
def agg_bool_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregates: bool_and / bool_or / count_if —
    predicate rollups (data-quality gates: "did EVERY row pass",
    "did ANY row trip the alarm").  Partial-aggregable single bits —
    the cheapest aggregation there is at any scale."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.bool_and(F.col("value") > 10).alias("all_gt10"),
        F.bool_or(F.col("value") > 190).alias("any_gt190"),
        F.count_if(F.col("value") > 100).alias("n_gt100"),
    )


@register(
    "array_agg_sorted",
    oracle="""
    SELECT user_id,
           array_to_string(list(DISTINCT event_type ORDER BY event_type),
                           ',') AS types_seen,
           CAST(len(list(DISTINCT event_type ORDER BY event_type))
                AS BIGINT) AS n_types
    FROM events GROUP BY user_id
    """,
)
def array_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic array aggregation: the distinct set collected then
    SORTED — `collect_set` alone has engine/partition-dependent order
    and must never be hash-checked bare; `sort_array` restores a
    canonical form (SURVEY.md §7.4.2 applied to arrays).  The sorted
    list is RENDERED as a ','-joined string: a bare array column crashes
    the driver's pandas canonicalizer (unhashable ndarray), and the
    join is lossless given sorted distinct members."""
    e = load(spark, sf_dir, "events")
    types = F.array_sort(F.collect_set("event_type"))
    return e.groupBy("user_id").agg(
        F.array_join(types, ",").alias("types_seen"),
        F.size(types).cast("bigint").alias("n_types"),
    )


@register(
    "agg_skew_twophase",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
               AS sum_value
    FROM events GROUP BY event_type
    """,
)
def agg_skew_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit two-phase (salted) aggregation for skewed keys: phase 1
    aggregates per (key, salt=pk%16) so a hot key's rows spread over 16
    reducers, phase 2 folds the 16 partials per key.  Numerically exact
    — COUNT and DECIMAL SUM are associative — so it hash-checks against
    the plain GROUP BY.

    Spark's partial aggregation already does this map-side when
    upstream partitioning is random; the EXPLICIT salt matters when the
    input arrives pre-partitioned BY the hot key (e.g. read back from a
    key-partitioned sink), where map-side combine can't spread it.

    Scale (100 TB): phase-1 output is |keys|×16 rows regardless of
    input size; the hottest reducer processes 1/16th of the hottest
    key.  Salt width scales with observed skew; AQE's skew handling
    does the same re-split at runtime for joins."""
    ev = load(spark, sf_dir, "events")
    partial = ev.groupBy(
        "event_type", F.pmod("event_id", F.lit(16)).alias("salt")
    ).agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(dec("value")).alias("psum"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.sum("psum").cast("decimal(38,2)").cast("double").alias("sum_value"),
    )


@register(
    "robust_median_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS m
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           ROUND(med.m, 4) AS median_value,
           ROUND(quantile_cont(abs(e.value - med.m), 0.5), 4) AS mad
    FROM events e JOIN med USING (event_type)
    GROUP BY e.event_type, med.m
    """,
)
def robust_median_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion stats: per-type median and median absolute
    deviation (MAD) — the outlier-resistant alternative to mean/stddev
    for data-quality gates (stddev is dominated by the very outliers a
    gate should catch).  Two-pass: exact interpolated median per group,
    broadcast back, median of absolute deviations (Spark `percentile`
    ≡ DuckDB `quantile_cont`, cf. agg_percentile); 4-dp rounded,
    float-sensitive.

    Scale (100 TB): pass 1's output is |types| rows (broadcast); each
    pass is one per-group exact percentile — a per-group sort.  At
    extreme group sizes swap both for `approx_percentile` sketches and
    accept rows-only checking."""
    e = load(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("m")
    )
    return (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "m")
        .agg(
            F.round(F.expr("percentile(abs(value - m), 0.5)"), 4).alias("mad")
        )
        .select(
            "event_type",
            F.round("m", 4).alias("median_value"),
            "mad",
        )
    )


@register(
    "quantile_bucket_features",
    oracle="""
    WITH q AS (
        SELECT event_type,
               quantile_cont(value, 0.25) AS q1,
               quantile_cont(value, 0.50) AS q2,
               quantile_cont(value, 0.75) AS q3
        FROM events GROUP BY event_type
    ),
    b AS (
        SELECT e.event_type,
               CASE WHEN e.value <= q.q1 THEN 1
                    WHEN e.value <= q.q2 THEN 2
                    WHEN e.value <= q.q3 THEN 3
                    ELSE 4 END AS bucket
        FROM events e JOIN q USING (event_type)
    )
    SELECT event_type, bucket, COUNT(*) AS n
    FROM b GROUP BY event_type, bucket
    """,
)
def quantile_bucket_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-bucket feature discretization: per-type exact quartile
    boundaries (pass 1, broadcast) assign each value its bucket 1–4
    (pass 2) — the equal-frequency binning that turns a skewed numeric
    feature into a balanced categorical one.  Bucket counts are the
    audit.  Values exactly ON an interpolated boundary only occur when
    the quantile index lands on a data point — then both engines carry
    the identical double and bucket it identically; off-boundary values
    are insensitive to last-ulp quantile differences because the
    nearest data value is far relative to one ulp.

    Scale (100 TB): boundaries are |types|×3 doubles (broadcast); the
    bucketing pass is row-local; counts collapse map-side.  At extreme
    group sizes compute pass 1 with `approx_percentile` and re-audit."""
    e = load(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.50)").alias("q2"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    bucket = (
        F.when(F.col("value") <= F.col("q1"), 1)
        .when(F.col("value") <= F.col("q2"), 2)
        .when(F.col("value") <= F.col("q3"), 3)
        .otherwise(4)
    )
    return (
        e.join(F.broadcast(q), "event_type")
        .select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "rollup_grouping_id",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
           CASE GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                WHEN 0 THEN 'detail' WHEN 1 THEN 'flag_subtotal'
                ELSE 'grand_total' END AS level_label,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING-id labels: subtotal rows carry an explicit
    aggregation-level marker, so a NULL group key is distinguishable
    from a NULL-valued key — the disambiguation every BI consumer of
    rollup output needs (`agg_rollup` alone can't tell "subtotal over
    flags" from "flag IS NULL").  `grouping_id()` ≡ DuckDB's
    GROUPING()-bit arithmetic.

    Scale (100 TB): same single-pass rollup as agg_rollup — Spark
    expands grouping sets map-side, partials stay combinable."""
    li = load(spark, sf_dir, "lineitem")
    gid = F.grouping_id()
    label = (
        F.when(gid == 0, "detail")
        .when(gid == 1, "flag_subtotal")
        .otherwise("grand_total")
    )
    return li.rollup("l_returnflag", "l_linestatus").agg(
        gid.alias("gid"),
        label.alias("level_label"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_quantity AS DECIMAL(18,2)))
                AS DECIMAL(38,4)) AS weighted_sum,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                AS DECIMAL(38,2)) AS total_weight,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),
                 4) AS weighted_avg
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted average (price weighted by quantity): numerator
    and denominator are DECIMAL sums — associative, engine-exact — with
    ONE final IEEE division rounded to 4 dp.  Never compute a weighted
    mean as AVG of ratios or with float accumulators: both are
    accumulation-order-dependent and simply wrong under reweighting.

    Scale (100 TB): a single map-side-combinable aggregation; the
    decimal×decimal products stay in unscaled-long codegen until the
    final merge (cf. common.scaled_sum_agg for the two-level variant
    when the product width risks BigDecimal boxing)."""
    li = load(spark, sf_dir, "lineitem")
    wsum = F.sum(dec("l_extendedprice") * dec("l_quantity")).cast(
        "decimal(38,4)"
    )
    wtot = F.sum(dec("l_quantity")).cast("decimal(38,2)")
    return li.groupBy("l_returnflag").agg(
        wsum.cast("double").alias("weighted_sum"),
        wtot.cast("double").alias("total_weight"),
        F.round(
            wsum.cast("double") / wtot.cast("double"), 4
        ).alias("weighted_avg"),
    )


@register(
    "outlier_iqr_bounds",
    oracle="""
    WITH q AS (
        SELECT event_type,
               quantile_cont(value, 0.25) AS q1,
               quantile_cont(value, 0.75) AS q3
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           ROUND(q.q1, 4) AS q1, ROUND(q.q3, 4) AS q3,
           ROUND(q.q1 - 1.5 * (q.q3 - q.q1), 4) AS lo_fence,
           ROUND(q.q3 + 1.5 * (q.q3 - q.q1), 4) AS hi_fence,
           CAST(SUM(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                           OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           COUNT(*) AS n
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type, q.q1, q.q3
    """,
)
def outlier_iqr_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR outlier gate: per-type quartiles, 1.5×IQR fences, and
    the count of values outside them — the robust outlier screen run
    before a column is admitted as a training feature (pairs with
    robust_median_mad; both ignore the outliers a stddev gate is
    dominated by).  Two-pass broadcast-quartiles pattern
    (quantile_bucket_features); fences are identical double arithmetic
    on identical quartiles, so the flag counts agree — values exactly
    ON a derived fence would be the only divergence risk (none in the
    fixture; float-sensitive per SURVEY §7.4).

    Scale (100 TB): pass 1 output is |types|×2 doubles (broadcast);
    the flagging pass is row-local with a map-side-combinable count."""
    e = load(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo = F.col("q1") - 1.5 * iqr
    hi = F.col("q3") + 1.5 * iqr
    flagged = e.join(F.broadcast(q), "event_type")
    return flagged.groupBy("event_type", "q1", "q3").agg(
        F.sum(
            F.when((F.col("value") < lo) | (F.col("value") > hi), 1).otherwise(0)
        ).alias("n_outliers"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "event_type",
        F.round("q1", 4).alias("q1"),
        F.round("q3", 4).alias("q3"),
        F.round(lo, 4).alias("lo_fence"),
        F.round(hi, 4).alias("hi_fence"),
        "n_outliers",
        "n",
    )


@register(
    "ab_test_welch",
    oracle="""
    WITH g AS (
        SELECT CASE WHEN event_type = 'click' THEN 'A' ELSE 'B' END AS grp,
               CAST(value AS DECIMAL(18,2)) AS v
        FROM events WHERE event_type IN ('click', 'view')
    ),
    stats AS (
        SELECT grp, COUNT(*) AS n,
               CAST(SUM(v) AS DOUBLE) AS s1,
               CAST(SUM(v * v) AS DOUBLE) AS s2
        FROM g GROUP BY grp
    ),
    m AS (
        SELECT grp, n, s1 / n AS mean,
               (s2 - s1 * s1 / n) / (n - 1) AS var
        FROM stats
    )
    SELECT a.n AS n_a, b.n AS n_b,
           ROUND(a.mean, 4) AS mean_a, ROUND(b.mean, 4) AS mean_b,
           ROUND((a.mean - b.mean)
                 / sqrt(a.var / a.n + b.var / b.n), 4) AS t_stat
    FROM m a JOIN m b ON a.grp = 'A' AND b.grp = 'B'
    """,
)
def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-statistic between two cohorts (click vs view values) —
    the A/B-test primitive a data platform evaluates experiments with.
    Sums and sums-of-squares accumulate as exact DECIMALs, converted to
    double ONCE; mean/variance/t are then a fixed sequence of IEEE ops
    on identical inputs (4-dp rounded, float-sensitive).  The same
    moments pattern as corr_moments — never stream floats through a
    variance accumulator when cross-engine equality matters.

    Scale (100 TB): two map-side-combinable aggregations (one per
    cohort in the same pass); the t computation is a 2-row join."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    v = F.col("value").cast("decimal(18,2)")
    g = e.select(
        F.when(F.col("event_type") == "click", "A").otherwise("B").alias("grp"),
        v.alias("v"),
    )
    stats = g.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("double").alias("s1"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("s2"),
    )
    m = stats.select(
        "grp",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
         / (F.col("n") - 1)).alias("var"),
    )
    a = m.filter(F.col("grp") == "A").select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = m.filter(F.col("grp") == "B").select(
        F.col("n").alias("n_b"), F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    return a.crossJoin(b).select(
        "n_a",
        "n_b",
        F.round("mean_a", 4).alias("mean_a"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round(
            (F.col("mean_a") - F.col("mean_b"))
            / F.sqrt(F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")),
            4,
        ).alias("t_stat"),
    )


@register(
    "agg_mode_per_key",
    oracle="""
    WITH counts AS (
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events GROUP BY user_id, event_type
    ),
    ranked AS (
        SELECT user_id, event_type, cnt,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY cnt DESC, event_type) AS rk,
               COUNT(*) OVER (PARTITION BY user_id) AS n_types,
               SUM(cnt) OVER (PARTITION BY user_id) AS n_events
        FROM counts
    )
    SELECT user_id, event_type AS mode_event_type, cnt AS mode_count,
           n_types, CAST(n_events AS BIGINT) AS n_events
    FROM ranked WHERE rk = 1
    """,
)
def agg_mode_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key MODE (most frequent value) with a DETERMINISTIC
    tie-break — the aggregate SQL's own `mode()` leaves tie-order
    undefined, so both engines compute it the explicit portable way:
    count per (key, value), then rank (count DESC, value ASC) and keep
    rank 1, alongside the key's distinct-value and total-event counts.
    The per-user dominant event type is the canonical segmentation
    input (`rfm_segmentation`'s frequency axis gets a WHAT, not just a
    how-often).

    Scale (100 TB): the pair count is map-side combinable; the window
    runs over the COUNTED pairs (|users|·|event types|, vastly smaller
    than the event stream), partitioned by user — no skew beyond the
    type-cardinality bound."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_rk = Window.partitionBy("user_id").orderBy(
        F.desc("cnt"), F.asc("event_type")
    )
    w_all = Window.partitionBy("user_id")
    ranked = counts.select(
        "user_id",
        "event_type",
        "cnt",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n_types"),
        F.sum("cnt").over(w_all).cast("bigint").alias("n_events"),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "user_id",
        F.col("event_type").alias("mode_event_type"),
        F.col("cnt").alias("mode_count"),
        "n_types",
        "n_events",
    )


_KS_W = 1 << 20  # ECDF bucket width in value micro-units


@register(
    "ks_test_two_sample",
    oracle=f"""
    WITH s AS (
        SELECT CAST(FLOOR(value * 1000000.0) AS BIGINT) AS vq,
               event_type = 'click' AS is_a
        FROM events
        WHERE event_type IN ('click', 'view')
    ),
    n AS (
        SELECT CAST(COUNT(*) FILTER (is_a) AS BIGINT) AS n_a,
               CAST(COUNT(*) FILTER (NOT is_a) AS BIGINT) AS n_b
        FROM s
    ),
    pts AS (
        SELECT vq,
               COUNT(*) FILTER (is_a) AS ca,
               COUNT(*) FILTER (NOT is_a) AS cb
        FROM s GROUP BY vq
    ),
    cum AS (
        SELECT SUM(ca) OVER (ORDER BY vq) AS cca,
               SUM(cb) OVER (ORDER BY vq) AS ccb
        FROM pts
    ),
    d AS (
        SELECT MAX(abs(cca * (SELECT n_b FROM n)
                       - ccb * (SELECT n_a FROM n))) AS dnum
        FROM cum
    )
    SELECT n.n_a, n.n_b,
           ROUND(d.dnum * 1.0 / (n.n_a * n.n_b), 4) AS d_stat,
           d.dnum * 1.0 / (n.n_a * n.n_b)
               > 1.358 * sqrt((n.n_a + n.n_b) * 1.0 / (n.n_a * n.n_b))
               AS reject_05
    FROM d CROSS JOIN n
    """,
)
def ks_test_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-SAMPLE KOLMOGOROV–SMIRNOV TEST: the maximum ECDF gap between
    the `click` and `view` event-value distributions, with the
    alpha=0.05 large-sample rejection decision — the DISTRIBUTION-shape
    drift test that complements `ab_test_welch` (means only) and
    `distribution_drift`/`kl_divergence_drift` (binned divergences):
    KS is binning-free and its statistic is exactly rational here, so
    the decision cannot float-diverge.

    Exactness: values quantize to int64 micro-units; the ECDF gap
    compares c_a·n_b vs c_b·n_a as INTEGERS (cross-multiplied — no
    per-point division), and only the final reported statistic divides.

    Scale (100 TB): the textbook formulation sorts all n values — a
    single global window, the single-partition trap SCALE.md §2 warns
    about.  Here the exact cumulative counts come from BUCKET-PREFIX
    DECOMPOSITION: (1) one partial-aggregated groupBy to distinct
    value points, (2) per-bucket totals (vq div 2^20 — a few hundred
    rows) whose exclusive prefix sums AND grand totals are windows
    over that tiny frame, broadcast back, (3) a window PARTITIONED by
    bucket adds within-bucket cumsums to the offsets — the widest sort
    is within one bucket, never global.  Catalyst derives the point
    aggregate twice (the offsets branch re-plans it; no cross-branch
    subtree sharing) — both derivations scan only (event_type, value)
    post-pruning, and a production run persists the point frame to
    make it one pass.  Production also picks the bucket width from an
    approx min/max pre-pass; the fixed 2^20 micro-unit width here
    keeps the oracle byte-identical."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    s = ev.select(
        F.floor(F.col("value") * F.lit(1000000.0)).cast("bigint").alias("vq"),
        (F.col("event_type") == "click").alias("is_a"),
    )
    pts = (
        s.groupBy("vq")
        .agg(
            F.count_if("is_a").alias("ca"),
            F.count_if(~F.col("is_a")).alias("cb"),
        )
        .withColumn("rb", F.expr(f"vq div {_KS_W}"))
    )
    # per-bucket totals -> exclusive prefix offsets AND grand totals,
    # both windows over the same tiny frame (a separate count branch
    # would re-scan events)
    w_rb = Window.orderBy("rb").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("rb").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = (
        pts.groupBy("rb")
        .agg(F.sum("ca").alias("ba"), F.sum("cb").alias("bb"))
        .select(
            "rb",
            F.coalesce(F.sum("ba").over(w_rb), F.lit(0)).alias("off_a"),
            F.coalesce(F.sum("bb").over(w_rb), F.lit(0)).alias("off_b"),
            F.sum("ba").over(w_all).alias("n_a"),
            F.sum("bb").over(w_all).alias("n_b"),
        )
    )
    w_in = (
        Window.partitionBy("rb")
        .orderBy("vq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = pts.join(F.broadcast(offs), "rb").select(
        (F.sum("ca").over(w_in) + F.col("off_a")).alias("cca"),
        (F.sum("cb").over(w_in) + F.col("off_b")).alias("ccb"),
        "n_a",
        "n_b",
    )
    d = cum.agg(
        F.max(
            F.abs(F.col("cca") * F.col("n_b") - F.col("ccb") * F.col("n_a"))
        ).alias("dnum"),
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
    )
    d_stat = F.col("dnum") * F.lit(1.0) / (F.col("n_a") * F.col("n_b"))
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n_a") + F.col("n_b"))
        * F.lit(1.0)
        / (F.col("n_a") * F.col("n_b"))
    )
    return d.select(
        "n_a",
        "n_b",
        F.round(d_stat, 4).alias("d_stat"),
        (d_stat > crit).alias("reject_05"),
    )


@register(
    "mannwhitney_u_test",
    oracle=f"""
    WITH s AS (
        SELECT CAST(FLOOR(value * 1000000.0) AS BIGINT) AS vq,
               event_type = 'click' AS is_a
        FROM events
        WHERE event_type IN ('click', 'view')
    ),
    pts AS (
        SELECT vq,
               CAST(COUNT(*) FILTER (is_a) AS BIGINT) AS ca,
               CAST(COUNT(*) FILTER (NOT is_a) AS BIGINT) AS cb
        FROM s GROUP BY vq
    ),
    cum AS (
        SELECT ca, cb,
               COALESCE(SUM(ca + cb) OVER (ORDER BY vq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cbefore
        FROM pts
    ),
    agg AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
               CAST(SUM(cb) AS BIGINT) AS n_b,
               CAST(SUM(ca * (2 * cbefore + ca + cb + 1)) AS BIGINT)
                   AS ra2,
               CAST(SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
                    AS BIGINT) AS tie3
        FROM cum
    )
    SELECT n_a, n_b,
           ROUND((ra2 - n_a * (n_a + 1)) / 2.0, 4) AS u_stat,
           ROUND(((ra2 - n_a * (n_a + 1)) / 2.0 - n_a * n_b / 2.0)
                 / sqrt(n_a * 1.0 * n_b / 12.0
                        * ((n_a + n_b + 1)
                           - tie3 * 1.0 / ((n_a + n_b)
                                           * (n_a + n_b - 1)))), 4) AS z,
           abs(((ra2 - n_a * (n_a + 1)) / 2.0 - n_a * n_b / 2.0)
               / sqrt(n_a * 1.0 * n_b / 12.0
                      * ((n_a + n_b + 1)
                         - tie3 * 1.0 / ((n_a + n_b)
                                         * (n_a + n_b - 1))))) > 1.96
               AS reject_05
    FROM agg
    """,
)
def mannwhitney_u_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U (Wilcoxon rank-sum) between the click and view
    value distributions, with the tie-corrected normal approximation
    and alpha=0.05 decision — the nonparametric LOCATION test between
    `ab_test_welch` (parametric means) and `ks_test_two_sample` (full
    shape): robust to outliers and distribution-free.

    Exactness: ranks never materialize per row — a tied group of size
    t with c predecessors contributes midrank c + (t+1)/2, so the rank
    sum is Σ ca·(2c + ca + cb + 1) / 2, an INTEGER computation carried
    doubled (ra2) until the final division; the tie correction Σ(t³−t)
    is integer too, so U, z, and the decision are fixed-order double
    expressions over exact integers — no float accumulation anywhere.

    Scale (100 TB): one partial-aggregated groupBy to distinct value
    points, then the exclusive cumulative count — at scale via the
    SAME bucket-prefix decomposition `ks_test_two_sample` pins (the
    tiny-frame window here keeps this op readable; the distinct-point
    frame saturates at the quantization resolution, so its cost grows
    sub-linearly in the row count, as for the KS twin)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    pts = (
        ev.select(
            F.floor(F.col("value") * F.lit(1000000.0))
            .cast("bigint")
            .alias("vq"),
            (F.col("event_type") == "click").alias("is_a"),
        )
        .groupBy("vq")
        .agg(
            F.count_if("is_a").alias("ca"),
            F.count_if(~F.col("is_a")).alias("cb"),
        )
    )
    w_ex = Window.orderBy("vq").rowsBetween(Window.unboundedPreceding, -1)
    cum = pts.select(
        "ca",
        "cb",
        F.coalesce(F.sum(F.col("ca") + F.col("cb")).over(w_ex), F.lit(0)).alias(
            "cbefore"
        ),
    )
    t = F.col("ca") + F.col("cb")
    agg = cum.agg(
        F.sum("ca").alias("n_a"),
        F.sum("cb").alias("n_b"),
        F.sum(
            F.col("ca") * (F.lit(2) * F.col("cbefore") + t + F.lit(1))
        ).alias("ra2"),
        F.sum(t * t * t - t).alias("tie3"),
    )
    u = (F.col("ra2") - F.col("n_a") * (F.col("n_a") + 1)) / F.lit(2.0)
    mu = F.col("n_a") * F.col("n_b") / F.lit(2.0)
    nn = F.col("n_a") + F.col("n_b")
    var = (
        F.col("n_a") * F.lit(1.0) * F.col("n_b") / F.lit(12.0)
        * ((nn + F.lit(1)) - F.col("tie3") * F.lit(1.0) / (nn * (nn - 1)))
    )
    z = (u - mu) / F.sqrt(var)
    return agg.select(
        "n_a",
        "n_b",
        F.round(u, 4).alias("u_stat"),
        F.round(z, 4).alias("z"),
        (F.abs(z) > F.lit(1.96)).alias("reject_05"),
    )


# ---------------------------------------------- weighted_median_per_key

@register(
    "weighted_median_per_key",
    oracle="""
    WITH rows_ AS (
        SELECT l_returnflag AS k,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS price_c,
               CAST(l_quantity AS BIGINT) AS w,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    cum AS (
        SELECT k, price_c, w,
               SUM(w) OVER (PARTITION BY k ORDER BY price_c,
                   l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(w) OVER (PARTITION BY k) AS tw
        FROM rows_
    ),
    med AS (
        SELECT k, price_c, w, cw, tw,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY cw, price_c)
                   AS rn
        FROM cum WHERE 2 * cw >= tw
    )
    SELECT k AS l_returnflag,
           CAST(tw AS BIGINT) AS total_weight,
           ROUND(price_c / 100.0, 2) AS weighted_median_price
    FROM med WHERE rn = 1
    """,
)
def weighted_median_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT WEIGHTED MEDIAN of extended price, weighted by quantity,
    per return flag — the order statistic `agg_percentile` (unweighted
    exact) and `agg_approx_percentile` (sketch) both miss: "the price
    point at which half the shipped UNITS are cheaper", the
    inventory-weighted center a pricing analyst actually wants.
    Definition: smallest price with cumulative weight >= half total
    (the lower weighted median — deterministic, no interpolation).

    Determinism: prices as exact cents int64 (the `cents` recipe),
    weights as int64, the cumulative sum over a TOTALLY ordered window
    (price, orderkey, linenumber tiebreak §7.4), and the integer
    inequality 2*cw >= tw picks the row — no doubles until the final
    /100 render.

    Scale (100 TB): TWO-PHASE bucket-prefix form — phase 1 collapses
    the corpus map-side to |keys| x ~1.5k (key, price-bucket) weight
    cells and localizes the median bucket on that tiny frame; phase 2
    sorts ONLY the selected bucket's rows (~1/1500 of the data) for
    the exact pick.  The single-phase per-key sorted window (3 keys =
    3 straggler tasks) measured 88 s / 12.0x at sf10; this form keeps
    every stage either map-side or sliver-sized.  Same exact result,
    same oracle — the bucket split respects price order, so the
    cumulative weights are identical."""
    li = load(spark, sf_dir, "lineitem")
    rows_ = li.select(
        F.col("l_returnflag").alias("k"),
        (dec("l_extendedprice") * 100).cast("bigint").alias("price_c"),
        F.col("l_quantity").cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    # PHASE 1 — bucket-prefix localization (the KS-test move): weight
    # mass per (key, price bucket) collapses MAP-SIDE to a tiny frame;
    # a cumulative window over it finds the single bucket containing
    # the weighted median plus the weight mass strictly before it.
    bucketed = rows_.withColumn("bkt", F.expr("price_c div 65536"))
    bw = bucketed.groupBy("k", "bkt").agg(F.sum("w").alias("wsum"))
    w_cum_b = (
        Window.partitionBy("k")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all_b = Window.partitionBy("k")
    marked = bw.select(
        "k",
        "bkt",
        "wsum",
        F.sum("wsum").over(w_cum_b).alias("cw_end"),
        F.sum("wsum").over(w_all_b).alias("tw"),
    )
    w_pick = Window.partitionBy("k").orderBy("bkt")
    target = (
        marked.filter(2 * F.col("cw_end") >= F.col("tw"))
        .withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "k",
            "bkt",
            (F.col("cw_end") - F.col("wsum")).alias("cw_before"),
            "tw",
        )
    )
    # PHASE 2 — exact pick inside the ONE selected bucket per key
    # (~1/1500 of the rows): the sorted window now runs on a sliver,
    # not on a 3-partition corpus-wide sort (the single-phase form
    # measured 88 s / 12.0x at sf10 — a straggler shape that only gets
    # worse at 100 TB).
    in_bkt = bucketed.join(F.broadcast(target), ["k", "bkt"])
    w_cum = (
        Window.partitionBy("k")
        .orderBy("price_c", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = in_bkt.select(
        "k",
        "price_c",
        "tw",
        (F.col("cw_before") + F.sum("w").over(w_cum)).alias("cw"),
    )
    w_rn = Window.partitionBy("k").orderBy("cw", "price_c")
    med = (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .withColumn("rn", F.row_number().over(w_rn))
        .filter(F.col("rn") == 1)
    )
    return med.select(
        F.col("k").alias("l_returnflag"),
        F.col("tw").cast("bigint").alias("total_weight"),
        F.round(F.col("price_c") / F.lit(100.0), 2).alias(
            "weighted_median_price"
        ),
    )


# --------------------------------------------- share_of_parent_rollup

@register(
    "share_of_parent_rollup",
    oracle="""
    WITH base AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS rev_c
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation,
           ROUND(rev_c / 100.0, 2) AS revenue,
           ROUND(rev_c * 1.0 / SUM(rev_c) OVER (PARTITION BY region), 6)
               AS share_of_region,
           ROUND(SUM(rev_c) OVER (PARTITION BY region)
                 * 1.0 / SUM(rev_c) OVER (), 6) AS region_share_of_total
    FROM base
    """,
)
def share_of_parent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATIO-TO-PARENT along the region→nation hierarchy — the OLAP
    "percent of parent" measure every BI layer bolts onto a rollup:
    each nation's share of its region's revenue and each region's
    share of world revenue, on one row per nation.  Complements
    `agg_rollup` (subtotal ROWS) with the ratio FORM those subtotals
    exist to feed.

    Determinism: revenue lives as exact cents int64 end-to-end
    (the `cents` recipe) — group sums AND both denominator window
    sums are exact integer addition, so each share is one IEEE
    division of two exact int64s; doubles appear only in the final
    rounded renders.

    Scale (100 TB): orders joins broadcast dims (customer is the only
    big-ish side), the rollup collapses map-side to |nations| rows,
    and every window runs on that tiny frame."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    base = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum((dec("o_totalprice") * 100).cast("bigint")).alias("rev_c")
        )
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return base.select(
        "region",
        "nation",
        F.round(F.col("rev_c") / F.lit(100.0), 2).alias("revenue"),
        F.round(
            F.col("rev_c") * F.lit(1.0) / F.sum("rev_c").over(w_region), 6
        ).alias("share_of_region"),
        F.round(
            F.sum("rev_c").over(w_region)
            * F.lit(1.0)
            / F.sum("rev_c").over(w_all),
            6,
        ).alias("region_share_of_total"),
    )


# --------------------------------------------- bootstrap_ci_event_value

#: Cumulative Poisson(1) thresholds for k = 0..6 (as exact decimal
#: literals rendered to double identically in both engines) — the
#: inverse-CDF table that turns a uniform md5 draw into a Poisson
#: multiplier weight.
_POIS_CDF = (
    "0.3678794411714423",
    "0.7357588823428846",
    "0.9196986029286058",
    "0.9810118431238462",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.9999167588507119",
)


def _pois_case(u: str) -> str:
    """CASE expression mapping a uniform [0,1) draw to Poisson(1) k."""
    branches = " ".join(
        f"WHEN {u} < {p} THEN {k}" for k, p in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 7 END"


@register(
    "bootstrap_ci_event_value",
    oracle=f"""
    WITH b AS (SELECT unnest(generate_series(0, 31)) AS b),
    w AS (
        SELECT b.b,
               CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c,
               {_pois_case("(CAST(concat('0x', substr(md5("
                           "CAST(e.event_id AS VARCHAR) || ':' || "
                           "CAST(b.b AS VARCHAR)), 1, 8)) AS BIGINT)"
                           " * 1.0 / 4294967296.0)")} AS wgt
        FROM events e CROSS JOIN b
    ),
    means AS (
        SELECT b,
               CAST(SUM(wgt * v_c) AS BIGINT) * 1.0
                   / (CAST(SUM(wgt) AS BIGINT) * 100.0) AS m
        FROM w GROUP BY b
    ),
    ranked AS (
        SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS rn, COUNT(*) OVER () AS n
        FROM means
    ),
    pt AS (
        SELECT SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) * 1.0
                   / (COUNT(*) * 100.0) AS point
        FROM events
    )
    SELECT ROUND(pt.point, 4) AS point_mean,
           ROUND(MIN(CASE WHEN rn = 2 THEN m END), 4) AS ci_lo,
           ROUND(MIN(CASE WHEN rn = 31 THEN m END), 4) AS ci_hi,
           CAST(MAX(n) AS BIGINT) AS n_resamples
    FROM ranked CROSS JOIN pt
    GROUP BY pt.point
    """,
)
def bootstrap_ci_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON (multiplier) BOOTSTRAP confidence interval for the mean
    event value — THE bootstrap that distributes: instead of resampling
    rows (which needs global coordination), every row gets a
    Poisson(1) multiplier per replicate, so all 32 resample means are
    computed in ONE pass as weighted sums (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", the production form at
    Google).  CI = the 2nd and 31st order statistics of the 32 means
    (~93.75% coverage by the order-statistic rule).

    Determinism: the multiplier is an md5-derived uniform pushed
    through a fixed Poisson(1) inverse-CDF table (exact double
    literals, identical branch order); values are exact cents int64,
    each replicate's Σw·v and Σw are exact integer sums, and each mean
    is one IEEE division — bit-identical at any row order.

    Scale (100 TB): the 32× row fan-out is map-side (no shuffle until
    the 32-group aggregation); the means frame is 32 rows.  Replicates
    scale by widening the CASE fan, never by re-reading data."""
    ev = load(spark, sf_dir, "events")
    b = spark.range(0, 32).select(F.col("id").cast("int").alias("b"))
    # n / 2^32 is exact in double, and no 32-bit n lies near enough to a
    # CDF literal for the double compare to pick another branch than a
    # decimal one would
    u = md5_int(
        F.concat(
            F.col("event_id").cast("string"), F.lit(":"), F.col("b").cast("string")
        ),
        1,
        8,
    ) / F.lit(4294967296.0)
    w = ev.crossJoin(b).select(
        "b",
        (dec("value") * 100).cast("bigint").alias("v_c"),
        u.alias("u"),
    ).select("b", "v_c", F.expr(_pois_case("u")).alias("wgt"))
    means = w.groupBy("b").agg(
        (
            F.sum(F.col("wgt") * F.col("v_c")).cast("bigint")
            * F.lit(1.0)
            / (F.sum("wgt").cast("bigint") * F.lit(100.0))
        ).alias("m")
    )
    w_rn = Window.orderBy("m")
    w_all = Window.partitionBy()
    ranked = means.select(
        "m",
        F.row_number().over(w_rn).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    pt = ev.agg(
        (
            F.sum((dec("value") * 100).cast("bigint")) * F.lit(1.0)
            / (F.count(F.lit(1)) * F.lit(100.0))
        ).alias("point")
    )
    return (
        ranked.crossJoin(F.broadcast(pt))
        .groupBy("point")
        .agg(
            F.round(F.min(F.when(F.col("rn") == 2, F.col("m"))), 4).alias(
                "ci_lo"
            ),
            F.round(F.min(F.when(F.col("rn") == 31, F.col("m"))), 4).alias(
                "ci_hi"
            ),
            F.max("n").cast("bigint").alias("n_resamples"),
        )
        .select(
            F.round("point", 4).alias("point_mean"),
            "ci_lo",
            "ci_hi",
            "n_resamples",
        )
    )


# ------------------------------------------ benjamini_hochberg_fdr

@register(
    "benjamini_hochberg_fdr",
    oracle="""
    WITH g AS (
        SELECT event_type,
               CASE WHEN CAST((CAST(ts AS DATE) - DATE '1970-01-01')
                         AS BIGINT) % 7 IN (2, 3)
                    THEN 1 ELSE 0 END AS wk,
               CAST(value AS DECIMAL(18,2)) AS v
        FROM events
    ),
    stats AS (
        SELECT event_type, wk, COUNT(*) AS n,
               CAST(SUM(v) AS DOUBLE) AS s1,
               CAST(SUM(v * v) AS DOUBLE) AS s2
        FROM g GROUP BY event_type, wk
    ),
    m AS (
        SELECT event_type, wk, n, s1 / n AS mean,
               (s2 - s1 * s1 / n) / (n - 1) AS var
        FROM stats
    ),
    z AS (
        SELECT a.event_type,
               ABS((a.mean - b.mean)
                   / SQRT(a.var / a.n + b.var / b.n)) AS az
        FROM m a JOIN m b
          ON a.event_type = b.event_type AND a.wk = 1 AND b.wk = 0
    ),
    p AS (
        SELECT event_type, az,
               CAST(FLOOR(2.0 / (1.0 + EXP(0.07056 * az * az * az
                                           + 1.5976 * az))
                          * 1000000000.0) AS BIGINT) AS p_q,
               COUNT(*) OVER () AS m_tests
        FROM z
    ),
    ranked AS (
        SELECT event_type, az, p_q, m_tests,
               ROW_NUMBER() OVER (ORDER BY p_q, event_type) AS rnk
        FROM p
    ),
    thr AS (
        SELECT *,
               CAST(FLOOR(CAST(rnk AS DOUBLE) * 0.1 / m_tests
                          * 1000000000.0) AS BIGINT) AS thr_q
        FROM ranked
    ),
    cut AS (
        SELECT *,
               MAX(CASE WHEN p_q <= thr_q THEN rnk ELSE 0 END)
                   OVER () AS sig_rank
        FROM thr
    )
    SELECT event_type,
           ROUND(az, 4) AS abs_z,
           ROUND(CAST(p_q AS DOUBLE) / 1000000000.0, 6) AS p_approx,
           CAST(rnk AS BIGINT) AS p_rank,
           ROUND(CAST(thr_q AS DOUBLE) / 1000000000.0, 6) AS bh_threshold,
           rnk <= sig_rank AS significant
    FROM cut
    """,
)
def benjamini_hochberg_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-HOCHBERG FDR CONTROL over the five per-event-type
    weekend-vs-weekday Welch tests — the multiple-testing discipline
    `ab_test_welch` lacks once you run one test PER metric: order the
    p-values, step up to the largest rank i with p_i <= (i/m)q at
    q = 0.10, and flag everything at or below it.  A platform that
    auto-tests every metric every day ships false "significant"
    dashboards without exactly this correction.

    Determinism: moment sums are exact DECIMAL; z is the fixed-order
    Welch expression; the normal-CDF tail uses the Bowling logistic
    approximation (1/(1+exp(0.07056 z^3 + 1.5976 z)) — max abs error
    1.4e-4, a published closed form with no erf dependence) and both
    p and the BH threshold are quantized to int64 nano-units BEFORE
    the rank/step-up comparisons, so the decision boundary is integer
    and identical in both engines; weekend = epoch-day mod 7 (no
    engine DOW numbering).

    Scale (100 TB): one map-side-combinable moments pass over the
    corpus; everything after runs on |event_types| rows."""
    ev = load(spark, sf_dir, "events")
    g = ev.select(
        "event_type",
        F.when(
            (
                F.datediff(
                    F.to_date("ts"), F.lit("1970-01-01").cast("date")
                ).cast("bigint")
                % 7
            ).isin(2, 3),
            1,
        )
        .otherwise(0)
        .alias("wk"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    stats = g.groupBy("event_type", "wk").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("double").alias("s1"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("s2"),
    )
    m = stats.select(
        "event_type",
        "wk",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        (
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("var"),
    )
    a = m.filter(F.col("wk") == 1).select(
        "event_type",
        F.col("n").alias("n1"),
        F.col("mean").alias("m1"),
        F.col("var").alias("v1"),
    )
    b = m.filter(F.col("wk") == 0).select(
        "event_type",
        F.col("n").alias("n0"),
        F.col("mean").alias("m0"),
        F.col("var").alias("v0"),
    )
    z = a.join(b, "event_type").select(
        "event_type",
        F.abs(
            (F.col("m1") - F.col("m0"))
            / F.sqrt(F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0"))
        ).alias("az"),
    )
    nw = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    p = z.select(
        "event_type",
        "az",
        F.floor(
            F.lit(2.0)
            / (
                F.lit(1.0)
                + F.exp(
                    F.lit(0.07056) * F.col("az") * F.col("az") * F.col("az")
                    + F.lit(1.5976) * F.col("az")
                )
            )
            * F.lit(1000000000.0)
        )
        .cast("bigint")
        .alias("p_q"),
        F.count(F.lit(1)).over(nw).alias("m_tests"),
    )
    ranked = p.withColumn(
        "rnk", F.row_number().over(Window.orderBy("p_q", "event_type"))
    )
    thr = ranked.withColumn(
        "thr_q",
        F.floor(
            F.col("rnk").cast("double")
            * F.lit(0.1)
            / F.col("m_tests")
            * F.lit(1000000000.0)
        ).cast("bigint"),
    )
    cut = thr.withColumn(
        "sig_rank",
        F.max(
            F.when(F.col("p_q") <= F.col("thr_q"), F.col("rnk")).otherwise(
                0
            )
        ).over(nw),
    )
    return cut.select(
        "event_type",
        F.round("az", 4).alias("abs_z"),
        F.round(F.col("p_q").cast("double") / 1000000000.0, 6).alias(
            "p_approx"
        ),
        F.col("rnk").cast("bigint").alias("p_rank"),
        F.round(F.col("thr_q").cast("double") / 1000000000.0, 6).alias(
            "bh_threshold"
        ),
        (F.col("rnk") <= F.col("sig_rank")).alias("significant"),
    )


# --------------------------------------------- power_mde_per_arm

@register(
    "power_mde_per_arm",
    oracle="""
    WITH stats AS (
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(value AS DECIMAL(18,2))
                        * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
        FROM events GROUP BY event_type
    ),
    m AS (
        SELECT event_type, n, s1 / n AS mean,
               (s2 - s1 * s1 / n) / (n - 1) AS var
        FROM stats
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND(mean, 4) AS mean,
           ROUND(SQRT(var), 4) AS sd,
           ROUND(2.801585 * SQRT(2.0 * var / n), 4) AS mde_abs,
           ROUND(2.801585 * SQRT(2.0 * var / n) / mean, 4) AS mde_rel
    FROM m
    """,
)
def power_mde_per_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINIMUM DETECTABLE EFFECT per event-type arm at alpha = 0.05 /
    power = 0.80 for an equal-split two-arm test: MDE =
    (z_{0.975} + z_{0.80}) * sqrt(2 s^2 / n) = 2.801585 * se_diff —
    the pre-experiment sizing answer ("with this traffic, what lift
    could we even see?") that decides whether running the test in
    `ab_test_welch` is worth the calendar time.  `mde_rel` is the
    headline: an MDE of 40% of the mean means only a miracle ships.

    Determinism: exact-DECIMAL moments converted to double once; the
    MDE is one fixed-order expression with the z-sum folded to a
    literal constant; rounded once.

    Scale (100 TB): one map-side-combinable moments aggregation; the
    MDE math runs on |event_types| rows."""
    ev = load(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("s1"),
        F.sum(v * v).cast("double").alias("s2"),
    )
    m = stats.select(
        "event_type",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        (
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("var"),
    )
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round("mean", 4).alias("mean"),
        F.round(F.sqrt("var"), 4).alias("sd"),
        F.round(
            F.lit(2.801585)
            * F.sqrt(F.lit(2.0) * F.col("var") / F.col("n")),
            4,
        ).alias("mde_abs"),
        F.round(
            F.lit(2.801585)
            * F.sqrt(F.lit(2.0) * F.col("var") / F.col("n"))
            / F.col("mean"),
            4,
        ).alias("mde_rel"),
    )


# ---------------------------------------------- anova_oneway_value

@register(
    "anova_oneway_value",
    oracle="""
    WITH stats AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                   AS s1_c,
               CAST(SUM(CAST(value AS DECIMAL(18,2))
                        * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
        FROM events GROUP BY event_type
    ),
    terms AS (
        SELECT n, s1, s1_c, s2,
               CAST(FLOOR(s1 * s1 / n * 1000000.0) AS BIGINT) AS bq,
               CAST(FLOOR((s2 - s1 * s1 / n) * 1000000.0) AS BIGINT) AS wq
        FROM stats
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(s1_c) AS BIGINT) AS s1ct,
               CAST(SUM(bq) AS BIGINT) AS bqs,
               CAST(SUM(wq) AS BIGINT) AS wqs
        FROM terms
    )
    SELECT k, nn AS n_total,
           ROUND((CAST(bqs AS DOUBLE) / 1000000.0
                  - (CAST(s1ct AS DOUBLE) / 100.0)
                    * (CAST(s1ct AS DOUBLE) / 100.0) / nn)
                 / (k - 1)
                 / (CAST(wqs AS DOUBLE) / 1000000.0 / (nn - k)),
                 4) AS f_stat,
           ROUND((CAST(bqs AS DOUBLE) / 1000000.0
                  - (CAST(s1ct AS DOUBLE) / 100.0)
                    * (CAST(s1ct AS DOUBLE) / 100.0) / nn)
                 / (CAST(bqs AS DOUBLE) / 1000000.0
                    - (CAST(s1ct AS DOUBLE) / 100.0)
                      * (CAST(s1ct AS DOUBLE) / 100.0) / nn
                    + CAST(wqs AS DOUBLE) / 1000000.0),
                 6) AS eta_squared
    FROM tot
    """,
)
def anova_oneway_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA F across the five event-type arms: does mean
    value differ across MORE THAN TWO groups at once — the k-group
    generalization `ab_test_welch` (2 arms) and
    `benjamini_hochberg_fdr` (k separate pairwise tests) bracket.
    SSB/SSW come from per-group sufficient statistics alone
    (sum-of-squares identity), so no second pass and no residual
    materialization; eta^2 = SSB/SST reports effect size next to the
    F statistic.

    Determinism: per-group moments are exact DECIMAL sums converted
    to double once; the per-group terms s1^2/n and (s2 - s1^2/n) are
    quantized to int64 micro-units BEFORE the cross-group sums (5
    doubles summed in engine order would be order-sensitive — the
    quantize-before-sum move), and the grand total s1t ALSO crosses
    groups as an exact cents int64 (the decimal sum x100), never as a
    double sum, then two fixed-order final formulas.

    Scale (100 TB): one map-side-combinable moments pass; everything
    after runs on |event_types| rows."""
    ev = load(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(v).cast("double").alias("s1"),
        (F.sum(v) * 100).cast("bigint").alias("s1_c"),
        F.sum(v * v).cast("double").alias("s2"),
    )
    terms = stats.select(
        "n",
        "s1",
        "s1_c",
        "s2",
        F.floor(
            F.col("s1") * F.col("s1") / F.col("n") * F.lit(1000000.0)
        )
        .cast("bigint")
        .alias("bq"),
        F.floor(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            * F.lit(1000000.0)
        )
        .cast("bigint")
        .alias("wq"),
    )
    tot = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("s1_c").cast("bigint").alias("s1ct"),
        F.sum("bq").cast("bigint").alias("bqs"),
        F.sum("wq").cast("bigint").alias("wqs"),
    )
    s1t = F.col("s1ct").cast("double") / F.lit(100.0)
    ssb = (
        F.col("bqs").cast("double") / F.lit(1000000.0)
        - s1t * s1t / F.col("nn")
    )
    ssw = F.col("wqs").cast("double") / F.lit(1000000.0)
    return tot.select(
        "k",
        F.col("nn").alias("n_total"),
        F.round(
            ssb / (F.col("k") - 1) / (ssw / (F.col("nn") - F.col("k"))), 4
        ).alias("f_stat"),
        F.round(ssb / (ssb + ssw), 6).alias("eta_squared"),
    )


# --------------------------------------------- brown_forsythe_test

@register(
    "brown_forsythe_test",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS m
        FROM events GROUP BY event_type
    ),
    z AS (
        SELECT e.event_type,
               CAST(FLOOR(ABS(e.value - med.m) * 1000.0) AS BIGINT) AS zq
        FROM events e JOIN med USING (event_type)
    ),
    stats AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(zq) AS BIGINT) AS sz,
               CAST(SUM(zq * zq) AS BIGINT) AS szz
        FROM z GROUP BY event_type
    ),
    terms AS (
        SELECT n, sz,
               CAST(FLOOR(CAST(sz AS DOUBLE) * sz / n) AS BIGINT) AS bq,
               CAST(FLOOR(szz - CAST(sz AS DOUBLE) * sz / n) AS BIGINT)
                   AS wq
        FROM stats
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(sz) AS BIGINT) AS szt,
               CAST(SUM(bq) AS BIGINT) AS bqs,
               CAST(SUM(wq) AS BIGINT) AS wqs
        FROM terms
    )
    SELECT k, nn AS n_total,
           ROUND((CAST(bqs AS DOUBLE)
                  - CAST(szt AS DOUBLE) * szt / nn)
                 / (k - 1)
                 / (CAST(wqs AS DOUBLE) / (nn - k)), 4) AS bf_stat
    FROM tot
    """,
)
def brown_forsythe_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BROWN-FORSYTHE HOMOGENEITY-OF-VARIANCE TEST across event-type
    arms: one-way ANOVA over |x - group median| — the robust Levene
    variant (median centers, so one heavy tail can't fake a variance
    difference).  This is the assumption check BEFORE trusting
    `anova_oneway_value` or pooled-variance sizing in
    `power_mde_per_arm`: if spreads differ, Welch-style corrections
    are mandatory.

    Determinism: group medians via exact interpolated percentile
    (Spark `percentile` ≡ DuckDB `quantile_cont`, the
    robust_median_mad precedent); per-row deviations quantized to
    int64 milli-units BEFORE any sum, so group moments are exact
    integers (int64 budget: zq ~ 1e5 → zq^2 ~ 1e10 → safe to ~9e8
    rows per group; past that, re-quantize coarser); per-group terms
    floor-quantized before the cross-group sums; one fixed-order F.

    Scale (100 TB): pass 1 collapses to |types| medians (per-group
    exact percentile — swap for approx_percentile past ~1e9 rows per
    group); pass 2 is one map-side-combinable moments aggregation
    over the broadcast-joined deviations."""
    e = load(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("m")
    )
    z = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.floor(F.abs(F.col("value") - F.col("m")) * F.lit(1000.0))
        .cast("bigint")
        .alias("zq"),
    )
    stats = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("zq").cast("bigint").alias("sz"),
        F.sum(F.col("zq") * F.col("zq")).cast("bigint").alias("szz"),
    )
    terms = stats.select(
        "n",
        "sz",
        F.floor(F.col("sz").cast("double") * F.col("sz") / F.col("n"))
        .cast("bigint")
        .alias("bq"),
        F.floor(
            F.col("szz")
            - F.col("sz").cast("double") * F.col("sz") / F.col("n")
        )
        .cast("bigint")
        .alias("wq"),
    )
    tot = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("sz").cast("bigint").alias("szt"),
        F.sum("bq").cast("bigint").alias("bqs"),
        F.sum("wq").cast("bigint").alias("wqs"),
    )
    return tot.select(
        "k",
        F.col("nn").alias("n_total"),
        F.round(
            (
                F.col("bqs").cast("double")
                - F.col("szt").cast("double") * F.col("szt") / F.col("nn")
            )
            / (F.col("k") - 1)
            / (F.col("wqs").cast("double") / (F.col("nn") - F.col("k"))),
            4,
        ).alias("bf_stat"),
    )


# ------------------------------------------------------ agg_filter_clause

@register(
    "agg_filter_clause",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
               AS n_discounted,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    FILTER (WHERE l_quantity >= 25)
                AS DECIMAL(38,2)) AS bulk_revenue,
           CAST(MAX(l_quantity) FILTER (WHERE l_linestatus = 'F')
                AS BIGINT) AS max_final_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI `FILTER (WHERE ...)` aggregate clause (SQL:2003 T612,
    Spark 3.0+ / DuckDB): per-aggregate predicates WITHOUT the
    CASE-WHEN contortion — three differently-filtered aggregates
    over one scan, the shape `cond_case_coalesce` expresses the
    pre-standard way.  The oracle runs the identical FILTER text on
    DuckDB.

    Determinism: exact counts, integral max; bulk_revenue sums as
    exact DECIMAL then casts to DOUBLE on the Spark side because DuckDB's
    .df() renders DECIMAL(38,2) as float64 — a Spark Decimal would
    stringify "x.10" vs float64 "x.1" whenever a group's cents digit is 0.
    Both engines take nearest-double of the SAME exact decimal, so the
    rendering is identical.

    Scale (100 TB): all FILTER aggregates evaluate in the SAME
    partial+final hash agg over ONE pass — the predicate gates the
    accumulator update, it never forks the scan (vs the naive
    self-join-per-filter rewrite)."""
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("mq_fc_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
                   AS n_discounted,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                             FILTER (WHERE l_quantity >= 25)
                         AS DECIMAL(38,2)) AS DOUBLE) AS bulk_revenue,
               CAST(MAX(l_quantity) FILTER (WHERE l_linestatus = 'F')
                    AS BIGINT) AS max_final_qty
        FROM mq_fc_lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


# ----------------------------------------------------- pivot_multi_agg_wide

@register(
    "pivot_multi_agg_wide",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
               AS click_n,
           CAST(COALESCE(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT))
                         FILTER (WHERE event_type = 'click'), 0)
                AS BIGINT) AS click_cents,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase')
                AS BIGINT) AS purchase_n,
           CAST(COALESCE(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT))
                         FILTER (WHERE event_type = 'purchase'), 0)
                AS BIGINT) AS purchase_cents,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT)
               AS view_n,
           CAST(COALESCE(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT))
                         FILTER (WHERE event_type = 'view'), 0)
                AS BIGINT) AS view_cents
    FROM events
    GROUP BY user_id ORDER BY user_id
    """,
)
def pivot_multi_agg_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-AGGREGATE PIVOT: per-user wide feature row carrying
    BOTH a count and a cents sum per pivoted event type — the
    two-measures-per-column surface `pivot_event_counts` (one measure)
    doesn't cover; this is the feature-matrix assembly shape of a
    training pipeline.  Spark's .pivot(col, values).agg(n, cents)
    suffixes each value with each aggregate alias; the explicit
    values list keeps the schema static (no extra distinct pass) and
    the COALESCE-to-0 matches the SQL FILTER semantics for absent
    combinations.

    Determinism: exact counts and cents sums; column names pinned on
    both sides.

    Scale (100 TB): one map-side-combinable groupBy(user) — the pivot
    is a projection over the combined accumulator, NOT one shuffle
    per pivot value."""
    ev = load(spark, sf_dir, "events")
    cents = F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    p = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "purchase", "view"])
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents).cast("bigint").alias("cents"),
        )
    )
    return p.select(
        "user_id",
        *[
            F.coalesce(F.col(f"{t}_{m}"), F.lit(0))
            .cast("bigint")
            .alias(f"{t}_{m}")
            for t in ("click", "purchase", "view")
            for m in ("n", "cents")
        ],
    ).orderBy("user_id")


# ------------------------------------------------- percentile_disc_vs_cont

@register(
    "percentile_disc_vs_cont",
    oracle="""
    WITH s AS (
        SELECT event_type AS g,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM events
    )
    SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(quantile_disc(v, 0.5) AS BIGINT) AS p50_disc,
           ROUND(quantile_cont(v, 0.5), 4) AS p50_cont,
           CAST(quantile_disc(v, 0.9) AS BIGINT) AS p90_disc,
           ROUND(quantile_cont(v, 0.9), 4) AS p90_cont
    FROM s GROUP BY g ORDER BY g
    """,
)
def percentile_disc_vs_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE vs CONTINUOUS PERCENTILE semantics side by side
    (SQL:2008 PERCENTILE_DISC/_CONT) per event-type arm: DISC returns
    an ACTUAL cents value from the group (the smallest whose
    cumulative share reaches p — reportable, joinable back to rows),
    CONT interpolates between neighbors (smooth, but a value no event
    ever had).  Spark has exact CONT (`percentile`) but no built-in
    exact DISC — it is DERIVED from the value frequency table: the
    smallest v with cum >= ceil(p*n), the `mood_median_test`
    filter-then-MIN move, generalized to any p.

    Determinism: DISC is exact integer selection (ceil via integer
    arithmetic: cum*1 >= (n*p_num + p_den - 1) DIV p_den with
    rational p); CONT matches because Spark `percentile` and DuckDB
    `quantile_cont` share the linear-interpolation definition (the
    robust_median_mad precedent), ROUND(.,4).

    Scale (100 TB): ONE corpus scan — both DISC and CONT derive from
    the same groupBy(g,v) frequency collapse (an sf10 A/B measured
    one-pass 2.12 s vs two-pass 3.49 s, min-of-2 warm, identical 4-dp
    values in both engines). Per-group cumsums ride windows PARTITIONED by
    g over the value-domain-bounded (Heaps-bounded) frequency table;
    CONT's value-at-rank-k lookups are the same filter-then-MIN move as
    DISC with k from floor/ceil of p*(n-1), then the standard linear
    interpolation v_l + (p*(n-1) - floor(p*(n-1)))*(v_u - v_l) — the exact
    IEEE tree Spark's `percentile` and DuckDB's `quantile_cont` share, so
    ROUND(.,4) matches the oracle."""
    ev = load(spark, sf_dir, "events")
    s = ev.select(
        F.col("event_type").alias("g"),
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "v"
        ),
    )
    freq = s.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # n via an UNBOUNDED window over the SAME hashpartitioning(g) the
    # cum window needs — one scan, one exchange, no totals join (a plan
    # contract test pins FileScan count == 1; a separate
    # freq.groupBy("g") totals branch re-planned a second scan because
    # static exchange reuse does not fire across the agg/window split)
    j = freq.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n",
        F.sum("c")
        .over(
            Window.partitionBy("g").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("bigint"),
    )
    # DISC: ceil(p*n) in exact integer arithmetic:
    # (n*num + den - 1) DIV den.  CONT lower/upper ranks (0-indexed):
    # rank k's value = smallest v with cum >= k+1, k from
    # floor(p*(n-1)) and min(floor+1, n-1).
    grp = j.groupBy("g", "n").agg(
        F.min(
            F.when(
                F.col("cum")
                >= F.expr("CAST((n * 1 + 2 - 1) DIV 2 AS BIGINT)"),
                F.col("v"),
            )
        )
        .cast("bigint")
        .alias("p50_disc"),
        F.min(
            F.when(
                F.col("cum")
                >= F.expr("CAST((n * 9 + 10 - 1) DIV 10 AS BIGINT)"),
                F.col("v"),
            )
        )
        .cast("bigint")
        .alias("p90_disc"),
        F.expr(
            "MIN(CASE WHEN cum >= CAST(FLOOR(0.5D*(n-1)) AS BIGINT) + 1 "
            "THEN v END)"
        ).alias("vl50"),
        F.expr(
            "MIN(CASE WHEN cum >= LEAST(CAST(FLOOR(0.5D*(n-1)) AS BIGINT)"
            " + 1, n - 1) + 1 THEN v END)"
        ).alias("vu50"),
        F.expr(
            "MIN(CASE WHEN cum >= CAST(FLOOR(0.9D*(n-1)) AS BIGINT) + 1 "
            "THEN v END)"
        ).alias("vl90"),
        F.expr(
            "MIN(CASE WHEN cum >= LEAST(CAST(FLOOR(0.9D*(n-1)) AS BIGINT)"
            " + 1, n - 1) + 1 THEN v END)"
        ).alias("vu90"),
    )
    return grp.select(
        "g",
        "n",
        "p50_disc",
        F.expr(
            "ROUND(vl50 + (0.5D*(n-1) - FLOOR(0.5D*(n-1))) * "
            "(vu50 - vl50), 4)"
        ).alias("p50_cont"),
        "p90_disc",
        F.expr(
            "ROUND(vl90 + (0.9D*(n-1) - FLOOR(0.9D*(n-1))) * "
            "(vu90 - vl90), 4)"
        ).alias("p90_cont"),
    ).orderBy("g")


# ---------------------------------------------------- bitmap_distinct_rollup

@register(
    "bitmap_distinct_rollup",
    oracle="""
    SELECT CAST(ts AS DATE) AS d,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1 ORDER BY d
    """,
)
def bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT DISTINCT COUNTING VIA BITMAPS (Spark 4 bitmap_* family):
    daily distinct users computed as sum over 32768-bit buckets of
    bitmap_count(bitmap_construct_agg(bitmap_bit_position(uid))) —
    the roaring-bitmap-style pattern warehouses use when the SAME
    distinct sets must also be COMPOSED later (union across days =
    bitmap_or_agg, intersection for retention), which plain
    COUNT(DISTINCT) cannot do without a re-scan.  Graded against the
    exact COUNT(DISTINCT) oracle: the bitmap path must lose nothing.

    Determinism: bitmaps are exact (not sketches); user_id shifts +1
    so id 0 cannot fall off the first bucket edge (measured: an
    unshifted id 0 vanishes from a single-bucket construct).

    Scale (100 TB): bitmap_construct_agg partial-aggregates map-side
    to <= 4 KB per (day, bucket) group regardless of row count — the
    shuffle moves fixed-size bitmaps, not user ids; the per-day
    rollup then sums |buckets| <= |id domain|/32768 integers."""
    ev = load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"),
        (F.col("user_id") + 1).alias("uid"),
    )
    per_bucket = (
        ev.groupBy("d", F.expr("bitmap_bucket_number(uid)").alias("bkt"))
        .agg(
            F.expr(
                "bitmap_count(bitmap_construct_agg("
                "bitmap_bit_position(uid)))"
            )
            .cast("bigint")
            .alias("c")
        )
    )
    return (
        per_bucket.groupBy("d")
        .agg(F.sum("c").cast("bigint").alias("n_users"))
        .orderBy("d")
    )


# ---------------------------------------------------- trimmed_mean_by_key

@register(
    "trimmed_mean_by_key",
    oracle="""
    WITH s AS (
        SELECT event_type AS g,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM events
    ),
    freq AS (
        SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM s GROUP BY g, v
    ),
    cum AS (
        SELECT g, v, c,
               SUM(c) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
        FROM freq
    ),
    nt AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM freq GROUP BY g),
    contrib AS (
        SELECT cum.g, nt.n, nt.n // 10 AS klo,
               GREATEST(0, LEAST(cum.cm, nt.n - nt.n // 10)
                           - GREATEST(cum.cm - cum.c, nt.n // 10)) AS cnt_in,
               cum.v
        FROM cum JOIN nt ON cum.g = nt.g
    )
    SELECT g, MIN(n) AS n,
           CAST(MIN(klo) AS BIGINT) AS k_trim_each_side,
           CAST(SUM(cnt_in) AS BIGINT) AS n_kept,
           ROUND(SUM(v * cnt_in) * 1.0 / SUM(cnt_in) / 100.0, 4)
               AS trimmed_mean,
           ROUND(SUM(v * cnt_in) * 1.0 / SUM(cnt_in), 4)
               AS trimmed_mean_cents
    FROM contrib GROUP BY g ORDER BY g
    """,
)
def trimmed_mean_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% TWO-SIDED TRIMMED MEAN per event type — the robust location
    estimate between the mean (outlier-dragged) and the median
    (information-discarding), computed EXACTLY without any per-row
    sort-and-slice: off the same groupBy(g,v) frequency collapse as
    `percentile_disc_vs_cont`, each distinct value contributes
    max(0, min(cum, n−k) − max(cum−c, k)) occurrences to the kept
    mass (k = n DIV 10) — rank-range intersection on the cumulative
    table, so ties straddling the trim boundary are split exactly.

    Determinism: all counts and the kept-mass value sum are exact
    int64 (Σ v·cnt_in ≤ the full value sum); the mean is one final
    division rendered at both cents and currency units, ROUND(.,4).

    Scale (100 TB): one map-side collapse to the Heaps-bounded value
    frequency table; windows partition by g over that table; no
    corpus-wide sort (contrast ntile-based trims, which shuffle every
    row into a global ordering)."""
    ev = load(spark, sf_dir, "events")
    s = ev.select(
        F.col("event_type").alias("g"),
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "v"
        ),
    )
    freq = s.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # same one-scan window-totals move as percentile_disc_vs_cont
    j = freq.withColumn("cm", F.sum("c").over(w)).withColumn(
        "n",
        F.sum("c")
        .over(
            Window.partitionBy("g").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("bigint"),
    )
    klo = F.expr("n DIV 10")
    cnt_in = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("cm"), F.col("n") - klo)
        - F.greatest(F.col("cm") - F.col("c"), klo),
    )
    contrib = j.select(
        "g", "n", klo.alias("klo"), cnt_in.alias("cnt_in"), "v"
    )
    return (
        contrib.groupBy("g")
        .agg(
            F.min("n").alias("n"),
            F.min("klo").cast("bigint").alias("k_trim_each_side"),
            F.sum("cnt_in").cast("bigint").alias("n_kept"),
            F.round(
                F.sum(F.col("v") * F.col("cnt_in"))
                * F.lit(1.0)
                / F.sum("cnt_in")
                / F.lit(100.0),
                4,
            ).alias("trimmed_mean"),
            F.round(
                F.sum(F.col("v") * F.col("cnt_in"))
                * F.lit(1.0)
                / F.sum("cnt_in"),
                4,
            ).alias("trimmed_mean_cents"),
        )
        .orderBy("g")
    )


# ------------------------------------------------ geometric_harmonic_means

@register(
    "geometric_harmonic_means",
    oracle="""
    WITH s AS (
        SELECT event_type AS g,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM events
        WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > 0
    ),
    m AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(c AS HUGEINT)) AS DOUBLE) AS sc,
               CAST(SUM(CAST(FLOOR(LN(c) * 1e6) AS BIGINT)) AS BIGINT)
                   AS sln_q,
               CAST(SUM(CAST(1000000000000 // c AS HUGEINT)) AS DOUBLE)
                   AS sinv_q
        FROM s GROUP BY g
    )
    SELECT g, n,
           ROUND(sc / n / 100.0, 4) AS arith_mean,
           ROUND(EXP(CAST(sln_q AS DOUBLE) / (1e6 * n)) / 100.0, 4)
               AS geo_mean,
           ROUND(n * 1e12 / sinv_q / 100.0, 4) AS harm_mean
    FROM m ORDER BY g
    """,
)
def geometric_harmonic_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARITHMETIC / GEOMETRIC / HARMONIC MEANS per event type over
    positive cent values — the Pythagorean-means profile (AM ≥ GM ≥
    HM; how far they spread is a one-line skew/outlier diagnostic,
    and GM/HM are the correct averages for ratios and rates that the
    arithmetic mean silently misestimates).

    Determinism: GM's Σln is ORDER-SENSITIVE as floats — each term is
    floor-quantized to 1e-6 units (int64, exact sum; the anova/
    chi-square rule), then ONE exp of the exact quotient.  HM's Σ1/c
    quantizes via exact INTEGER division 1e12 DIV c (bit-identical in
    both engines, no float ulp risk at all), summed in DECIMAL(38,0)/
    HUGEINT.  The arithmetic mean is an exact-int sum.  One render
    division each, ROUND(.,4).

    Scale (100 TB): ONE map-side-combinable pass to |arms| 4-register
    rows."""
    ev = load(spark, sf_dir, "events")
    c = F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
    s = ev.select(F.col("event_type").alias("g"), c.alias("c")).where(
        F.col("c") > 0
    )
    m = s.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)")).cast("double").alias("sc"),
        F.sum(
            F.floor(F.log(F.col("c")) * F.lit(1e6)).cast("bigint")
        )
        .cast("bigint")
        .alias("sln_q"),
        F.sum(
            F.expr("1000000000000 DIV c").cast("decimal(38,0)")
        )
        .cast("double")
        .alias("sinv_q"),
    )
    return m.select(
        "g",
        "n",
        F.round(F.col("sc") / F.col("n") / F.lit(100.0), 4).alias(
            "arith_mean"
        ),
        F.round(
            F.exp(
                F.col("sln_q").cast("double")
                / (F.lit(1e6) * F.col("n"))
            )
            / F.lit(100.0),
            4,
        ).alias("geo_mean"),
        F.round(
            F.col("n") * F.lit(1e12) / F.col("sinv_q") / F.lit(100.0), 4
        ).alias("harm_mean"),
    ).orderBy("g")
