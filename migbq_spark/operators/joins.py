"""Join operators — SURVEY.md §2.C.

Reference parity: migbq pushes joins to BigQuery; the engine implements
them natively.  `join_anti` is the shape of migbq's retry logic (ranges
attempted but not completed — `[pub:H migbq/MigrationMetadataManager.py]`);
`join_full_outer` is its `check` reconciliation
(`[pub:H migbq/migbq.py check]`).

Scale notes (100 TB):
- Fact⋈fact joins (orders⋈lineitem) shuffle both sides on the join key —
  the key is the natural bucketing column, so a bucketed lakehouse layout
  makes these co-located, and AQE skew-join splits hot keys.
- Dim joins broadcast: `join_broadcast_dim` asserts an explicit
  F.broadcast on the region/nation dims; the 5-way star relies on
  autoBroadcastJoinThreshold + AQE to broadcast customer/nation/region
  and shuffle only the lineitem⋈orders edge.
- `join_asof` deliberately avoids the O(n·m) range self-join: it is a
  single window pass (one shuffle on user_id) carrying the last-seen
  signup timestamp forward — the scalable as-of formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from migbq_spark.catalog import load
from migbq_spark.common import DEC, cents, md5_int, scaled_sum_agg
from migbq_spark.registry import register


@register(
    "join_inner_equi",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, c.c_name, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_custkey", "c_name", "o_totalprice"
    )


@register(
    "join_broadcast_dim",
    oracle="""
    SELECT n.n_nationkey, n.n_name, r.r_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash join on a small dim — the plan must contain
    BroadcastHashJoin (asserted in tests/test_plans.py)."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "inner").select(
        "n_nationkey", "n_name", "r_name"
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT JOIN preserving order-less customers; COUNT(col) skips the
    NULLs a preserved row carries, yielding 0."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(f.c, o.c) AS custkey,
           COALESCE(f.n_f, 0) AS n_f, COALESCE(o.n_o, 0) AS n_o,
           COALESCE(f.n_f, 0) - COALESCE(o.n_o, 0) AS diff
    FROM (SELECT o_custkey AS c, COUNT(*) AS n_f FROM orders
          WHERE o_orderstatus = 'F' GROUP BY o_custkey) f
    FULL OUTER JOIN
         (SELECT o_custkey AS c, COUNT(*) AS n_o FROM orders
          WHERE o_orderstatus = 'O' GROUP BY o_custkey) o
    ON f.c = o.c
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """migbq-`check`-shaped reconciliation: two per-key counts FULL OUTER
    joined with COALESCE'd sides and a mismatch diff."""
    orders = load(spark, sf_dir, "orders")
    f = (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(F.count(F.lit(1)).alias("n_f"))
    )
    o = (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(F.count(F.lit(1)).alias("n_o"))
    )
    j = f.join(o, "c", "full")
    n_f = F.coalesce("n_f", F.lit(0))
    n_o = F.coalesce("n_o", F.lit(0))
    return j.select(
        F.col("c").alias("custkey"),
        n_f.alias("n_f"),
        n_o.alias("n_o"),
        (n_f - n_o).alias("diff"),
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """migbq retry-scan shape: recorded ranges with no completion record.
    Here: orders with no high-quantity lineitem (left_anti on a filtered
    build side)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_anti").select(
        "o_orderkey", "o_orderstatus"
    )


@register(
    "join_range_theta",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber, l.l_shipdate, o.o_orderdate
    FROM lineitem l JOIN orders o
      ON l.l_orderkey = o.o_orderkey AND l.l_shipdate >= o.o_orderdate
    """,
)
def join_range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi key + range predicate: Spark plans the equi part as the join
    key and evaluates the range residual post-match — no cartesian."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return li.join(
        o,
        (li.l_orderkey == o.o_orderkey) & (li.l_shipdate >= o.o_orderdate),
        "inner",
    ).select("o_orderkey", "l_linenumber", "l_shipdate", "o_orderdate")


@register(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "join_star_5way",
    oracle="""
    SELECT r.r_name,
           CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))
                         AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def join_star_5way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star (TPC-H Q5 shape): revenue per region.

    Join order is declared smallest-last and left to Catalyst/AQE: the
    only shuffle join is lineitem⋈orders; customer/nation/region fall
    under the broadcast threshold at any realistic dim size."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    # Revenue in scaled int64 (DECIMAL(18,4) semantics, see
    # common.scaled_sum_agg) — summed post-join with the two-level
    # overflow-safe merge.
    rev_e4 = cents("l_extendedprice") * (
        F.lit(100).cast("long") - cents("l_discount")
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return scaled_sum_agg(
        joined, ["r_name"], [("revenue", rev_e4, 4)], count_alias="n_lines"
    )


@register(
    "join_asof",
    oracle="""
    SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           (SELECT CAST(MAX(s.ts) AS TIMESTAMP) FROM events s
            WHERE s.user_id = p.user_id AND s.event_type = 'signup'
              AND s.ts <= p.ts) AS signup_ts
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the same user's most recent
    prior (or simultaneous) signup.

    Implemented as a single running-max window over the unified event
    stream — one shuffle on user_id, O(n log n), no range self-join.  At
    100 TB this is THE as-of formulation: the naive correlated/range join
    is O(n·m) per user; this is a sort within user partitions.
    """
    ev = load(spark, sf_dir, "events")
    # RANGE (not ROWS) frame on ts alone: the oracle's predicate is
    # `s.ts <= p.ts`, so a signup sharing the purchase's exact timestamp
    # must be in-frame regardless of event_id ordering — a ROWS frame
    # with an event_id tiebreak would exclude a same-ts signup whose
    # event_id sorts after the purchase.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    signup_ts = F.max(
        F.when(F.col("event_type") == "signup", F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("signup_ts", signup_ts)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "signup_ts",
        )
    )


@register(
    "join_skew_salted",
    oracle="""
    WITH skewed AS (
        SELECT event_id, value,
               CASE WHEN event_id % 3 = 0 THEN 0 ELSE user_id END AS skew_key
        FROM events
    )
    SELECT c.c_custkey AS user_key, c.c_name,
           COUNT(*) AS n_events,
           SUM(CAST(s.value AS DECIMAL(18,2))) AS sum_value
    FROM skewed s JOIN customer c ON s.skew_key = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit salted join for a skewed key distribution.

    A third of all events are remapped to key 0 (synthetic hot key); a
    plain hash join would send that entire key to one reducer.  Salting:
    the big side gets `salt = event_id % 8`, the small side is exploded
    ×8 (one copy per salt), and the join runs on (key, salt) — the hot
    key now spreads over 8 reducers.  The salt never escapes the join:
    aggregation collapses it, so the result is hash-identical to the
    unsalted oracle join.

    Scale (100 TB): this is the manual form of what AQE skew-join does
    adaptively (splitting oversized partitions); explicit salting still
    matters when the skew is in a shuffle ABOVE a join (grouped agg on a
    hot key) or when AQE's post-shuffle stats arrive too late.  The ×8
    dim replication costs 8·|dim| rows — only ever salt against a
    broadcastable-or-small side.
    """
    ev = load(spark, sf_dir, "events")
    dim = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    n_salt = 8
    big = ev.select(
        "event_id",
        "value",
        F.when(F.col("event_id") % 3 == 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("skew_key"),
        F.pmod("event_id", F.lit(n_salt)).alias("salt"),
    )
    salted_dim = dim.select(
        "c_custkey",
        "c_name",
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("salt"),
    )
    return (
        big.join(
            salted_dim,
            (big.skew_key == salted_dim.c_custkey) & (big.salt == salted_dim.salt),
        )
        .groupBy(F.col("c_custkey").alias("user_key"), "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
    )


@register(
    "join_interval_events",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           COUNT(*) AS n_clicks
    FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts <= p.ts
    GROUP BY p.event_id, p.user_id
    """,
)
def join_interval_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: clicks within the hour preceding each purchase by
    the same user — the batch form of a stream-stream time-interval join
    (attribution window).

    The equi-key (user_id) carries the shuffle; the time predicate then
    filters within each key's partition, so cost is per-user, not
    global-cross.  In Structured Streaming the identical predicate pair
    (`p.ts BETWEEN c.ts AND c.ts + 1h` + watermarks on both sides) is
    what bounds the join state retention — same plan shape, streaming
    state GC for free.
    """
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    return (
        p.join(
            c,
            (p.user_id == c.c_user)
            & (c.c_ts >= p.p_ts - F.expr("INTERVAL 1 HOUR"))
            & (c.c_ts <= p.p_ts),
        )
        .groupBy("purchase_id", "user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )


@register(
    "join_null_safe",
    oracle="""
    WITH o AS (SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS k
               FROM orders),
    d AS (SELECT DISTINCT NULLIF(o_orderstatus, 'P') AS k FROM orders)
    SELECT d.k, COUNT(o.o_orderkey) AS n
    FROM d JOIN o ON d.k IS NOT DISTINCT FROM o.k
    GROUP BY d.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of silently dropping — the semantics a
    dimension join needs when "unknown" is itself a category (a plain
    equi-join loses every NULL-keyed fact row).  The nullable key is
    derived with NULLIF so the fixture genuinely exercises the NULL
    branch.

    Scale (100 TB): null-safe equality still hash-partitions (NULL
    hashes to one partition — if "unknown" is a HOT key, pre-split it
    with a salt exactly like join_skew_salted); here the distinct dim
    side is tiny and broadcasts."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.nullif("o_orderstatus", F.lit("P")).alias("k")
    )
    d = o.select("k").distinct()
    return (
        d.alias("d")
        .join(o.alias("o"), F.col("d.k").eqNullSafe(F.col("o.k")))
        .groupBy(F.col("d.k").alias("k"))
        .agg(F.count(F.col("o.o_orderkey")).alias("n"))
    )


@register(
    "join_asof_nearest",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS pus
        FROM events WHERE event_type = 'purchase'
    ),
    s AS (
        SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS sus
        FROM events WHERE event_type = 'signup'
    ),
    cand AS (
        SELECT p.event_id AS purchase_id, s.event_id AS signup_id,
               abs(p.pus - s.sus) AS dist_us,
               ROW_NUMBER() OVER (PARTITION BY p.event_id
                                  ORDER BY abs(p.pus - s.sus), s.event_id)
                   AS rn
        FROM p JOIN s ON p.user_id = s.user_id
                     AND abs(p.pus - s.sus) <= 7200000000
    )
    SELECT purchase_id, signup_id, dist_us FROM cand WHERE rn = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-either-direction as-of join with tolerance: each purchase
    matched to the same user's CLOSEST signup within ±2 hours —
    backward-only as-of (`join_asof`) misses the sensor/correction
    reading that arrives just AFTER the anchor.  Distance runs on
    integer epoch-µs; the argmin is a per-anchor rank with the
    candidate's event_id as tiebreak, so equidistant-before/after picks
    deterministically.

    Scale (100 TB): the tolerance bounds the candidate pair space
    (user-co-partitioned join, one shuffle each side); the rank-1
    window is per-anchor TopK, never a global sort.  For dense series,
    pre-bucketing both sides by time-bucket (±1 neighbor bucket) turns
    the tolerance predicate into an equi-join on (user, bucket) — the
    interval-join trick of join_interval_events."""
    e = load(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("pus"),
    )
    s = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id").alias("s_user"),
        F.unix_micros("ts").alias("sus"),
    )
    dist = F.abs(F.col("pus") - F.col("sus"))
    cand = p.join(
        s,
        (F.col("user_id") == F.col("s_user")) & (dist <= 7_200_000_000),
    ).select("purchase_id", "signup_id", dist.alias("dist_us"))
    w = Window.partitionBy("purchase_id").orderBy("dist_us", "signup_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "parts_unshipped_by_region",
    oracle="""
    WITH r AS (SELECT MIN(r_name) AS rname FROM region),
    region_sups AS (
        SELECT s.s_suppkey
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region rg ON n.n_regionkey = rg.r_regionkey
        JOIN r ON rg.r_name = r.rname
    ),
    shipped AS (
        SELECT DISTINCT l.l_partkey
        FROM lineitem l JOIN region_sups rs ON l.l_suppkey = rs.s_suppkey
    )
    SELECT p.p_brand,
           COUNT(*) AS n_parts,
           CAST(SUM(CASE WHEN sh.l_partkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unshipped
    FROM part p LEFT JOIN shipped sh ON p.p_partkey = sh.l_partkey
    GROUP BY p.p_brand
    """,
)
def parts_unshipped_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage/assortment gap report across the full dimension chain
    (region → nation → supplier → lineitem → part): per brand, how many
    parts were never shipped by any supplier of the alphabetically
    first region — the catalog-coverage question a supply planner asks.
    The probe region is derived in-query (MIN(r_name)) so the fixture
    stays sf-independent.

    Scale (100 TB): the dim chain (region/nation/supplier) collapses to
    a broadcast supplier-key set; lineitem is semi-reduced to DISTINCT
    shipped partkeys BEFORE touching part (|parts| rows, not |fact|);
    the final LEFT JOIN + conditional count is |parts|-sized."""
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    supplier = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    rname = region.agg(F.min("r_name").alias("rname"))
    region_sups = (
        supplier.join(
            nation, supplier.s_nationkey == nation.n_nationkey
        )
        .join(region, nation.n_regionkey == region.r_regionkey)
        .join(F.broadcast(rname), F.col("r_name") == F.col("rname"))
        .select("s_suppkey")
    )
    shipped = (
        li.join(F.broadcast(region_sups), li.l_suppkey == F.col("s_suppkey"))
        .select("l_partkey")
        .distinct()
    )
    return (
        part.join(shipped, part.p_partkey == shipped.l_partkey, "left")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(
                F.when(F.col("l_partkey").isNull(), 1).otherwise(0)
            ).alias("n_unshipped"),
        )
    )


@register(
    "join_asof_forward",
    oracle="""
    SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           (SELECT CAST(MIN(s.ts) AS TIMESTAMP) FROM events s
            WHERE s.user_id = p.user_id AND s.event_type = 'error'
              AND s.ts >= p.ts) AS next_error_ts
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each purchase matched to the same user's
    next error at-or-after it — the symmetric completion of `join_asof`
    (backward) and `join_asof_nearest` (tolerance).

    Same single-window formulation, mirrored: a running MIN over the
    FORWARD frame (current row → unbounded following) carries the
    nearest future error timestamp; one shuffle on user_id, no range
    self-join — the O(n log n) shape that survives 100 TB where the
    correlated subquery the oracle uses is O(n·m) per user."""
    ev = load(spark, sf_dir, "events")
    # RANGE frame on ts (mirror of join_asof): oracle predicate is
    # `s.ts >= p.ts`, so a same-ts error with a SMALLER event_id must be
    # in-frame — a ROWS frame ordered by (ts, event_id) would miss it.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(Window.currentRow, Window.unboundedFollowing)
    )
    next_error_ts = F.min(
        F.when(F.col("event_type") == "error", F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("next_error_ts", next_error_ts)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "next_error_ts",
        )
    )


@register(
    "join_bloom_prefilter",
    oracle="""
    WITH dim AS (
        SELECT o_orderkey AS k FROM orders
        WHERE o_orderpriority = '1-URGENT'
    ),
    pos AS (
        SELECT DISTINCT
               CAST('0x' || substr(md5(j || ':' || k), 1, 15) AS BIGINT)
               % 8192 AS pos
        FROM dim, (VALUES (0), (1)) t(j)
    ),
    f AS (
        SELECT l_orderkey,
               CAST('0x' || substr(md5('0:' || l_orderkey), 1, 15) AS BIGINT)
               % 8192 AS p0,
               CAST('0x' || substr(md5('1:' || l_orderkey), 1, 15) AS BIGINT)
               % 8192 AS p1
        FROM lineitem
    ),
    pass AS (
        SELECT l_orderkey FROM f
        WHERE p0 IN (SELECT pos FROM pos) AND p1 IN (SELECT pos FROM pos)
    ),
    stats AS (
        SELECT (SELECT COUNT(*) FROM f) AS n_fact,
               (SELECT COUNT(*) FROM pass) AS n_bloom_pass,
               (SELECT COUNT(*) FROM f
                WHERE l_orderkey IN (SELECT k FROM dim)) AS n_exact
    )
    SELECT n_fact, n_bloom_pass, n_exact,
           n_bloom_pass - n_exact AS n_false_pos,
           ROUND((n_bloom_pass - n_exact) * 1.0 / (n_fact - n_exact), 4)
               AS fp_rate
    FROM stats
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER JOIN PREFILTER — the runtime-row-filter pattern that
    makes selective fact⋈dim joins cheap at 100 TB: instead of
    shuffling every lineitem row to discover that most match no urgent
    order, build a tiny bit-set from the dim side's join keys and
    prefilter the fact scan to rows whose key MIGHT match, then let the
    exact join remove the (audited) false positives.

    Portable construction so the filter itself is hash-verifiable in
    DuckDB: k=2 positions per key, position_j = md5-derived 60-bit int
    of ``j ':' key`` mod m=8192 (the md5 family shared with
    `_portable_minhash_df`).  The "bloom" is the DISTINCT position set
    (≤ 2·|dim| ints), applied as broadcast membership joins — one per
    hash function — which is exactly how a real engine's runtime bloom
    filter behaves (Spark's own
    ``spark.sql.optimizer.runtimeFilter.bloomFilter.enabled`` injects
    the same shape below an exchange).  Output is the audit a pipeline
    operator wants: fact rows, bloom-pass rows, exact matches, false
    positives, and the fp rate among true negatives.

    Scale (100 TB): the position set is bounded by the dim key count
    (broadcastable whenever the dim side is join-broadcastable; at
    2·|dim| > broadcast threshold you shrink m or fall back to the
    plain shuffle join); the fact side is scanned ONCE — the three
    membership probes are broadcast LEFT joins that annotate flags in
    the same stage as the scan (no row multiplication: positions are
    distinct, dim keys unique), and all three counts come out of one
    partial-aggregable rollup, never shuffling a fact row.  fp_rate ≈
    (1-e^(-kn/m))^k — m sized so the rate is non-zero at test scale
    and the false-positive path is actually exercised."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")

    def h(prefix, key) -> F.Column:
        return md5_int(F.concat_ws(":", prefix, key)) % 8192

    dim = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("k")
    )
    pos = (
        dim.select(
            F.explode(
                F.array(h(F.lit(0), F.col("k")), h(F.lit(1), F.col("k")))
            ).alias("pos")
        )
        .distinct()
    )
    f = li.select(
        "l_orderkey",
        h(F.lit(0), F.col("l_orderkey")).alias("p0"),
        h(F.lit(1), F.col("l_orderkey")).alias("p1"),
    )
    # ONE pass over the fact side: three broadcast LEFT joins annotate
    # each row with membership flags (pos is distinct and dim keys are
    # unique, so no row multiplication), then a single combinable
    # aggregate produces all three counts.  The first draft ran three
    # separate fact scans (one per count) — correct, but 3x the scan
    # cost, which is exactly what a 100 TB fact table cannot afford.
    p0 = pos.select(F.col("pos").alias("pos0"))
    p1 = pos.select(F.col("pos").alias("pos1"))
    flagged = (
        f.join(F.broadcast(p0), f.p0 == p0.pos0, "left")
        .join(F.broadcast(p1), F.col("p1") == p1.pos1, "left")
        .join(F.broadcast(dim), F.col("l_orderkey") == dim.k, "left")
        .select(
            (
                F.col("pos0").isNotNull() & F.col("pos1").isNotNull()
            ).cast("bigint").alias("in_bloom"),
            F.col("k").isNotNull().cast("bigint").alias("in_exact"),
        )
    )
    stats = flagged.agg(
        F.count(F.lit(1)).alias("n_fact"),
        F.sum("in_bloom").alias("n_bloom_pass"),
        F.sum("in_exact").alias("n_exact"),
    )
    return stats.select(
        "n_fact",
        "n_bloom_pass",
        "n_exact",
        (F.col("n_bloom_pass") - F.col("n_exact")).alias("n_false_pos"),
        F.round(
            (F.col("n_bloom_pass") - F.col("n_exact"))
            * F.lit(1.0)
            / (F.col("n_fact") - F.col("n_exact")),
            4,
        ).alias("fp_rate"),
    )


# -------------------------------------------------- join_anti_null_aware

@register(
    "join_anti_null_aware",
    oracle="""
    SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_custs
    FROM customer c
    WHERE c.c_custkey NOT IN (
        SELECT CASE WHEN o.o_totalprice < 0 THEN NULL
                    ELSE o.o_custkey END
        FROM orders o
        WHERE o.o_orderstatus = 'F'
    )
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def join_anti_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-AWARE ANTI JOIN — the `NOT IN (subquery)` three-valued-
    logic trap as a first-class operator: when the subquery column is
    NULLABLE, `NOT IN` must return NO rows if ANY null appears (x <>
    NULL is unknown), so Spark compiles a BroadcastHashJoin marked
    NullAwareAntiJoin (a plain LeftAnti, which `join_anti` covers,
    would WRONGLY keep rows).  The probe column here is nullable BY
    TYPE (the CASE arm) but never null IN FACT, so the answer is
    non-trivial while the plan still must take the null-aware path —
    exactly the shape that silently corrupts migrations when an
    engine rewrites NOT IN as anti-join without the null check.

    Determinism: exact counts over integer keys; segment sort.

    Scale (100 TB): Spark ONLY supports null-aware anti as a
    broadcast (the null check needs the whole build side per task) —
    at scale you rewrite to NOT EXISTS (left anti) once the column
    is provably non-null, which is the guidance this operator's
    docstring encodes; the build side here is the filtered orders
    key projection."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    c.createOrReplaceTempView("mq_naaj_cust")
    o.createOrReplaceTempView("mq_naaj_orders")
    return spark.sql(
        """
        SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_custs
        FROM mq_naaj_cust c
        WHERE c.c_custkey NOT IN (
            SELECT CASE WHEN o.o_totalprice < 0 THEN NULL
                        ELSE o.o_custkey END
            FROM mq_naaj_orders o
            WHERE o.o_orderstatus = 'F'
        )
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment
        """
    )


# ------------------------------------------------------ join_asof_tolerance

@register(
    "join_asof_tolerance",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, ts FROM events WHERE event_type = 'click'
    ),
    m AS (
        SELECT p.event_id, p.user_id, p.ts,
               MAX(c.ts) AS click_ts
        FROM p LEFT JOIN c
          ON c.user_id = p.user_id
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL 48 HOUR
        GROUP BY p.event_id, p.user_id, p.ts
    )
    SELECT event_id, user_id,
           CAST(FLOOR(date_part('epoch', CAST(ts AS TIMESTAMP)))
                AS BIGINT) AS purchase_epoch,
           CAST(FLOOR(date_part('epoch', CAST(click_ts AS TIMESTAMP)))
                AS BIGINT) AS click_epoch,
           CAST(FLOOR(date_part('epoch', CAST(ts AS TIMESTAMP)))
                - FLOOR(date_part('epoch', CAST(click_ts AS TIMESTAMP)))
                AS BIGINT) AS gap_seconds
    FROM m ORDER BY event_id
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN WITH TOLERANCE: each purchase matches the most
    recent click by the same user within a 48-hour lookback, else
    NULL — the bounded-staleness variant `join_asof` (unbounded
    backward) and `join_asof_nearest`/`_forward` don't cover; the
    tolerance is what keeps state bounded in a streaming or
    incremental re-run of the same logic.

    Determinism: match is MAX(click ts) within the window — unique
    per purchase; epochs exact int64 (unix_timestamp truncation =
    floor(epoch), the ewma/interval precedent).

    Scale (100 TB): the range predicate makes this a BOUNDED-WINDOW
    range join on the user key: both sides shuffle once on user_id
    and the per-user merge touches only 48 h of clicks per purchase
    (with AQE skew splitting hot users); the LEFT join + GROUP BY
    collapses candidates map-side.  A plain per-user window sort
    would ALSO work but orders ALL clicks per user; the tolerance
    predicate is what prunes at 100 TB."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    m = (
        p.join(
            c,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("c_ts") <= F.col("ts"))
            & (
                F.col("c_ts")
                >= F.col("ts") - F.expr("INTERVAL 48 HOUR")
            ),
            "left",
        )
        .groupBy("event_id", "user_id", "ts")
        .agg(F.max("c_ts").alias("click_ts"))
    )
    pe = F.unix_timestamp("ts")
    ce = F.unix_timestamp("click_ts")
    return m.select(
        "event_id",
        "user_id",
        pe.cast("bigint").alias("purchase_epoch"),
        ce.cast("bigint").alias("click_epoch"),
        (pe - ce).cast("bigint").alias("gap_seconds"),
    ).orderBy("event_id")
