"""Macro benchmark-shaped queries (§2.K extension batch 4): full
TPC-H-style composite workloads (the shapes analysts actually run) and
the higher-order array-function surface.

These exercise many operators at once — multi-way joins + selective
filters + decimal aggregation + total-order top-k — and are the queries
whose PLANS matter most at 100 TB: filters must reach every scan, dims
must broadcast, the agg must be partial+final, and the top-k must be
TakeOrderedAndProject (never a global sort).

Determinism per SURVEY.md §7.4: decimal-exact revenue
(2dp × 2dp → exact 4dp products, exact sums), unique tiebreaks inside
every ORDER BY feeding a LIMIT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from migbq_spark.catalog import load
from migbq_spark.common import cents, dec
from migbq_spark.registry import register

#: Exact decimal revenue: DECIMAL(18,2) price × (1 − DECIMAL(18,2)
#: discount) widened to an exact 4-dp product before summing.
def _revenue() -> F.Column:
    ep = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (ep * (F.lit(1).cast("decimal(18,2)") - disc)).cast("decimal(18,4)")


_REV_SQL = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
    " AS DECIMAL(18,4))"
)


@register(
    "tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           CAST(SUM({_REV_SQL}) AS DECIMAL(38,4)) AS revenue,
           CAST(o.o_orderdate AS DATE) AS o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l.l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped high-value orders for one market
    segment — selective filters on all three tables, 3-way join,
    decimal revenue agg, top-10 under a total order (revenue DESC with
    unique l_orderkey tiebreak → deterministic LIMIT).

    Plan contract at scale: both date filters push to the parquet
    scans, customer (filtered) broadcasts, the orders⋈lineitem edge is
    the only shuffle, and the LIMIT executes as TakeOrderedAndProject
    (heap of 10 per partition), never a global sort."""
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "l_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.sum(_revenue()).cast("decimal(38,4)").cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM({_REV_SQL}) AS DECIMAL(38,4)) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer,
    top-20.  The returnflag filter pushes into the lineitem scan
    (prunes ~⅔ of the fact table before the join); nation broadcasts;
    c_custkey tiebreak makes the LIMIT deterministic."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(_revenue()).cast("decimal(38,4)").cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q5_local_supplier",
    oracle=f"""
    SELECT n.n_name,
           CAST(SUM({_REV_SQL}) AS DECIMAL(38,4)) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 EXACT semantics (`join_star_5way` is the Q5 *shape*
    without the local-supplier constraint): revenue per nation where the
    supplier and the ordering customer share the nation, one region, one
    order-year.

    The distinguishing edge is c_nationkey = s_nationkey — a join
    predicate BETWEEN two dimension paths, which is why Q5 is the
    canonical join-order benchmark.  Plan at scale: nation/region are
    pinned broadcasts (25/5 rows at ANY scale factor); customer and
    supplier are left UNHINTED — they broadcast at fixture scale but
    grow linearly with SF (~1 B suppliers at 100 TB), so the right
    physical choice is AQE's, not a baked-in hint.  The date filter
    pushes into the orders scan; lineitem⋈orders is the one guaranteed
    shuffle.  Deterministic: exact decimal revenue, n_name tiebreak."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(_revenue()).cast("decimal(38,4)").cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "vec_hof_norm",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(sqrt(SUM(CAST(u.val AS DOUBLE) * CAST(u.val AS DOUBLE))), 4)
               AS l2_norm
    FROM embeddings,
         LATERAL (SELECT unnest(embedding) AS val) u
    GROUP BY vec_id, len(embedding)
    """,
)
def vec_hof_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions, JVM-side: per-vector L2 norm via
    transform + aggregate (no explode, no shuffle — the entire
    computation is row-local over the array column; the oracle must
    unnest because ANSI SQL lacks array lambdas).  Validates the
    fixture's unit-norm contract (FIXTURES.md: norms ∈ [0.9999999,
    1.0000001] → 1.0 at 4 dp).  At 100 TB this is the pattern for all
    vector arithmetic that doesn't need cross-row pairs."""
    e = load(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(sq_sum), 4).alias("l2_norm"),
    )


@register(
    "tpch_q18_large_volume",
    oracle="""
    WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2))
                   AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_orderdate, big.total_qty
    FROM big
    JOIN orders o ON big.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY big.total_qty DESC, o.o_orderkey
    LIMIT 20
    """,
)
def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): aggregate the fact
    table FIRST (GROUP BY + HAVING shrinks lineitem to qualifying
    orders), then join the survivors back to orders/customer — the
    agg-before-join ordering is the scale-defining choice: the join
    input drops from |lineitem| to |qualifying orders| before any wide
    row is built.  Deterministic top-20 via the unique o_orderkey
    tiebreak."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("double")
            .alias("total_qty")
        )
        .filter(F.col("total_qty") > 150)
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(20)
    )


@register(
    "tpch_q12_priority_split",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
    GROUP BY l.l_returnflag
    """,
)
def tpch_q12_priority_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (priority split by line class): date-filtered
    lineitem joined to orders, conditional counts by priority class.
    (The fixture's lineitem has no l_shipmode, so the Q12 grouping axis
    is l_returnflag — same join + conditional-aggregation shape.)  The
    ship-date filter is pushed to the parquet scan (partition/row-group
    pruning at scale); the conditional SUMs are exact integer CASE
    aggregations — no decimal needed.

    Scale (100 TB): filter-before-join shrinks the fact side first;
    the join shuffles on orderkey (or is co-located under bucketing —
    join_bucket_colocated); the rollup collapses to |flags| rows
    map-side."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.to_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        .select("l_orderkey", "l_returnflag")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ------------------------------------------- orders_fulfillment_sla

@register(
    "orders_fulfillment_sla",
    oracle="""
    WITH last_ship AS (
        SELECT l_orderkey, MAX(l_shipdate) AS last_ship
        FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
        SELECT strftime(o.o_orderdate, '%Y-%m') AS order_month,
               datediff('day', o.o_orderdate, ls.last_ship) AS lead_days
        FROM orders o JOIN last_ship ls ON ls.l_orderkey = o.o_orderkey
    )
    SELECT order_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN lead_days <= 30 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_within_30d,
           CAST(SUM(CASE WHEN lead_days <= 90 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_within_90d,
           CAST(MAX(lead_days) AS BIGINT) AS worst_lead_days,
           ROUND(SUM(CASE WHEN lead_days <= 30 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS sla_30d_rate
    FROM j GROUP BY order_month
    """,
)
def orders_fulfillment_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-FULFILLMENT SLA by order month: share of orders whose LAST
    line item ships within 30/90 days of the order date, plus the
    worst observed lead time — the completion-latency rollup an ops
    team tracks per cohort (an order is fulfilled when its FINAL line
    ships, so the per-order MAX, not the per-line date, is the SLA
    clock; counting lines would overstate on-time performance).

    Determinism: date arithmetic and counts are exact; the single
    rate divides two exact integers behind ROUND(-,4).

    Scale (100 TB): the lineitem rollup collapses map-side on
    l_orderkey, joins orders on the SAME key (co-partitioned with the
    natural layout; AQE can plan either side), and the month rollup
    is map-side combinable to |months| rows."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    last_ship = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("last_ship")
    )
    j = o.join(last_ship, o["o_orderkey"] == last_ship["l_orderkey"]).select(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.datediff("last_ship", "o_orderdate").alias("lead_days"),
    )
    in30 = F.sum((F.col("lead_days") <= 30).cast("int")).cast("bigint")
    in90 = F.sum((F.col("lead_days") <= 90).cast("int")).cast("bigint")
    return j.groupBy("order_month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        in30.alias("n_within_30d"),
        in90.alias("n_within_90d"),
        F.max("lead_days").cast("bigint").alias("worst_lead_days"),
        F.round(
            F.sum((F.col("lead_days") <= 30).cast("int"))
            * F.lit(1.0)
            / F.count(F.lit(1)),
            4,
        ).alias("sla_30d_rate"),
    )


# ------------------------------------------------ tpch_q6_pipe_syntax

@register(
    "tpch_q6_pipe_syntax",
    oracle="""
    SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_discount AS DECIMAL(18,2))
                          AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change) expressed in Spark 4's SQL
    PIPE SYNTAX (`FROM t |> WHERE ... |> AGGREGATE ...`, SPARK-49555)
    — the linear top-to-bottom dataflow form that reads like the
    DataFrame chain it compiles to.  Proves the engine's SQL surface
    includes the modern pipe dialect and that it optimizes identically
    to classic SQL: the same pushed filters and two-level aggregation
    the plan contract pins for the flagship.

    Money semantics follow the house DECIMAL rule (§7.4): per-row
    DECIMAL products, exact decimal SUM, one terminal double.

    Scale (100 TB): three pushed scan predicates prune at the parquet
    reader; the aggregate is a map-side-combinable scalar — Q6 is the
    canonical predicate-pushdown benchmark."""
    # Q6's canonical 1994 window predates this fixture's 1995-2001
    # ship-date span — shifted to 1996 so the filter selects real rows
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("mq_q6_lineitem")
    return spark.sql(
        """
        FROM mq_q6_lineitem
        |> WHERE l_shipdate >= DATE '1996-01-01'
            AND l_shipdate < DATE '1997-01-01'
            AND l_discount BETWEEN 0.05 AND 0.07
            AND l_quantity < 24
        |> AGGREGATE
            CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_discount AS DECIMAL(18,2))
                          AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
            CAST(COUNT(*) AS BIGINT) AS n_lines
        """
    )


# ------------------------------------------------ tpch_q14_promo_effect

@register(
    "tpch_q14_promo_effect",
    oracle="""
    SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type LIKE 'PROMO%%'
               THEN CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                    AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END)
               / SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                    AS DECIMAL(18,4))), 4) AS promo_revenue_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= DATE '1995-09-01'
      AND l.l_shipdate < DATE '1995-10-01'
    """,
)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): the percentage of one month's
    discounted revenue that came from PROMO parts — the conditional-
    revenue-share pattern (CASE inside SUM over a dimension attribute)
    that every campaign-attribution rollup reuses.  Completes the
    implemented TPC-H set alongside Q1/Q3/Q5/Q10/Q12/Q18 (+ Q6 above).

    Money follows the DECIMAL rule; the single output ratio divides
    two exact decimal sums behind ROUND(·,4).

    Scale (100 TB): the ship-date filter pushes to the scan and prunes
    to one month BEFORE the join; part joins as a broadcast dim; the
    conditional sums are map-side combinable scalars."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    disc = (
        dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    ).cast("decimal(18,4)")
    j = li.filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01"))
        & (F.col("l_shipdate") < F.lit("1995-10-01"))
    ).join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    promo = F.when(
        F.col("p_type").like("PROMO%"), disc
    ).otherwise(F.lit(0).cast("decimal(18,4)"))
    return j.agg(
        F.round(
            F.lit(100.0) * F.sum(promo) / F.sum(disc), 4
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (Order Priority Checking), adapted to this fixture's
    columns: the spec's `l_commitdate < l_receiptdate` lateness test
    can't exist here (lineitem carries neither column — FIXTURES.md),
    so "late" becomes `l_shipdate > o_orderdate + 60 days`, preserving
    Q4's defining shape: a quarter-scoped EXISTS semi-join from orders
    into lineitem with a correlated date predicate, counted by
    priority bucket.

    Scale: the quarter filter pushes into the orders scan; the
    EXISTS compiles to a LEFT SEMI hash join on l_orderkey (each
    order keeps at most one match — no fan-out), and the priority
    rollup collapses map-side to 5 rows.  Deterministic: exact
    counts, priority sort.

    Reference parity: SURVEY.md §2 [pub: TPC-H spec Q4]."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DECIMAL(38,4)) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
               {_REV_SQL} AS volume
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l.l_shipdate >= TIMESTAMP '1995-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01'
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (Volume Shipping): bilateral trade volume between two
    nations by ship year — supplier's nation on one side, ordering
    customer's nation on the other, both directions reported.  The
    fixture's nations are NATION_0..24 (FIXTURES.md), so the spec's
    FRANCE/GERMANY pair becomes NATION_1/NATION_2; the 1995-1996 ship
    window is the spec's own and lands inside this fixture's
    1995-2001 ship-date span.

    Plan at scale: the two nation dims are pinned broadcasts with the
    disjunctive pair predicate evaluated post-join (25 rows each at
    any SF); supplier/customer stay unhinted for AQE (same call as
    `tpch_q5_local_supplier`); the ship-window filter pushes into the
    lineitem scan, and lineitem⋈orders is the one guaranteed
    shuffle.  Deterministic: exact decimal volume sums, full key sort.

    Reference parity: SURVEY.md §2 [pub: TPC-H spec Q7]."""
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_name").alias("supp_nation"),
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("cust_nation"),
    )
    joined = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
            _revenue().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.sum("volume")
            .cast("decimal(38,4)")
            .cast("double")
            .alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q13_cust_order_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '5-LOW'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13_cust_order_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q13 (Customer Distribution), fixture-adapted: how many
    customers placed 0, 1, 2, ... qualifying orders — the double
    aggregation over a FILTERED LEFT OUTER join whose whole point is
    keeping the zero-order customers (an inner join silently deletes
    the c_count=0 bucket, the classic Q13 trap).  The spec filters on
    o_comment NOT LIKE '%special%requests%'; this fixture carries no
    comment column (FIXTURES.md), so the stand-in predicate
    o_orderpriority <> '5-LOW' preserves the defining shape: the
    filter must live IN the join condition, not a WHERE (a WHERE
    would turn the outer join inner).

    Scale: the join shuffles both sides on custkey once; the first
    aggregation collapses to |customers| rows co-partitioned with the
    join output (no extra exchange), the second to ~40 count buckets
    map-side.  Deterministic: exact counts, full sort.

    Reference parity: SURVEY.md §2 [pub: TPC-H spec Q13]."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "5-LOW"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "tpch_q22_idle_customers",
    oracle="""
    WITH sel AS (
        SELECT c_custkey, c_nationkey % 10 AS cntry,
               CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        FROM customer
        WHERE c_nationkey % 10 IN (1, 3, 5)
    ),
    avgbal AS (
        SELECT CAST(SUM(bal) AS DOUBLE) / COUNT(*) AS av
        FROM sel WHERE bal > 0
    ),
    idle AS (
        SELECT s.cntry, s.bal
        FROM sel s CROSS JOIN avgbal
        WHERE CAST(s.bal AS DOUBLE) > avgbal.av
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = s.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    )
    SELECT cntry, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(bal) AS DECIMAL(38,2)) AS totacctbal
    FROM idle
    GROUP BY cntry
    ORDER BY cntry
    """,
)
def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (Global Sales Opportunity), fixture-adapted: wealthy
    customers (account balance above the average POSITIVE balance of
    their segment) gone idle — the anti-join + scalar-subquery
    composition.  Two fixture adaptations (FIXTURES.md): the spec
    segments on phone country codes, but this fixture has no phone
    column, so `c_nationkey % 10 IN (1, 3, 5)` stands in; and EVERY
    fixture customer has at least one order (the spec's "never
    ordered" is vacuously empty here), so idle = no orders since
    1999-01-01 — the anti-join now runs against the date-FILTERED
    orders projection, same shape, non-empty answer.

    Scale: the scalar average is one map-side aggregation broadcast
    back; the NOT EXISTS compiles to a LEFT ANTI hash join against
    orders' custkey projection; the rollup collapses to 3 rows.
    Deterministic: exact DECIMAL balances, cntry sort.

    Reference parity: SURVEY.md §2 [pub: TPC-H spec Q22]."""
    sel = (
        load(spark, sf_dir, "customer")
        .filter((F.col("c_nationkey") % 10).isin(1, 3, 5))
        .select(
            "c_custkey",
            (F.col("c_nationkey") % 10).alias("cntry"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
        )
    )
    avgbal = sel.filter(F.col("bal") > 0).agg(
        (F.sum("bal").cast("double") / F.count(F.lit(1))).alias("av")
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1999-01-01")
        .select("o_custkey")
    )
    idle = (
        sel.crossJoin(F.broadcast(avgbal))
        .filter(F.col("bal").cast("double") > F.col("av"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return (
        idle.groupBy("cntry")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.sum("bal")
            .cast("decimal(38,2)")
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("cntry")
    )


@register(
    "lateral_topk_per_cust",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice, t.rk
    FROM customer c,
    LATERAL (
        SELECT o.o_orderkey, o.o_totalprice,
               ROW_NUMBER() OVER (ORDER BY o.o_totalprice DESC,
                                           o.o_orderkey) AS rk
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 3
    ) t
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def lateral_topk_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL CORRELATED SUBQUERY (Spark 4 `LATERAL` join): top-3
    orders by price per BUILDING-segment customer — the "top-N per
    row of the outer table" idiom SQL users reach for before learning
    the window rewrite.  Spark's Catalyst DECORRELATES the lateral
    into the rank-filter plan (DecorrelateInnerQuery), so expressing
    it either way costs the same — which is exactly what this
    operator documents: the lateral SURFACE is supported, and the
    physical plan is the window top-k, not a per-customer rescan.

    Determinism: total order (price DESC, orderkey) inside each
    lateral; exact values.

    Scale (100 TB): after decorrelation this is one shuffle on
    custkey + a rank window — per-outer-row re-execution (the naive
    lateral reading) never happens."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    c.createOrReplaceTempView("mq_lat_cust")
    o.createOrReplaceTempView("mq_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice, t.rk
        FROM mq_lat_cust c,
        LATERAL (
            SELECT o.o_orderkey, o.o_totalprice,
                   ROW_NUMBER() OVER (ORDER BY o.o_totalprice DESC,
                                               o.o_orderkey) AS rk
            FROM mq_lat_orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o.o_totalprice DESC, o.o_orderkey
            LIMIT 3
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM({_REV_SQL}) AS DECIMAL(38,4)) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (Top Supplier): the supplier(s) with maximum revenue
    in a quarter — the create-view-then-self-compare query: the
    revenue rollup is consumed TWICE (once for the max scalar, once
    for the equality probe), the spec's stand-in for view reuse.

    Scale: the rollup collapses lineitem to |suppliers| map-side and
    is localCheckpointed so its one shuffle serves both consumers
    (Catalyst would otherwise re-derive the lineage and rescan the
    corpus per branch); the max is a
    1-row broadcast, the supplier join broadcasts the rollup side at
    fixture scale and AQE decides at 100 TB.  Deterministic: exact
    decimal revenue, suppkey sort; ties (multiple max suppliers) are
    all returned, as the spec requires.

    Reference parity: SURVEY.md §2 [pub: TPC-H spec Q15]."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_revenue()).cast("decimal(38,4)").alias("total_revenue"))
        .localCheckpoint(eager=True)
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    s = load(spark, sf_dir, "supplier")
    return (
        s.join(
            revenue, F.col("s_suppkey") == F.col("supplier_no")
        )
        .crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q19_brackets",
    oracle=f"""
    SELECT CAST(SUM({_REV_SQL}) AS DECIMAL(38,4)) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
)
def tpch_q19_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (Discounted Revenue), fixture-adapted: revenue over a
    DISJUNCTION of three (brand, size-range, quantity-bracket)
    conjunctions — the OR-of-ANDs predicate that exercises join
    implementation quality: the mixed join+filter predicate cannot
    push fully to either scan, so the optimizer must split it into
    the single-side conjuncts it CAN push (brand/size to part,
    nothing from the quantity brackets alone since they're
    brand-correlated) and evaluate the disjunction post-join.  The
    spec's container/shipmode legs don't exist in this fixture
    (FIXTURES.md); brand/size/quantity preserve the shape.

    Scale: part is the broadcast side at any realistic SF (bounded
    catalog vs fact lineitem); one scalar aggregate, no shuffle after
    the join.  Deterministic: exact decimal revenue + count.

    Reference parity: SURVEY.md §2 [pub: TPC-H spec Q19]."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & (q >= 1)
            & (q <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & (q >= 10)
            & (q <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & (q >= 20)
            & (q <= 30)
        )
    )
    return joined.filter(cond).agg(
        F.sum(_revenue())
        .cast("decimal(38,4)")
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


@register(
    "tpch_q8_market_share",
    oracle=f"""
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN nation = 'NATION_3'
                               THEN volume ELSE CAST(0 AS DECIMAL(18,4))
                          END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               {_REV_SQL} AS volume,
               n2.n_name AS nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
          AND p.p_type = 'PROMO'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (National Market Share): NATION_3's share of PROMO-part
    revenue sold into ASIA by order year — the 8-table star with TWO
    independent nation dimension paths (customer's nation gates the
    region, supplier's nation is the measured share), the query shape
    that punishes optimizers which collapse the two paths.  Fixture
    nations are NATION_0..24 so the spec's BRAZIL becomes NATION_3;
    p_type is this fixture's 5-value category.

    Scale: region/nation dims pinned broadcasts; part's type filter
    prunes the build side before the fact join; the conditional-sum
    share needs NO second pass (numerator rides a CASE inside the
    same rollup).  Deterministic: exact decimal volume sums, one
    rounded division per year.

    Reference parity: SURVEY.md §2 [pub: TPC-H spec Q8]."""
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_regionkey").alias("n1_region"),
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("nation"),
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = load(spark, sf_dir, "supplier")
    joined = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(
            F.broadcast(r), F.col("n1_region") == F.col("r_regionkey")
        )
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        joined.select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            _revenue().alias("volume"),
            "nation",
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("nation") == "NATION_3", F.col("volume"))
                    .otherwise(zero)
                ).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "tpch_q17_small_qty_revenue",
    oracle="""
    WITH pavg AS (
        SELECT l_partkey AS pk,
               0.2 * (CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*))
                   AS qty_thresh
        FROM lineitem GROUP BY l_partkey
    )
    SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                      AS DOUBLE) / 7.0, 4) AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pavg ON pavg.pk = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < pavg.qty_thresh
    """,
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (Small-Quantity-Order Revenue): lost revenue from
    below-20%-of-average-quantity orders for one brand — the
    correlated scalar subquery (per-part average) in its DECORRELATED
    form: aggregate lineitem once per part, join the threshold back,
    filter.  The spec's p_container leg doesn't exist in this fixture
    (FIXTURES.md); brand alone keeps the correlated-threshold shape.

    Determinism: quantities are integral doubles (sums exact at any
    order); the 0.2x threshold and the final /7.0 are fixed-order;
    extended-price sums exact DECIMAL.

    Scale: the per-part average collapses lineitem map-side to
    |parts| rows (one shuffle shared by threshold build and probe via
    the same key); brand filter prunes part before its broadcast
    join.

    Reference parity: SURVEY.md §2 [pub: TPC-H spec Q17]."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    pavg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.lit(0.2)
            * (
                F.sum("l_quantity").cast("double")
                / F.count(F.lit(1))
            )
        ).alias("qty_thresh")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(pavg, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                ).cast("double")
                / F.lit(7.0),
                4,
            ).alias("avg_yearly"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


@register(
    "tpch_q21_waiting_suppliers",
    oracle="""
    WITH l1 AS (
        SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, s.s_name
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE n.n_name = 'NATION_1' AND o.o_orderstatus = 'F'
    ),
    blockers AS (
        SELECT DISTINCT l1.l_orderkey, l1.l_suppkey, l1.s_name
        FROM l1
        WHERE EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey
        )
        AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate >= l1.l_shipdate
        )
    )
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM blockers
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (Suppliers Who Kept Orders Waiting), fixture-adapted:
    NATION_1 suppliers who were the STRICTLY LAST to ship in a
    multi-supplier finalized order — the EXISTS + NOT EXISTS double
    self-probe on the fact table, Q21's defining shape.  The spec's
    lateness test (receipt vs commit dates) can't exist here
    (FIXTURES.md: lineitem has neither), so "kept the order waiting"
    = this supplier's ship date is strictly after every other
    supplier's lines (ties exonerate, matching the spec's strict
    semantics on l3).

    Scale: one shuffle on l_orderkey serves BOTH probes (left-semi
    for the multi-supplier EXISTS, left-anti for the NOT EXISTS) —
    the probes join the same co-partitioned projection, not two fresh
    corpus scans; nation/status filters prune the l1 side first.
    Deterministic: exact counts; (numwait DESC, s_name) top-20.

    Reference parity: SURVEY.md §2 [pub: TPC-H spec Q21]."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    li = li.localCheckpoint(eager=True)
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    l1 = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .select("l_orderkey", "l_suppkey", "l_shipdate", "s_name")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"),
        F.col("l_suppkey").alias("s2"),
    )
    l3 = li.select(
        F.col("l_orderkey").alias("o3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("d3"),
    )
    multi = l1.join(
        l2,
        (F.col("o2") == F.col("l_orderkey"))
        & (F.col("s2") != F.col("l_suppkey")),
        "left_semi",
    )
    blockers = multi.join(
        l3,
        (F.col("o3") == F.col("l_orderkey"))
        & (F.col("s3") != F.col("l_suppkey"))
        & (F.col("d3") >= F.col("l_shipdate")),
        "left_anti",
    ).select("l_orderkey", "l_suppkey", "s_name").distinct()
    return (
        blockers.groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# ------------------------------------------------------ derived partsupp
#
# The fixture ships no `partsupp` table (FIXTURES.md), but TPC-H Q2 /
# Q9 / Q11 / Q16 / Q20 are DEFINED over it.  Per the Q17/Q21/Q22
# fixture-adaptation precedent, the part-supplier relation is DERIVED
# deterministically from the fact table: one row per observed
# (l_partkey, l_suppkey) pair with
#   ps_cost_c   — the pair's cheapest observed line price, as an exact
#                 scaled-int64 (cents; DECIMAL(18,2)-rounded then x100,
#                 the repo's `cents()` idiom) so MIN / equality / x
#                 arithmetic is order-independent on both engines;
#   ps_availqty — the pair's total shipped quantity as BIGINT
#                 (quantities are integral doubles, FIXTURES.md).
# Both measures are exact integers, so every downstream comparison
# (Q2's cost == min-cost, Q11's value > fraction-of-total, Q20's
# 2*year-qty > total-qty) is bit-identical across Spark and DuckDB.
#
# Scale (100 TB): the derivation is ONE partial+final hash aggregation
# on (l_partkey, l_suppkey) — map-side combine collapses the fact
# table to |pairs| rows before the shuffle, and the same derived frame
# serves each query's build AND probe side so the corpus is scanned
# once per query, not once per subquery.

_PS_SQL = """
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               MIN(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS ps_cost_c,
               SUM(CAST(l_quantity AS BIGINT)) AS ps_availqty
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
"""


def _partsupp(li: DataFrame) -> DataFrame:
    """Derived part-supplier relation (see module comment above)."""
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(cents("l_extendedprice")).alias("ps_cost_c"),
        F.sum(F.col("l_quantity").cast("long")).alias("ps_availqty"),
    )


@register(
    "tpch_q2_min_cost_supplier",
    oracle=f"""
    WITH ps AS ({_PS_SQL}),
    eu AS (
        SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    cand AS (
        SELECT p.p_partkey, eu.s_name, eu.s_acctbal, eu.n_name,
               ps.ps_cost_c
        FROM part p
        JOIN ps ON ps.ps_partkey = p.p_partkey
        JOIN eu ON eu.s_suppkey = ps.ps_suppkey
        WHERE p.p_size = 15 AND p.p_type = 'SMALL'
    ),
    mincost AS (
        SELECT p_partkey AS mk, MIN(ps_cost_c) AS min_c
        FROM cand GROUP BY p_partkey
    )
    SELECT c.s_acctbal, c.s_name, c.n_name, c.p_partkey,
           CAST(c.ps_cost_c AS DOUBLE) / 100.0 AS supplycost
    FROM cand c
    JOIN mincost m ON m.mk = c.p_partkey AND c.ps_cost_c = m.min_c
    ORDER BY c.s_acctbal DESC, c.n_name, c.s_name, c.p_partkey
    LIMIT 100
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (Minimum Cost Supplier): for every size-15 SMALL part,
    the EUROPE supplier(s) offering it at the minimum cost — the
    correlated scalar subquery (per-part min over a filtered dim
    chain) in its DECORRELATED form, exactly the Q17 precedent:
    aggregate the candidate set once per part, join the minimum back,
    keep the rows that attain it.  Fixture adaptations (FIXTURES.md):
    `partsupp` is derived from lineitem (module comment above); the
    spec's `p_type LIKE '%BRASS'` becomes this fixture's 5-value
    category equality.

    Determinism: cost is an exact scaled-int64, so MIN and the
    attains-the-minimum equality are bit-identical on both engines;
    the top-100 order (acctbal DESC, n_name, s_name, p_partkey)
    contains the candidate key, so ties cannot reorder.

    Scale (100 TB): part's size/type filter prunes BEFORE the ps
    probe (broadcast — filtered part is tiny); the EUROPE supplier
    chain is two broadcast dims; the per-part MIN is a WINDOW over
    the already-candidate rows (`MIN() OVER (PARTITION BY
    p_partkey)`), so the fact table is scanned ONCE — the join-back
    formulation re-derives the candidate subtree (a second corpus
    scan) unless checkpointed, and the window needs neither.

    Reference parity: SURVEY.md §2 [pub: TPC-H spec Q2]."""
    li = load(spark, sf_dir, "lineitem")
    ps = _partsupp(li)
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "SMALL")
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand = (
        ps.join(F.broadcast(p), F.col("p_partkey") == F.col("ps_partkey"))
        .join(F.broadcast(eu), F.col("s_suppkey") == F.col("ps_suppkey"))
        .select("p_partkey", "s_name", "s_acctbal", "n_name", "ps_cost_c")
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("min_c", F.min("ps_cost_c").over(w))
        .filter(F.col("ps_cost_c") == F.col("min_c"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            (F.col("ps_cost_c").cast("double") / F.lit(100.0)).alias(
                "supplycost"
            ),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "tpch_q9_product_profit",
    oracle=f"""
    WITH ps AS ({_PS_SQL})
    SELECT nation, o_year,
           CAST(SUM(amount_c4) AS DOUBLE) / 10000.0 AS sum_profit
    FROM (
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)
               * (100 - CAST(CAST(l.l_discount AS DECIMAL(18,2)) * 100
                             AS BIGINT))
               - ps.ps_cost_c * CAST(l.l_quantity AS BIGINT) * 100
                   AS amount_c4
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN ps ON ps.ps_partkey = l.l_partkey
               AND ps.ps_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE p.p_name LIKE '%bolt%'
    )
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (Product Type Profit Measure): profit on 'bolt' parts
    by supplier nation and order year, where per-line profit =
    discounted revenue minus (unit cost x quantity) — the
    fact-self-enrichment join (lineitem joins the partsupp aggregate
    of ITSELF) plus the supplier-nation dimension path reused from
    Q8.  Fixture adaptations: derived partsupp (module comment);
    the spec's `p_name LIKE '%green%'` becomes this fixture's
    splittable part-name token 'bolt'.

    Determinism: the ENTIRE per-line amount is one scaled-int64 at
    scale 4 (cents x cents for revenue, cents x integral-qty x 100
    for cost) summed as DECIMAL(38,0) — exact and order-independent
    on both engines; one IEEE double division renders it.

    Scale (100 TB): the part filter broadcasts into the fact scan;
    the ps aggregate shares the fact's (partkey, suppkey) grouping
    and joins back co-partitioned; supplier/nation are broadcast
    dims; the final rollup is |nations| x |years| rows.  One wide
    shuffle (orders join), everything else map-side.

    Reference parity: SURVEY.md §2 [pub: TPC-H spec Q9]."""
    li = load(spark, sf_dir, "lineitem")
    ps = _partsupp(li)
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    amount_c4 = cents("l_extendedprice") * (
        F.lit(100).cast("long") - cents("l_discount")
    ) - F.col("ps_cost_c") * F.col("l_quantity").cast("long") * F.lit(
        100
    ).cast("long")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            ps,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .select(
            "nation",
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            amount_c4.alias("amount_c4"),
        )
        .groupBy("nation", "o_year")
        .agg(
            (
                F.sum(F.col("amount_c4").cast("decimal(38,0)")).cast(
                    "double"
                )
                / F.lit(10000.0)
            ).alias("sum_profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "tpch_q11_important_stock",
    oracle=f"""
    WITH ps AS ({_PS_SQL}),
    natps AS (
        SELECT ps.ps_partkey, ps.ps_cost_c * ps.ps_availqty AS value_c
        FROM ps
        JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_3'
    ),
    bypart AS (
        SELECT ps_partkey, SUM(value_c) AS part_value_c
        FROM natps GROUP BY ps_partkey
    ),
    total AS (SELECT SUM(value_c) AS total_c FROM natps)
    SELECT b.ps_partkey,
           CAST(b.part_value_c AS DOUBLE) / 100.0 AS part_value
    FROM bypart b CROSS JOIN total t
    WHERE CAST(b.part_value_c AS DOUBLE)
          > 0.0005 * CAST(t.total_c AS DOUBLE)
    ORDER BY part_value DESC, b.ps_partkey
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (Important Stock Identification): parts whose
    NATION_3-supplied inventory value exceeds a fraction of the
    nation's total — the group-HAVING-vs-scalar-subquery shape.  The
    scalar total is computed ONCE and broadcast back (the Q22
    precedent), never recomputed per group.  Fixture adaptations:
    derived partsupp (module comment); the spec's GERMANY becomes
    NATION_3 (present at every sf); the spec's 0.0001/SF fraction is
    pinned at 0.0005.

    Determinism: per-pair value is an exact int64 (cents x integral
    qty), summed as DECIMAL(38,0); the threshold compare and the
    rendered value are single IEEE double ops on identical exact
    integers.

    Scale (100 TB): the per-part rollup is computed ONCE and
    localCheckpoint-ed (tiny — <=|parts| rows); the grand total is
    the exact integer sum OF the part sums, so the scalar branch
    reads the checkpoint instead of re-deriving natps (no second
    corpus scan — the naive correlated reading); the 1-row total
    broadcasts back via the cross join; the nation filter broadcasts
    into the ps build.

    Reference parity: SURVEY.md §2 [pub: TPC-H spec Q11]."""
    li = load(spark, sf_dir, "lineitem")
    ps = _partsupp(li)
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    natps = (
        ps.join(F.broadcast(s), F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .select(
            "ps_partkey",
            (F.col("ps_cost_c") * F.col("ps_availqty")).alias("value_c"),
        )
    )
    byPart = natps.groupBy("ps_partkey").agg(
        F.sum(F.col("value_c").cast("decimal(38,0)")).alias("part_value_c")
    )
    # Materialize the (tiny, <=|parts|) per-part rollup once: the grand
    # total is the exact sum of the part sums (integer decimals —
    # order-independent), so the corpus is scanned ONCE; without the
    # checkpoint Spark re-derives the whole natps subtree for the
    # scalar branch (Q21's localCheckpoint precedent).
    byPart = byPart.localCheckpoint(eager=True)
    total = byPart.agg(
        F.sum("part_value_c").cast("decimal(38,0)").alias("total_c")
    )
    return (
        byPart.crossJoin(F.broadcast(total))
        .filter(
            F.col("part_value_c").cast("double")
            > F.lit(0.0005) * F.col("total_c").cast("double")
        )
        .select(
            "ps_partkey",
            (F.col("part_value_c").cast("double") / F.lit(100.0)).alias(
                "part_value"
            ),
        )
        .orderBy(F.desc("part_value"), "ps_partkey")
    )


@register(
    "tpch_q16_supplier_cnt",
    oracle=f"""
    WITH ps AS ({_PS_SQL})
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (3, 9, 14, 19, 23, 36, 45, 49)
      AND ps.ps_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (Parts/Supplier Relationship): how many suppliers can
    supply each (brand, type, size) combination, excluding one
    brand/type and a supplier blocklist — COUNT(DISTINCT) over a
    NOT-IN anti-join.  Fixture adaptations: derived partsupp (module
    comment); the spec's complaint-comment blocklist has no comment
    column here (FIXTURES.md), so negative account balance stands in
    (same NOT-IN-subquery shape; empty at sf0.001, non-empty from
    sf0.01).

    Determinism: exact distinct counts over integer keys; the full
    group key appears in the ORDER BY after the count.

    Scale (100 TB): the brand/type/size filter prunes part BEFORE its
    broadcast into ps; the blocklist is a broadcast LEFT ANTI (safe
    here because s_suppkey is never NULL — true NOT IN needs the
    null-aware variant); the distinct-count shuffles once on the
    group key with partial distinct aggregation map-side.

    Reference parity: SURVEY.md §2 [pub: TPC-H spec Q16]."""
    li = load(spark, sf_dir, "lineitem")
    ps = _partsupp(li)
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(3, 9, 14, 19, 23, 36, 45, 49))
    )
    blocked = load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        ps.join(F.broadcast(p), F.col("p_partkey") == F.col("ps_partkey"))
        .join(
            F.broadcast(blocked),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(
            F.countDistinct("ps_suppkey").cast("bigint").alias(
                "supplier_cnt"
            )
        )
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "tpch_q20_excess_inventory",
    oracle=f"""
    WITH ps AS ({_PS_SQL}),
    promo_parts AS (
        SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
    ),
    qty97 AS (
        SELECT l_partkey AS q_partkey, l_suppkey AS q_suppkey,
               SUM(CAST(l_quantity AS BIGINT)) AS year_qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_partkey, l_suppkey
    ),
    qualifying AS (
        SELECT DISTINCT ps.ps_suppkey
        FROM ps
        JOIN promo_parts pp ON pp.p_partkey = ps.ps_partkey
        JOIN qty97 q ON q.q_partkey = ps.ps_partkey
                    AND q.q_suppkey = ps.ps_suppkey
        WHERE 2 * q.year_qty > ps.ps_availqty
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_3'
      AND s.s_suppkey IN (SELECT ps_suppkey FROM qualifying)
    ORDER BY s.s_name
    """,
)
def tpch_q20_excess_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (Potential Part Promotion): NATION_3 suppliers whose
    1997 shipments of 'small'-named parts exceeded HALF their
    all-time volume of that part — the nested-semi-join chain
    (supplier IN (pairs WHERE part IN (names) AND qty > 0.5 x
    correlated-aggregate)).  Fixture adaptations: derived partsupp
    (module comment) makes availqty the pair's all-time quantity, so
    the spec's `availqty > 0.5 x year-shipments` (vacuous under this
    derivation) inverts to `year-shipments > 0.5 x all-time` — the
    identical correlated-threshold shape, selective instead of
    trivially true; CANADA becomes NATION_3.

    Determinism: both quantities are exact BIGINTs, compared as
    `2 x year > total` with no division or doubles anywhere;
    s_name is unique so the final sort is total.

    Scale (100 TB): the name-filtered part set broadcasts; qty97 and
    ps share the (partkey, suppkey) grouping key, so the threshold
    join is co-partitioned on the SAME shuffle layout Catalyst
    reuses; the supplier probe is a broadcast LEFT SEMI on the tiny
    qualifying-supplier set.

    Reference parity: SURVEY.md §2 [pub: TPC-H spec Q20]."""
    li = load(spark, sf_dir, "lineitem")
    ps = _partsupp(li)
    pp = load(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    qty97 = (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .groupBy(
            F.col("l_partkey").alias("q_partkey"),
            F.col("l_suppkey").alias("q_suppkey"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("year_qty"))
    )
    qualifying = (
        ps.join(F.broadcast(pp), F.col("p_partkey") == F.col("ps_partkey"))
        .join(
            qty97,
            (F.col("q_partkey") == F.col("ps_partkey"))
            & (F.col("q_suppkey") == F.col("ps_suppkey")),
        )
        .filter(F.lit(2) * F.col("year_qty") > F.col("ps_availqty"))
        .select("ps_suppkey")
        .distinct()
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(qualifying),
            F.col("s_suppkey") == F.col("ps_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )
