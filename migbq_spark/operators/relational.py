"""Projection / filter / scalar-function operators — SURVEY.md §2.B.

Reference parity: `filter_pred` is migbq's WHERE-clause assembly and
`project_cast_typemap` its MSSQL→BigQuery type map applied as a cast
projection (`[pub:H migbq/MsSqlDatasource.py, migbq/BigQueryForwarder.py]`,
SURVEY §1.1); the rest is the engine's scalar-function surface.

Scale notes (100 TB): everything here is a narrow projection/filter —
Catalyst pushes the predicates and the column list into the parquet scan
(PushedFilters / ReadSchema), so these run at scan speed with no shuffle
and stay inside whole-stage codegen (no Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from migbq_spark.catalog import load
from migbq_spark.common import DEC, tokens
from migbq_spark.registry import register

#: events.value dollars -> exact int64 cents.
_CENTS_EV = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"


@register(
    "filter_pred",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_totalprice > 100000 AND o_orderstatus = 'O'
    """,
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive comparison+equality predicates, pushed to the scan."""
    return (
        load(spark, sf_dir, "orders")
        .filter((F.col("o_totalprice") > 100000) & (F.col("o_orderstatus") == "O"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )


@register(
    "project_cast_typemap",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS orderkey,
           CAST(o_totalprice AS DECIMAL(18,2)) AS totalprice_dec,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(o_orderstatus AS VARCHAR) AS status_str
    FROM orders
    """,
)
def project_cast_typemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §1.1 MSSQL→BigQuery type map as a cast projection
    (int→BIGINT, money→DECIMAL(18,2), datetime→DATE, varchar→STRING)."""
    o = load(spark, sf_dir, "orders")
    # the DEC cast applies the type-map's 2-dp rounding; terminal double
    # is the driver-hash-stable rendering (DuckDB .df() emits float64)
    return o.select(
        F.col("o_orderkey").cast("bigint").alias("orderkey"),
        F.col("o_totalprice").cast(DEC).cast("double").alias("totalprice_dec"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.col("o_orderstatus").cast("string").alias("status_str"),
    )


@register(
    "cond_case_coalesce",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'high'
                WHEN o_orderpriority = '3-MEDIUM' THEN 'mid'
                ELSE 'low' END AS prio_bucket,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_norm
    FROM orders
    """,
)
def cond_case_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL handling / value mapping during forwarding (CASE/COALESCE/NULLIF),
    the shape migbq applies when normalizing values for the BQ load."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "mid")
        .otherwise("low")
        .alias("prio_bucket"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")).alias(
            "status_norm"
        ),
    )


@register(
    "str_funcs",
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand) AS brand_up,
           LOWER(p_name) AS name_lo,
           SUBSTRING(p_type, 1, 5) AS type_pfx,
           LENGTH(p_name) AS name_len,
           TRIM(p_name) AS name_trim,
           p_brand || '#' || p_type AS brand_type,
           (p_name LIKE '%a%') AS has_a
    FROM part
    """,
)
def str_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_up"),
        F.lower("p_name").alias("name_lo"),
        F.substring("p_type", 1, 5).alias("type_pfx"),
        F.length("p_name").alias("name_len"),
        F.trim("p_name").alias("name_trim"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        F.col("p_name").like("%a%").alias("has_a"),
    )


@register(
    "regexp_extract_json",
    oracle="""
    SELECT event_id,
           regexp_extract(props, '"k": (\\d+)', 1) AS k_str,
           CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k_int
    FROM events
    """,
)
def regexp_extract_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract `k` from the events.props JSON payload via regex — the
    hash-matched form; `get_json_object` (JSON-path) is the idiomatic Spark
    form, exercised in `json_path_extract` (rows-only)."""
    ev = load(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k": (\d+)', 1)
    return ev.select(
        "event_id",
        k.alias("k_str"),
        k.cast("bigint").alias("k_int"),
    )


@register(
    "json_path_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int
    FROM events
    """,
)
def json_path_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path extraction (idiomatic Spark `get_json_object`).
    Hash-checked: DuckDB's bundled json extension computes the identical
    integer, so the path form is value-hash-checkable after all."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_int"),
    )


@register(
    "date_funcs",
    oracle="""
    SELECT o_orderkey,
           EXTRACT(year FROM o_orderdate) AS o_year,
           EXTRACT(month FROM o_orderdate) AS o_month,
           EXTRACT(day FROM o_orderdate) AS o_day,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(o_orderdate AS DATE) + 30 AS due_date,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch0
    FROM orders
    """,
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar surface. Spark `datediff(end, start)` ≡ DuckDB
    `date_diff('day', start, end)` — argument order differs (SURVEY §7.4)."""
    o = load(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("o_year"),
        F.month("o_orderdate").cast("bigint").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("o_day"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.date_add(od, 30).alias("due_date"),
        F.datediff(od, F.lit("1995-01-01").cast("date")).cast("bigint").alias(
            "days_since_epoch0"
        ),
    )


@register(
    "math_funcs",
    oracle="""
    SELECT event_id,
           round(value, 1) AS val_round,
           abs(value - 100) AS val_abs,
           ceil(value) AS val_ceil,
           floor(value) AS val_floor,
           event_id % 7 AS id_mod,
           pow(2, event_id % 10) AS id_pow
    FROM events
    """,
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.round("value", 1).alias("val_round"),
        F.abs(F.col("value") - 100).alias("val_abs"),
        F.ceil("value").cast("double").alias("val_ceil"),
        F.floor("value").cast("double").alias("val_floor"),
        (F.col("event_id") % 7).alias("id_mod"),
        F.pow(F.lit(2), F.col("event_id") % 10).alias("id_pow"),
    )


@register(
    "str_funcs2",
    oracle="""
    SELECT p_partkey,
           split_part(p_type, ' ', 1) AS type_head,
           lpad(p_brand, 12, '*') AS brand_l,
           rpad(p_brand, 12, '-') AS brand_r,
           reverse(p_name) AS name_rev,
           translate(p_name, 'ae', '43') AS name_leet
    FROM part
    """,
)
def str_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string surface: split_part / lpad / rpad / reverse /
    translate — identical names and semantics on both engines.
    Row-local, codegen'd, shuffle-free."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.split_part("p_type", F.lit(" "), F.lit(1)).alias("type_head"),
        F.lpad("p_brand", 12, "*").alias("brand_l"),
        F.rpad("p_brand", 12, "-").alias("brand_r"),
        F.reverse("p_name").alias("name_rev"),
        F.translate("p_name", "ae", "43").alias("name_leet"),
    )


@register(
    "unpivot_stack",
    oracle="""
    SELECT p_partkey, 'retailprice' AS metric,
           CAST(p_retailprice AS DOUBLE) AS val
    FROM part
    UNION ALL
    SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
    """,
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long, the inverse of `pivot_event_counts`): part
    metrics melted into (metric, val) rows via `stack` — a generator
    expression, zero shuffles, output is 2× input rows with no
    arithmetic (exact parity)."""
    p = load(spark, sf_dir, "part")
    return p.selectExpr(
        "p_partkey",
        "stack(2, 'retailprice', CAST(p_retailprice AS DOUBLE),"
        " 'size', CAST(p_size AS DOUBLE)) AS (metric, val)",
    )


@register(
    "explode_outer_tokens",
    oracle="""
    SELECT d.doc_id, u.t AS long_token
    FROM documents d
    LEFT JOIN LATERAL (
        SELECT unnest(list_filter(string_split(d.text, ' '),
                                  x -> length(x) > 6)) AS t
    ) u ON true
    """,
)
def explode_outer_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving explode: docs with NO long tokens still emit one
    row (long_token = NULL) — `explode_outer` is the LEFT-JOIN-LATERAL
    of generators, and the distinction matters whenever downstream
    counts must not silently drop token-less documents.  The fixture is
    genuinely mixed (~20% of docs have no token > 6 chars)."""
    d = load(spark, sf_dir, "documents")
    long_toks = F.filter(tokens(), lambda t: F.length(t) > 6)
    return d.select(
        "doc_id", F.explode_outer(long_toks).alias("long_token")
    )


@register(
    "map_roundtrip_audit",
    oracle="""
    SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM (
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events GROUP BY user_id, event_type) t
    GROUP BY event_type
    """,
)
def map_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round trip, hash-checked: per-user activity profiles are
    packed into a map<event_type, count> (entries SORTED before
    map_from_entries — bare collect_list order is partition-dependent),
    then exploded back with map_entries and re-aggregated; the result
    must equal the direct per-type counts.  This is the
    deterministic-map-construction pattern (`map_funcs` alone is
    rows-only precisely because unordered maps don't hash stably).

    Scale (100 TB): the map packing is one user-keyed aggregation; maps
    stay bounded by the type vocabulary per key."""
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    packed = per_user.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("profile")
    )
    unpacked = packed.select(
        F.explode(F.map_entries("profile")).alias("kv")
    ).select(
        F.col("kv.key").alias("event_type"), F.col("kv.value").alias("cnt")
    )
    return unpacked.groupBy("event_type").agg(F.sum("cnt").alias("n"))


# ------------------------------------------------ props_variant_extract

@register(
    "props_variant_extract",
    oracle="""
    WITH x AS (
        SELECT event_type,
               CAST(json_extract(props, '$.k') AS INT) AS k
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(k) AS INT) AS k_min,
           CAST(MAX(k) AS INT) AS k_max,
           ROUND(SUM(k) * 1.0 / COUNT(*), 4) AS k_avg,
           CAST(SUM(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_over_50
    FROM x GROUP BY event_type
    """,
)
def props_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT-TYPE semi-structured extraction (Spark 4's new VARIANT
    column type, the Snowflake/Delta-style answer to schema-on-read
    JSON): `parse_json` turns the props string into a binary VARIANT
    once, `variant_get` then extracts typed paths WITHOUT re-parsing —
    at 100 TB the parse-once/extract-many split is the whole game,
    because get_json_object re-parses the string per extraction while
    a VARIANT is a parsed binary the executor walks directly.
    Complements `json_path_extract` (string get_json_object) and
    `regexp_extract_json` with the modern typed path.

    The rollup (per event type: count, min/max/avg and a threshold
    count over the extracted int) proves the extracted values feed
    ordinary typed aggregation.

    Determinism: extraction yields exact ints; avg is one division of
    exact integer sums behind ROUND(·,4).

    Scale (100 TB): parse + extract are row-local JVM expressions
    (whole-stage codegen'd, no Python); the rollup collapses map-side
    to |types| rows."""
    ev = load(spark, sf_dir, "events")
    x = ev.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "int").alias("k"),
    )
    return x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
        F.round(F.sum("k") * F.lit(1.0) / F.count(F.lit(1)), 4).alias(
            "k_avg"
        ),
        F.sum(F.when(F.col("k") > 50, 1).otherwise(0))
        .cast("bigint")
        .alias("n_over_50"),
    )


# --------------------------------------------------- group_by_all_syntax

@register(
    "group_by_all_syntax",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                AS DECIMAL(38,2)) AS total
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def group_by_all_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (Spark 3.4+ / DuckDB dialect
    convergence): the analyst shorthand that groups by every
    non-aggregate select item and orders by the full output row —
    the oracle runs the IDENTICAL text on DuckDB, which originated
    the syntax, so this row pins that both engines resolve ALL to
    the same column set.

    Determinism: exact decimal totals; ORDER BY ALL is a total order
    over the whole row.

    Scale (100 TB): resolves at ANALYSIS time to the ordinary
    grouped plan — partial+final hash agg, one exchange on the two
    status columns; the sugar costs nothing physical."""
    o = load(spark, sf_dir, "orders")
    o.createOrReplaceTempView("mq_gba_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,2)) AS DOUBLE) AS total
        FROM mq_gba_orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


# ------------------------------------------------ values_inline_dim_join

@register(
    "values_inline_dim_join",
    oracle="""
    SELECT w.tier,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * w.weight)
                AS DECIMAL(38,2)) AS weighted_total
    FROM orders o
    JOIN (VALUES ('1-URGENT', 3, 'hot'),
                 ('2-HIGH', 2, 'hot'),
                 ('3-MEDIUM', 1, 'warm'),
                 ('4-NOT SPECIFIED', 1, 'warm'),
                 ('5-LOW', 0, 'cold')) AS w(prio, weight, tier)
      ON o.o_orderpriority = w.prio
    GROUP BY w.tier
    ORDER BY w.tier
    """,
)
def values_inline_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUES inline table constructor as a JOINED dimension — the
    "lookup table in the query text" idiom (priority → weight/tier)
    every migration script uses before the dim table exists.  The
    oracle runs the identical VALUES text on DuckDB.

    Determinism: the inline dim is literal; weighted totals are
    exact decimal x integer products.

    Scale (100 TB): a VALUES relation is a LocalRelation — Catalyst
    folds it into a broadcast build side automatically (5 rows), so
    the fact scan joins map-side with no exchange."""
    o = load(spark, sf_dir, "orders")
    o.createOrReplaceTempView("mq_vals_orders")
    return spark.sql(
        """
        SELECT w.tier,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))
                             * w.weight)
                         AS DECIMAL(38,2)) AS DOUBLE) AS weighted_total
        FROM mq_vals_orders o
        JOIN (VALUES ('1-URGENT', 3, 'hot'),
                     ('2-HIGH', 2, 'hot'),
                     ('3-MEDIUM', 1, 'warm'),
                     ('4-NOT SPECIFIED', 1, 'warm'),
                     ('5-LOW', 0, 'cold')) AS w(prio, weight, tier)
          ON o.o_orderpriority = w.prio
        GROUP BY w.tier
        ORDER BY w.tier
        """
    )


# --------------------------------------------------- listagg_sorted_groups

@register(
    "listagg_sorted_groups",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_rich,
           STRING_AGG(c.c_name, ',' ORDER BY c.c_name) AS names_csv
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > 9900
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def listagg_sorted_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED STRING AGGREGATION (SQL:2023 LISTAGG / DuckDB
    STRING_AGG ... ORDER BY): the names of each nation's richest
    customers (acctbal > 9900) as one deterministic comma-joined
    string.  Spark expresses the ordered aggregate as
    array_join(array_sort(collect_list(...))) — collect_list order is
    partition-nondeterministic, so the EXPLICIT array_sort is what
    makes the result well-defined (and hash-stable), the exact pitfall
    this operator documents.

    Determinism: group sets are exact; the join order inside the
    string is lexicographic by construction on both engines.

    Scale (100 TB): the acctbal filter pushes to the scan; the nation
    dim broadcasts; per-group lists are selectivity-bounded (document
    the bound when reusing — an unfiltered listagg over a fact table
    is a driver-killer, not an operator)."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9900)
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rich"),
            F.array_join(
                F.array_sort(F.collect_list("c_name")), ","
            ).alias("names_csv"),
        )
        .orderBy("n_name")
    )


# --------------------------------------------- win_first_last_ignore_nulls

@register(
    "win_first_last_ignore_nulls",
    oracle="""
    WITH s AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'view' THEN NULL
                    ELSE CAST(CAST(value AS DECIMAL(18,2)) * 100
                              AS BIGINT) END AS nv
        FROM events
    ),
    w AS (
        SELECT user_id,
               FIRST_VALUE(nv IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND UNBOUNDED FOLLOWING) AS first_nn,
               LAST_VALUE(nv IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND UNBOUNDED FOLLOWING) AS last_nn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_events
        FROM s
    )
    SELECT DISTINCT user_id, first_nn, last_nn,
           CAST(n_events AS BIGINT) AS n_events
    FROM w ORDER BY user_id
    """,
)
def win_first_last_ignore_nulls(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FIRST_VALUE / LAST_VALUE with IGNORE NULLS (SQL:2008 T618) over
    each user's event timeline: the first and last non-null cents
    value (views carry NULL) — the null-skipping window surface that
    LOCF/carry-forward pipelines build on (`locf_impute` is the
    bounded-frame cousin).  Spark spells it F.first/F.last(...,
    ignorenulls=True) over an unbounded frame; DuckDB spells it
    FIRST_VALUE(x IGNORE NULLS).

    Determinism: (ts, event_id) is a unique order key, so first/last
    are well-defined; all outputs exact int64.

    Scale (100 TB): ONE user-partitioned window (both functions +
    the count share the same partitioning — one shuffle) followed by
    a distinct that collapses user-locally."""
    ev = load(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "view", F.lit(None)).otherwise(
            F.expr(_CENTS_EV)
        ).alias("nv"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wc = Window.partitionBy("user_id")
    return (
        s.select(
            "user_id",
            F.first("nv", ignorenulls=True).over(w).alias("first_nn"),
            F.last("nv", ignorenulls=True).over(w).alias("last_nn"),
            F.count(F.lit(1)).over(wc).cast("bigint").alias("n_events"),
        )
        .distinct()
        .orderBy("user_id")
    )


# ------------------------------------------------- try_arith_null_safety

@register(
    "try_arith_null_safety",
    oracle="""
    WITH s AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents,
               o_custkey % 7 AS k,
               TRY_CAST(CASE WHEN o_orderkey % 3 = 0
                             THEN CAST(o_orderkey AS VARCHAR)
                             ELSE o_orderstatus END AS INT) AS tc
        FROM orders
    ),
    q AS (
        SELECT CAST(cents AS DOUBLE) / NULLIF(k, 0) AS qd, tc FROM s
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN qd IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_div_null,
           CAST(SUM(CASE WHEN tc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cast_null,
           CAST(SUM(CAST(FLOOR(qd * 100.0) AS BIGINT)) AS BIGINT)
               AS sum_q2
    FROM q
    """,
)
def try_arith_null_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-SAFE ARITHMETIC surface: Spark 3.2+ `try_divide` (NULL on
    division by zero instead of the ANSI error) and `TRY_CAST` (NULL
    on malformed input), mirrored in the oracle by the portable
    x / NULLIF(d, 0) and DuckDB TRY_CAST idioms — the null-safety
    contract an ingestion engine needs when ANSI mode is ON (this
    engine's sessions run Spark 4 defaults, ansi=true; `mcnemar_test`
    hit exactly this error class before its NULLIF guard).

    Determinism: quotients floor-quantized to int64 centi-units per
    row before the sum (budget: |q|*100 <= 6e9 per row -> sum safe to
    ~1e9 rows; re-quantize coarser past that); NULL counters exact.

    Scale (100 TB): narrow projection + one aggregation, no shuffle
    beyond the final rollup; stays in whole-stage codegen (try_*
    are JVM expressions, not UDFs)."""
    o = load(spark, sf_dir, "orders")
    s = o.select(
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("cents"),
        (F.col("o_custkey") % 7).alias("k"),
        F.expr(
            "TRY_CAST(CASE WHEN o_orderkey % 3 = 0"
            " THEN CAST(o_orderkey AS STRING)"
            " ELSE o_orderstatus END AS INT)"
        ).alias("tc"),
    )
    q = s.select(
        F.try_divide(
            F.col("cents").cast("double"), F.nullif(F.col("k"), F.lit(0))
        ).alias("qd"),
        "tc",
    )
    return q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("qd").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_div_null"),
        F.sum(F.when(F.col("tc").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_cast_null"),
        F.sum(F.floor(F.col("qd") * F.lit(100.0)).cast("bigint"))
        .cast("bigint")
        .alias("sum_q2"),
    )


# ------------------------------------------------------ round_modes_matrix

@register(
    "round_modes_matrix",
    oracle="""
    WITH v AS (
        SELECT DISTINCT CAST(value AS DECIMAL(18,2)) AS x,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL AND event_id % 17 = 0
    ),
    -- banker's rounding via EXACT integer arithmetic on cents (floor
    -- division keeps the remainder in 0..9 for both signs): DuckDB's
    -- roundbankers() is a MACRO that routes through DOUBLE, so
    -- roundbankers(9.45, 1) = 9.5 (double 9.45 > 9.45) while Spark's
    -- bround on DECIMAL is exact (9.4) — emulate, don't call it
    he AS (
        SELECT x, c,
               (c // 10) + CASE WHEN c - (c // 10) * 10 > 5 THEN 1
                                WHEN c - (c // 10) * 10 < 5 THEN 0
                                ELSE ((c // 10) % 10 + 10) % 10 % 2 END
                   AS he1_tenths,
               (c // 100) + CASE WHEN c - (c // 100) * 100 > 50 THEN 1
                                 WHEN c - (c // 100) * 100 < 50 THEN 0
                                 ELSE ((c // 100) % 10 + 10) % 10 % 2 END
                   AS he0_ones
        FROM v
    )
    SELECT CAST(x AS DOUBLE) AS x,
           CAST(round(x, 1) AS DOUBLE) AS half_up_1,
           CAST(he1_tenths AS DOUBLE) / 10.0 AS half_even_1,
           CAST(floor(x) AS BIGINT) AS floor_0,
           CAST(ceil(x) AS BIGINT) AS ceil_0,
           CAST(round(x, 0) AS DOUBLE) AS half_up_0,
           CAST(he0_ones AS DOUBLE) AS half_even_0
    FROM he ORDER BY x
    """,
)
def round_modes_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUNDING-MODE MATRIX: HALF_UP (`round`) vs HALF_EVEN banker's
    (`bround`) vs floor/ceil over the distinct value ladder — the
    money-pipeline semantics audit (financial aggregation standards
    require half-even so .5 cents don't bias sums upward; SQL ROUND
    is half-up/away — silently mixing the two shifts totals).

    Determinism: inputs quantize to DECIMAL(18,2) BEFORE any rounding
    — on exact decimals .5 ties are REAL ties.  Spark's round/bround
    on DECIMAL are exact; DuckDB's round on DECIMAL is exact too, but
    its roundbankers() is a MACRO through DOUBLE (roundbankers(9.45,1)=9.5
    vs exact 9.4), so the oracle emulates half-even with exact integer
    arithmetic on cents (floor-division remainder + last-digit parity,
    sign-safe).  Every rendered value is the decimal-cast-double Q22
    idiom.

    Scale (100 TB): the DISTINCT collapse bounds work by the value
    domain (Heaps-bounded); the mode matrix is a narrow projection
    inside whole-stage codegen."""
    ev = load(spark, sf_dir, "events")
    v = (
        ev.filter(
            F.col("value").isNotNull() & (F.col("event_id") % 17 == 0)
        )
        .select(F.col("value").cast("decimal(18,2)").alias("x"))
        .distinct()
    )
    return v.select(
        F.col("x").cast("double").alias("x"),
        F.round("x", 1).cast("double").alias("half_up_1"),
        F.bround("x", 1).cast("double").alias("half_even_1"),
        F.floor("x").cast("bigint").alias("floor_0"),
        F.ceil("x").cast("bigint").alias("ceil_0"),
        F.round("x", 0).cast("double").alias("half_up_0"),
        F.bround("x", 0).cast("double").alias("half_even_0"),
    ).orderBy("x")


# ------------------------------------------------------- map_zip_with_merge

@register(
    "map_zip_with_merge",
    oracle="""
    WITH halves AS (
        SELECT user_id, event_type,
               CAST(COUNT(*) FILTER (day(ts) <= 15) AS BIGINT) AS n1,
               CAST(COUNT(*) FILTER (day(ts) > 15) AS BIGINT) AS n2
        FROM events WHERE user_id % 41 = 0
        GROUP BY user_id, event_type
    )
    SELECT user_id, event_type, n1, n2,
           CAST(n1 + n2 AS BIGINT) AS total
    FROM halves ORDER BY user_id, event_type
    """,
)
def map_zip_with_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIGHER-ORDER MAP MERGE: per-user event_type->count maps built
    for two halves of each month (`map_from_entries` over
    collect_list), merged key-wise with `map_zip_with` (null-safe
    sum), then exploded back to rows — the map-column workflow
    (feature stores, per-entity counters) exercised end-to-end:
    build, zip-merge, explode.  The MAP stays an internal
    representation; the graded output is the exploded row form, so
    the oracle is plain relational arithmetic and no engine-specific
    map rendering is hashed.

    Determinism: counts are exact; the explode order is re-sorted by
    (user_id, event_type); the user_id % 41 predicate bounds output.

    Scale (100 TB): one groupBy(user, type) with two conditional
    partial counts; the map build/zip/explode is row-local per user
    (map width = |event types|, bounded); `map_zip_with` runs inside
    codegen — no Python, no extra shuffle beyond the one
    aggregation exchange."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") % 41 == 0)
    per = ev.groupBy("user_id", "event_type").agg(
        F.count(F.when(F.dayofmonth("ts") <= 15, 1))
        .cast("bigint")
        .alias("n1"),
        F.count(F.when(F.dayofmonth("ts") > 15, 1))
        .cast("bigint")
        .alias("n2"),
    )
    maps = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n1"))
        ).alias("m1"),
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n2"))
        ).alias("m2"),
    )
    merged = maps.select(
        "user_id",
        F.map_zip_with(
            "m1",
            "m2",
            lambda k, v1, v2: F.coalesce(v1, F.lit(0))
            + F.coalesce(v2, F.lit(0)),
        ).alias("mt"),
        F.col("m1").alias("m1k"),
        F.col("m2").alias("m2k"),
    )
    ex = merged.select(
        "user_id",
        F.explode("mt").alias("event_type", "total"),
        "m1k",
        "m2k",
    )
    return ex.select(
        "user_id",
        "event_type",
        F.coalesce(
            F.col("m1k")[F.col("event_type")], F.lit(0)
        )
        .cast("bigint")
        .alias("n1"),
        F.coalesce(
            F.col("m2k")[F.col("event_type")], F.lit(0)
        )
        .cast("bigint")
        .alias("n2"),
        F.col("total").cast("bigint").alias("total"),
    ).orderBy("user_id", "event_type")


# ------------------------------------------------------------ win_cume_dist

@register(
    "win_cume_dist",
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
               event_id
        FROM events WHERE value IS NOT NULL
    ),
    r AS (
        SELECT event_type, v, event_id,
               ROUND(cume_dist() OVER w, 6) AS cd,
               ROUND(percent_rank() OVER w, 6) AS pr,
               CAST(ntile(4) OVER (PARTITION BY event_type
                                   ORDER BY v, event_id) AS BIGINT)
                   AS quartile
        FROM s
        WINDOW w AS (PARTITION BY event_type ORDER BY v)
    )
    SELECT event_type, v, cd, pr, quartile
    FROM r WHERE event_id % 211 = 0
    ORDER BY event_type, v, quartile
    """,
)
def win_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUME_DIST + PERCENT_RANK + NTILE(4) over the per-arm value
    distribution — the remaining rank-family window functions next to
    `win_rank_topk_group` (rank/dense_rank) and `win_percent_rank`
    (training's percentile features): cume_dist is <=-inclusive,
    percent_rank is (rank-1)/(n-1) — off-by-one semantics the two
    engines must agree on under TIES, which is the point of grading
    the tied cents ladder.

    Determinism: cume_dist/percent_rank are tie-stable by definition
    (all peers share a value); NTILE is NOT (it splits peer groups by
    row order), so its ORDER BY carries the unique event_id tiebreak.
    The event_id % 211 filter bounds output AFTER the windows so the
    distribution underneath is the full arm.

    Scale (100 TB): one shuffle on event_type; each window is an
    in-partition sort — at real scale cume_dist over a skewed
    partition is the `_rank_prefix` use case instead (documented
    trade: built-ins here because the SEMANTICS parity is what is
    graded)."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = ev.select(
        "event_type",
        F.expr(_CENTS_EV).alias("v"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("v")
    wn = Window.partitionBy("event_type").orderBy("v", "event_id")
    r = s.select(
        "event_type",
        "v",
        "event_id",
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.ntile(4).over(wn).cast("bigint").alias("quartile"),
    )
    return (
        r.filter(F.col("event_id") % 211 == 0)
        .select("event_type", "v", "cd", "pr", "quartile")
        .orderBy("event_type", "v", "quartile")
    )


# --------------------------------------------------------- regexp_count_instr

@register(
    "regexp_count_instr",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
               AS n_digit_runs,
           CAST(len(regexp_extract_all(text, '[A-Z][a-z]+')) AS BIGINT)
               AS n_capitalized,
           CAST(strpos(text, 'the') AS BIGINT) AS first_the_pos,
           array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ')
               AS first5_words,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_space_fields
    FROM documents WHERE doc_id % 7 = 0
    ORDER BY doc_id
    """,
)
def regexp_count_instr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGEXP_COUNT / INSTR / SUBSTRING_INDEX surface fills — the
    string-introspection trio `str_funcs`/`regexp_extract_json`
    don't cover: occurrence COUNTING (digit runs, Capitalized
    tokens), first-match POSITION (1-based, 0 = absent), and
    prefix-by-delimiter extraction.  Each has a DIFFERENT DuckDB
    spelling (len(regexp_extract_all), strpos,
    array_to_string(list_slice(string_split))) — the dialect-split
    documentation is the operator's second job.

    Determinism: integer counts/positions; the patterns are
    anchored-free ASCII classes that both regex engines (Java
    java.util.regex vs RE2-ish duckdb_re2) treat identically — no
    backrefs, no lookaround, no unicode classes.

    Scale (100 TB): narrow per-row projection, whole-stage codegen,
    predicate pushed to the scan; regex cost is linear in text
    length with no backtracking blowup for these patterns."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    return d.select(
        "doc_id",
        F.expr("regexp_count(text, '[0-9]+')")
        .cast("bigint")
        .alias("n_digit_runs"),
        F.expr("regexp_count(text, '[A-Z][a-z]+')")
        .cast("bigint")
        .alias("n_capitalized"),
        F.expr("instr(text, 'the')").cast("bigint").alias("first_the_pos"),
        F.expr("substring_index(text, ' ', 5)").alias("first5_words"),
        (F.size(F.split("text", " ", -1)))
        .cast("bigint")
        .alias("n_space_fields"),
    ).orderBy("doc_id")


# ---------------------------------------------------- datetime_interval_arith

@register(
    "datetime_interval_arith",
    oracle="""
    WITH o AS (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        FROM orders WHERE o_orderkey % 97 = 0
    )
    SELECT o_orderkey, d,
           CAST(d + INTERVAL 3 MONTH AS DATE) AS plus_3mo,
           CAST(last_day(d) AS DATE) AS month_end,
           CAST(date_trunc('week', d) AS DATE) AS week_start,
           CAST(date_trunc('quarter', d) AS DATE) AS quarter_start,
           CAST(datediff('day', d, DATE '2025-01-01') AS BIGINT)
               AS days_to_2025,
           -- months_between emulation (Spark's 31-day convention):
           -- whole-month delta + day-fraction/31 unless both ends are
           -- month-aligned (same day-of-month, or both last days)
           ROUND((date_part('year', DATE '2025-01-01')
                  - date_part('year', d)) * 12
                 + (date_part('month', DATE '2025-01-01')
                    - date_part('month', d))
                 + CASE WHEN day(d) = 1
                             OR (DATE '2025-01-01'
                                 = last_day(DATE '2025-01-01')
                                 AND d = last_day(d))
                        THEN 0.0
                        ELSE (1 - day(d)) / 31.0 END,
                 6) AS months_to_2025
    FROM o ORDER BY o_orderkey
    """,
)
def datetime_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATE INTERVAL ARITHMETIC surface: add-months, last-day,
    ISO-week / quarter truncation, day delta, and fractional
    MONTHS_BETWEEN — the calendar-math family `date_funcs` (extract
    fields) doesn't cover.  months_between is the dialect split
    worth documenting: DuckDB has no such function, so the oracle
    re-derives Spark's exact 31-day convention (whole-month delta +
    (d1_day - d2_day)/31 unless both ends month-aligned) in SQL —
    the shared-formula-strings idiom applied to calendar semantics.

    Determinism: everything is integer date arithmetic except the
    /31.0 fraction, a single fixed-order double behind ROUND(6);
    date_trunc('week') is ISO-Monday in BOTH engines.

    Scale (100 TB): narrow projection in codegen; the pk-modulo
    filter pushes to the scan."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        d.alias("d"),
        F.add_months(d, 3).alias("plus_3mo"),
        F.last_day(d).alias("month_end"),
        F.date_trunc("week", d).cast("date").alias("week_start"),
        F.date_trunc("quarter", d).cast("date").alias("quarter_start"),
        F.datediff(F.lit("2025-01-01").cast("date"), d)
        .cast("bigint")
        .alias("days_to_2025"),
        F.round(
            F.months_between(F.lit("2025-01-01").cast("date"), d), 6
        ).alias("months_to_2025"),
    ).orderBy("o_orderkey")


# ----------------------------------------------------- collation_lcase_dedup

@register(
    "collation_lcase_dedup",
    oracle="""
    WITH v AS (
        SELECT p_brand,
               CASE WHEN p_partkey % 2 = 0 THEN upper(p_name)
                    ELSE p_name END AS name
        FROM part
    )
    SELECT p_brand,
           CAST(COUNT(DISTINCT name) AS BIGINT) AS n_binary,
           CAST(COUNT(DISTINCT lower(name)) AS BIGINT) AS n_ci,
           CAST(COUNT(DISTINCT name)
                - COUNT(DISTINCT lower(name)) AS BIGINT)
               AS n_case_variants
    FROM v GROUP BY p_brand ORDER BY p_brand
    """,
)
def collation_lcase_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-INSENSITIVE DISTINCT VIA COLLATION (Spark 4 `COLLATE
    UTF8_LCASE`) — the collation-aware counting surface, graded
    against the portable lower() oracle: per brand, the binary
    distinct name count vs the case-insensitive one (case variants
    planted deterministically by upcasing even partkeys).  Collation
    beats lower() in production because it composes with JOINs,
    GROUP BYs and range predicates without rewriting every
    expression — this op pins that the two give identical counts.

    Determinism: UTF8_LCASE on this ASCII fixture == lower()
    equality by definition; counts exact int64.

    Scale (100 TB): one distinct-collapse aggregation; collation
    comparison stays in codegen (no UDF)."""
    p = load(spark, sf_dir, "part")
    v = p.select(
        "p_brand",
        F.when(
            F.col("p_partkey") % 2 == 0, F.upper("p_name")
        )
        .otherwise(F.col("p_name"))
        .alias("name"),
    )
    return (
        v.groupBy("p_brand")
        .agg(
            F.countDistinct("name").cast("bigint").alias("n_binary"),
            F.countDistinct(
                F.expr("collate(name, 'UTF8_LCASE')")
            )
            .cast("bigint")
            .alias("n_ci"),
            (
                F.countDistinct("name")
                - F.countDistinct(F.expr("collate(name, 'UTF8_LCASE')"))
            )
            .cast("bigint")
            .alias("n_case_variants"),
        )
        .orderBy("p_brand")
    )


# -------------------------------------------------------- xml_extract_fields

@register(
    "xml_extract_fields",
    oracle="""
    SELECT o_orderkey,
           o_orderkey AS k,
           o_orderpriority AS p,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS t
    FROM orders WHERE o_orderkey % 89 = 0
    ORDER BY o_orderkey
    """,
)
def xml_extract_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML PARSE SURFACE (`from_xml`, Spark 4): serialize each order
    to an XML fragment, parse it back with an explicit schema, and
    extract the typed fields — the construct-then-invert shape that
    grades the parser itself (the oracle derives the expected fields
    straight from the source columns, so any parse loss or type
    coercion drift hash-fails).  DuckDB has no XML reader — the
    roundtrip construction is exactly what makes the op
    SQL-oracle-checkable anyway (the house planted-dimension idiom
    from the mm_* header probes).

    Determinism: integer/string fields only; price pre-quantized to
    cents BEFORE serialization so no float renders into the XML.

    Scale (100 TB): row-local serialize + parse in codegen
    (from_xml is a JVM expression, no Python); the pk-modulo filter
    pushes to the scan."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 89 == 0)
    xml = o.select(
        "o_orderkey",
        F.concat(
            F.lit("<o><k>"),
            F.col("o_orderkey"),
            F.lit("</k><p>"),
            F.col("o_orderpriority"),
            F.lit("</p><t>"),
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            ),
            F.lit("</t></o>"),
        ).alias("x"),
    )
    parsed = xml.select(
        "o_orderkey",
        F.from_xml("x", "k BIGINT, p STRING, t BIGINT").alias("r"),
    )
    return parsed.select(
        "o_orderkey", "r.k", "r.p", "r.t"
    ).orderBy("o_orderkey")


# ------------------------------------------------------ array_sort_comparator

@register(
    "array_sort_comparator",
    oracle="""
    WITH s AS (
        SELECT doc_id,
               list_transform(
                   list_sort(list_transform(
                       list_filter(string_split(text, ' '),
                                   t -> t <> ''),
                       x -> {'l': length(x), 's': x})),
                   t -> t.s) AS toks
        FROM documents WHERE doc_id % 17 = 0
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           array_to_string(toks[1:5], ' ') AS shortest5,
           toks[len(toks)] AS longest_token
    FROM s ORDER BY doc_id
    """,
)
def array_sort_comparator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM-COMPARATOR ARRAY SORT (Spark `array_sort` with a lambda
    comparator): tokens ordered by (length, lexicographic) inside the
    row — the HOF sorting surface `arr_funcs`' natural-order sort
    can't express, and a total order (the lexicographic tiebreak)
    both engines replay identically.  DuckDB has no comparator
    lambda — the oracle sorts a (length, string) STRUCT list instead
    (field-lexicographic struct ordering == the comparator), which is
    itself the documented portable rewrite for engines without
    comparator sorts.

    Determinism: the comparator is a total order; tokens and lengths
    are exact.

    Scale (100 TB): entirely row-local HOF work in codegen — sort
    cost is per-row O(k log k), no shuffle."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 17 == 0)
    sorted_toks = F.array_sort(
        tokens(),
        lambda a, b: F.when(F.length(a) < F.length(b), -1)
        .when(F.length(a) > F.length(b), 1)
        .when(a < b, -1)
        .when(a > b, 1)
        .otherwise(0),
    )
    # graded columns are scalar renderings (array columns are
    # driver-canonicalizer-unsafe): count, 5 shortest, the longest
    s = d.select("doc_id", sorted_toks.alias("toks"))
    return s.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.array_join(F.slice("toks", 1, 5), " ").alias("shortest5"),
        F.element_at("toks", F.size("toks")).alias("longest_token"),
    ).orderBy("doc_id")


# --------------------------------------------------- split_part_extract

@register(
    "split_part_extract",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN CAST(split_part(c_name, '#', 2) AS BIGINT)
                              = c_custkey THEN 1 ELSE 0 END) AS BIGINT)
               AS n_suffix_matches_key,
           MIN(split_part(c_name, '#', 1)) AS name_prefix,
           CAST(MAX(LENGTH(split_part(c_name, '#', 2))) AS BIGINT)
               AS max_suffix_len
    FROM customer
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def split_part_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELIMITED-FIELD EXTRACTION surface (`split_part` family): pull
    the numeric suffix out of 'Customer#000000123'-style keys-in-
    strings and PROVE it round-trips to the integer key — the
    denormalized-identifier audit every warehouse runs on imported
    dimensions.  Spark spells field-2-of-split as
    `element_at(split(...), 2)` / `substring_index`; DuckDB has
    `split_part` natively — same semantics, dialect-split spelled per
    engine.

    Determinism: string splits on a literal delimiter; the match
    check casts digit strings to exact ints; all outputs are
    counts/min/max of deterministic values.

    Scale (100 TB): row-local string ops; ONE map-side collapse to
    |segments| rows."""
    c = load(spark, sf_dir, "customer")
    suffix = F.element_at(F.split("c_name", "#"), 2)
    prefix = F.element_at(F.split("c_name", "#"), 1)
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(
                    suffix.cast("bigint") == F.col("c_custkey"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_suffix_matches_key"),
            F.min(prefix).alias("name_prefix"),
            F.max(F.length(suffix)).cast("bigint").alias("max_suffix_len"),
        )
        .orderBy("c_mktsegment")
    )


# ------------------------------------------------------- bit_agg_flags

@register(
    "bit_agg_flags",
    oracle="""
    WITH f AS (
        SELECT user_id,
               CASE event_type
                    WHEN 'view' THEN 1 WHEN 'click' THEN 2
                    WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
                    ELSE 16 END AS flag
        FROM events
    ),
    u AS (
        SELECT user_id,
               CAST(bit_or(flag) AS BIGINT) AS mask,
               CAST(bit_and(flag) AS BIGINT) AS common_mask
        FROM f GROUP BY user_id
    )
    SELECT mask,
           CAST(bit_count(mask) AS BIGINT) AS n_distinct_types,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN common_mask = mask THEN 1 ELSE 0 END)
                AS BIGINT) AS n_single_type_users
    FROM u GROUP BY mask ORDER BY mask
    """,
)
def bit_agg_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITWISE AGGREGATE surface (`bit_or`/`bit_and`/`bit_count`):
    each event type maps to a power-of-two flag, `bit_or` per user
    folds a behavior BITMASK (the compact profile segmentation
    engines store instead of a type array), and the mask histogram
    with `bit_count` reads off coverage — a user whose `bit_and`
    equals their mask only ever emitted one type.  The flags are
    literal CASE powers of two, so no shift-operator dialect is
    involved.

    Determinism: bitwise folds are order-free by definition; all
    outputs integer.

    Scale (100 TB): ONE user-keyed exchange (map-side combinable —
    bit_or partials fold); the mask histogram collapses to ≤ 2^5
    rows."""
    ev = load(spark, sf_dir, "events")
    flag = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "signup", 8)
        .otherwise(16)
    )
    u = (
        ev.select("user_id", flag.alias("flag"))
        .groupBy("user_id")
        .agg(
            F.expr("bit_or(flag)").cast("bigint").alias("mask"),
            F.expr("bit_and(flag)").cast("bigint").alias("common_mask"),
        )
    )
    return (
        u.groupBy("mask")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(
                F.when(F.col("common_mask") == F.col("mask"), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_single_type_users"),
        )
        .select(
            "mask",
            F.expr("bit_count(mask)").cast("bigint").alias(
                "n_distinct_types"
            ),
            "n_users",
            "n_single_type_users",
        )
        .orderBy("mask")
    )


# -------------------------------------------- posexplode_position_profile

@register(
    "posexplode_position_profile",
    oracle="""
    WITH tok AS (
        SELECT source,
               list_filter(string_split(text, ' '), t -> t <> '') AS t
        FROM documents
    ),
    pos AS (
        SELECT source, i AS pos, t[i] AS tok
        FROM (SELECT source, t, unnest(generate_series(1,
                  LEAST(LEN(t), 10))) AS i
              FROM tok WHERE LEN(t) > 0)
    )
    SELECT source, CAST(pos AS BIGINT) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(LENGTH(tok)) * 1.0 / COUNT(*), 4) AS avg_len,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct
    FROM pos GROUP BY source, pos ORDER BY source, pos
    """,
)
def posexplode_position_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL EXPLODE surface (`posexplode`): token length and
    diversity BY POSITION over each document's first 10 tokens — the
    positional profile that exposes templated corpora (position 1–3
    near-constant ⇒ boilerplate prefixes, the `boilerplate_top_blocks`
    signal read positionally).  Spark's posexplode emits (pos, val)
    natively; DuckDB spells it generate_series + list indexing.

    Determinism: positions and counts exact; one avg division,
    ROUND(.,4).  Spark posexplode is 0-based — shifted +1 to match
    the oracle's 1-based list indexing.

    Scale (100 TB): explode fan capped at 10 rows/doc; map-side
    collapse to |sources|·10 rows."""
    d = load(spark, sf_dir, "documents")
    toks = tokens()
    base = d.select("source", F.slice(toks, 1, 10).alias("t")).where(
        F.size("t") > 0
    )
    pos = base.select(
        "source", F.posexplode("t").alias("pos0", "tok")
    ).select("source", (F.col("pos0") + 1).alias("pos"), "tok")
    return (
        pos.groupBy("source", "pos")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(F.length("tok")) * F.lit(1.0) / F.count(F.lit(1)),
                4,
            ).alias("avg_len"),
            F.countDistinct("tok").cast("bigint").alias("n_distinct"),
        )
        .select(
            "source", F.col("pos").cast("bigint").alias("pos"), "n",
            "avg_len", "n_distinct",
        )
        .orderBy("source", "pos")
    )


# --------------------------------------------------- str_pad_translate_funcs

@register(
    "str_pad_translate_funcs",
    oracle="""
    SELECT p_partkey,
           lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
           rpad(upper(p_brand), 12, '.') AS brand_cell,
           translate(p_name, 'aeiou', '43107') AS name_leet,
           reverse(p_name) AS name_rev,
           repeat('*', CAST(p_size % 8 AS INT)) AS size_bar,
           CAST(LENGTH(p_name) - LENGTH(replace(p_name, ' ', ''))
                AS BIGINT) AS n_spaces
    FROM part WHERE p_partkey % 97 = 0 ORDER BY p_partkey
    """,
)
def str_pad_translate_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING FORMATTING/TRANSLITERATION surface (lpad / rpad /
    translate / reverse / repeat / replace-count): the fixed-width
    report-cell and key-normalization toolkit (zero-padded join keys,
    dotted table cells, leet-style transliteration as the classic
    translate demo, space counting via the replace-length trick) —
    third `str_funcs` wave, closing the padding/transliteration gap
    left by `str_funcs`/`str_funcs2`.

    Determinism: every function is a pure row-local string transform
    with identical semantics in both engines; the %97 key filter
    bounds output deterministically.

    Scale (100 TB): row-local projection behind a pushed-down
    arithmetic filter; no shuffle at all."""
    p = load(spark, sf_dir, "part").where(
        F.col("p_partkey") % 97 == 0
    )
    return p.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias(
            "key_padded"
        ),
        F.rpad(F.upper("p_brand"), 12, ".").alias("brand_cell"),
        F.translate("p_name", "aeiou", "43107").alias("name_leet"),
        F.reverse("p_name").alias("name_rev"),
        F.repeat(F.lit("*"), F.expr("CAST(p_size % 8 AS INT)")).alias(
            "size_bar"
        ),
        (
            F.length("p_name")
            - F.length(F.replace(F.col("p_name"), F.lit(" "), F.lit("")))
        )
        .cast("bigint")
        .alias("n_spaces"),
    ).orderBy("p_partkey")


# ------------------------------------------------ try_cast_validation_summary

@register(
    "try_cast_validation_summary",
    oracle="""
    WITH t AS (
        SELECT split_part(c_name, '#', 2) AS digits,
               split_part(c_name, '#', 1) AS alpha,
               c_acctbal
        FROM customer
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN TRY_CAST(digits AS BIGINT) IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_digits_ok,
           CAST(SUM(CASE WHEN TRY_CAST(alpha AS BIGINT) IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha_ok,
           CAST(SUM(CASE WHEN TRY_CAST(digits AS DATE) IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_date_ok,
           CAST(SUM(TRY_CAST(digits AS BIGINT)) AS BIGINT)
               AS digits_sum,
           CAST(SUM(CASE WHEN TRY_CAST(CAST(c_acctbal AS VARCHAR)
                              AS DECIMAL(18,2)) IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_bal_ok
    FROM t
    """,
)
def try_cast_validation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRY_CAST INGEST-VALIDATION surface: the null-on-failure cast is
    how permissive loaders score string columns before committing a
    schema — digit suffixes cast to BIGINT (all succeed), alpha
    prefixes don't (all fail, NO error raised even under ANSI mode),
    digit strings are not dates, and numeric round-trips through
    VARCHAR revalidate.  Complements `try_arith_null_safety`
    (arithmetic) and `load_dead_letter_quarantine` (row routing) with
    the type-probe summary.

    Determinism: success/failure of each cast is definitional per
    value; counts and the cast-sum are exact integers.

    Scale (100 TB): row-local casts, ONE map-side collapse to a
    single summary row."""
    c = load(spark, sf_dir, "customer")
    digits = F.element_at(F.split("c_name", "#"), 2)
    alpha = F.element_at(F.split("c_name", "#"), 1)
    t = c.select(
        digits.alias("digits"),
        alpha.alias("alpha"),
        F.col("c_acctbal"),
    )
    ok = lambda e: F.sum(
        F.when(e.isNotNull(), 1).otherwise(0)
    ).cast("bigint")
    return t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        ok(F.expr("TRY_CAST(digits AS BIGINT)")).alias("n_digits_ok"),
        ok(F.expr("TRY_CAST(alpha AS BIGINT)")).alias("n_alpha_ok"),
        ok(F.expr("TRY_CAST(digits AS DATE)")).alias("n_date_ok"),
        F.sum(F.expr("TRY_CAST(digits AS BIGINT)"))
        .cast("bigint")
        .alias("digits_sum"),
        ok(
            F.expr(
                "TRY_CAST(CAST(c_acctbal AS STRING) AS DECIMAL(18,2))"
            )
        ).alias("n_bal_ok"),
    )


# ------------------------------------------------- regexp_replace_backref

@register(
    "regexp_replace_backref",
    oracle="""
    WITH n AS (
        SELECT c_mktsegment,
               regexp_replace(c_name, '^Customer#0*([0-9]+)$', 'C-\\1')
                   AS short_id
        FROM customer
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT short_id) AS BIGINT) AS n_distinct,
           MIN(short_id) AS min_id,
           MAX(short_id) AS max_id,
           CAST(MAX(LENGTH(short_id)) AS BIGINT) AS max_len
    FROM n GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def regexp_replace_backref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGEXP_REPLACE WITH CAPTURE-GROUP BACKREFERENCE: normalize
    'Customer#000000123' to 'C-123' in one pass — the pattern behind
    every identifier-canonicalization rule (strip zero padding, keep
    the capture).  The backreference SYNTAX is the dialect split this
    op pins: Spark (Java regex) writes `$1`, DuckDB (RE2) writes
    `\\1` — the same logical rule spelled per engine, exactly the
    kind of divergence a migration must catalogue.

    Determinism: anchored regex on fixed-format strings; min/max over
    the normalized ids are string comparisons of deterministic
    values.

    Scale (100 TB): row-local regex; ONE map-side collapse to
    |segments| rows."""
    c = load(spark, sf_dir, "customer")
    short_id = F.regexp_replace(
        F.col("c_name"), r"^Customer#0*([0-9]+)$", r"C-$1"
    )
    n = c.select("c_mktsegment", short_id.alias("short_id"))
    return (
        n.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("short_id").cast("bigint").alias("n_distinct"),
            F.min("short_id").alias("min_id"),
            F.max("short_id").alias("max_id"),
            F.max(F.length("short_id")).cast("bigint").alias("max_len"),
        )
        .orderBy("c_mktsegment")
    )


# ------------------------------------------------- grouped_keyset_pagination

@register(
    "grouped_keyset_pagination",
    oracle="""
    WITH r AS (
        SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer
    )
    SELECT c_mktsegment, CAST(rn AS BIGINT) AS rn, c_custkey, c_name,
           ROUND(c_acctbal, 2) AS acctbal
    FROM r WHERE rn BETWEEN 6 AND 10
    ORDER BY c_mktsegment, rn
    """,
)
def grouped_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP PAGINATION (page 2, size 5, per market segment):
    ROW_NUMBER over (balance DESC, key) sliced with BETWEEN — the
    keyset-stable "page N of each group" query every API backend
    issues, and the shape `win_rank_topk_group` (page 1 only)
    doesn't cover.  The tiebreak key makes page boundaries stable
    under re-execution — the property OFFSET pagination on a
    nondeterministic sort silently lacks.

    Determinism: total order (acctbal DESC, custkey) — no rank ties
    possible; balances render as ROUND(,2) of values that ARE
    2-decimal.

    Scale (100 TB): one window partitioned by segment; Spark pushes a
    rank LIMIT into the window sort per partition (WindowGroupLimit),
    so each group materializes ~10 rows, not its full membership."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    r = c.withColumn("rn", F.row_number().over(w))
    return (
        r.where((F.col("rn") >= 6) & (F.col("rn") <= 10))
        .select(
            "c_mktsegment",
            F.col("rn").cast("bigint").alias("rn"),
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .orderBy("c_mktsegment", "rn")
    )
