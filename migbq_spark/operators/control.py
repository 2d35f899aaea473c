"""Metadata / validation control plane — SURVEY.md §2.I: migbq's ops
surface re-expressed as queries.

Reference parity: migbq keeps per-table progress (last migrated PK, row
counts) and a per-range job log in a peewee/sqlite metadata DB
(`[pub:H migbq/MigrationMetadataManager.py]`); `migbq check` reconciles
source-vs-destination per-day counts and re-enqueues mismatched or
unfinished ranges (`[pub:H migbq/migbq.py check]`, SURVEY §3.1 EP3).
Here the "source" and "job log" are derived from the events/orders
tables so the operators are self-contained and oracle-checkable.

Scale notes (100 TB): progress rollups and reconciliations are
small-output aggregations over the PK/day — partial aggregation makes
them scan-bound; the FULL OUTER join joins two already-aggregated sides
(tiny), so AQE turns it into a broadcast join automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from migbq_spark.catalog import load, read_parquet
from migbq_spark.common import dec, md5_int
from migbq_spark.registry import register


@register(
    "meta_progress_log",
    oracle="""
    SELECT event_type AS table_name,
           MAX(event_id) AS last_pk,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def meta_progress_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """migbq's per-table progress rollup (last migrated PK, row count,
    checksum-ish sum), emulated with event_type as the table axis."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(F.col("event_type").alias("table_name")).agg(
        F.max("event_id").alias("last_pk"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(dec("value")).cast("decimal(38,2)").cast("double").alias("sum_value"),
    )


@register(
    "check_count_reconcile",
    oracle="""
    SELECT COALESCE(s.d, t.d) AS order_day,
           COALESCE(s.n_src, 0) AS n_src,
           COALESCE(t.n_dst, 0) AS n_dst,
           COALESCE(s.n_src, 0) - COALESCE(t.n_dst, 0) AS diff,
           (COALESCE(s.n_src, 0) <> COALESCE(t.n_dst, 0)) AS mismatch
    FROM (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_src
          FROM orders GROUP BY CAST(o_orderdate AS DATE)) s
    FULL OUTER JOIN
         (SELECT CAST(o.o_orderdate AS DATE) AS d, COUNT(*) AS n_dst
          FROM orders o
          WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
          GROUP BY CAST(o.o_orderdate AS DATE)) t
    ON s.d = t.d
    """,
)
def check_count_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """migbq `check`: per-day source counts vs per-day destination counts,
    FULL OUTER joined with mismatch rows flagged.  "Destination" here =
    orders that made it into lineitem (semi join), so at sf the fixture
    genuinely exercises both the matched and mismatched branches."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    src = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_src")
    )
    dst = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_dst"))
    )
    j = src.join(dst, "d", "full")
    n_src = F.coalesce("n_src", F.lit(0))
    n_dst = F.coalesce("n_dst", F.lit(0))
    return j.select(
        F.col("d").alias("order_day"),
        n_src.alias("n_src"),
        n_dst.alias("n_dst"),
        (n_src - n_dst).alias("diff"),
        (n_src != n_dst).alias("mismatch"),
    )


@register(
    "retry_missing_ranges",
    oracle="""
    SELECT DISTINCT o_orderkey // 100 AS range_id
    FROM orders
    WHERE NOT EXISTS (SELECT 1 FROM orders d
                      WHERE d.o_orderkey // 100 = orders.o_orderkey // 100
                        AND d.o_orderstatus = 'F')
    """,
)
def retry_missing_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """migbq's re-queue scan: PK ranges (stride 100) that were attempted
    (have rows) but have no completed ('F') record → left_anti join of the
    range log against the done log."""
    o = load(spark, sf_dir, "orders")
    ranges = o.select(F.expr("o_orderkey div 100").alias("range_id")).distinct()
    done = (
        o.filter(F.col("o_orderstatus") == "F")
        .select(F.expr("o_orderkey div 100").alias("range_id"))
        .distinct()
    )
    return ranges.join(done, "range_id", "left_anti")


@register(
    "merge_upsert_latest",
    oracle="""
    WITH m AS (SELECT MAX(event_id) AS mx FROM events),
    base AS (
        SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
               'base' AS src
        FROM events, m WHERE event_id <= mx / 2
    ),
    delta AS (
        SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
               'delta' AS src
        FROM events, m WHERE event_id > mx / 2
    ),
    unioned AS (SELECT * FROM base UNION ALL SELECT * FROM delta)
    SELECT user_id, event_type, event_id, src
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM unioned)
    WHERE rn = 1
    """,
)
def merge_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse MERGE/upsert: apply a delta batch onto a base snapshot,
    keeping the latest version per merge key (user_id, event_type) —
    latest by (ts, event_id), so a delta row replaces any older base row
    for its key, exactly BigQuery's dedup-rewrite that migbq's retry
    repair performs (`win_rownum_dedup` pushed to BQ — SURVEY.md §3.1
    EP3), expressed engine-side.

    The base/delta split point is computed in-query (max(event_id)/2,
    the `incremental_delta` convention) so the fixture is sf-independent.

    Scale (100 TB): union + window is the merge-on-read formulation; a
    format with MERGE INTO (Delta/Iceberg) does the same logically but
    rewrites only matched files.  One shuffle on the merge key; AQE
    handles hot keys.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts"
    )
    mx = ev.agg(F.max("event_id").alias("mx"))
    tagged = ev.crossJoin(F.broadcast(mx)).withColumn(
        "src",
        F.when(F.col("event_id") <= F.col("mx") / 2, "base").otherwise("delta"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        tagged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "src")
    )


@register(
    "compact_merge_on_read",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 3 THEN 'U' ELSE o_orderstatus END
               AS status,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price
    FROM orders
    WHERE o_orderkey % 13 <> 5
    """,
)
def compact_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read table with compaction: a base snapshot plus a delta
    log of UPDATE rows and DELETE tombstones, resolved at read time
    (arg-max on version per key, tombstones filtered), then COMPACTED —
    the resolved view rewritten as a plain parquet snapshot and read
    back.  This is the Delta/Iceberg MOR lifecycle expressed with stock
    DataFrame ops: readers pay the union+window merge until compaction
    folds the log into the base.  The delta sets are derived
    deterministically from the base (o_orderkey mod rules), so the
    oracle is a simple CASE/filter over orders.

    Versions are per-key unique by construction (base=0, update=1,
    tombstone=2 — delete beats update for keys carrying both), so the
    arg-max window is deterministic without further tiebreaks.

    Scale (100 TB): the read-time merge is one shuffle on the merge key
    over base+log (log ≪ base, AQE broadcasts it in real MOR formats
    via file-level pruning); compaction is the same plan ending in a
    partitioned columnar write, amortizing the merge across all future
    readers — exactly why lakehouse tables schedule it."""
    from migbq_spark.operators.sources import _stage_dir

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        # decimal fixes per-row rounding; double is the hash-stable type
        dec("o_totalprice").cast("double").alias("price"),
    )
    base = o.select(
        "o_orderkey", "status", "price",
        F.lit(0).alias("version"), F.lit(False).alias("deleted"),
    )
    updates = o.filter(F.col("o_orderkey") % 7 == 3).select(
        "o_orderkey", F.lit("U").alias("status"), "price",
        F.lit(1).alias("version"), F.lit(False).alias("deleted"),
    )
    tombstones = o.filter(F.col("o_orderkey") % 13 == 5).select(
        "o_orderkey",
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("double").alias("price"),
        F.lit(2).alias("version"), F.lit(True).alias("deleted"),
    )
    log = base.unionByName(updates).unionByName(tombstones)
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("version"))
    resolved = (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (~F.col("deleted")))
        .select("o_orderkey", "status", "price")
    )
    dest = _stage_dir(sf_dir, "mor_compacted")
    resolved.write.mode("overwrite").parquet(dest)
    return read_parquet(spark, dest)


@register(
    "cdc_snapshot_diff",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, o_orderstatus AS status
        FROM orders WHERE o_orderkey % 17 <> 2
    ),
    v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 3 THEN 'U' ELSE o_orderstatus END
                   AS status
        FROM orders WHERE o_orderkey % 13 <> 5
    )
    SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
           CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
                WHEN v2.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           v1.status AS old_status,
           v2.status AS new_status
    FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
       OR v1.status <> v2.status
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two table snapshots: FULL OUTER join
    on the PK emitting insert / delete / update rows with old+new
    values — the change feed a downstream incremental consumer replays
    (Delta CDF / Iceberg changelog semantics, and the generalization of
    migbq's count-based `check`: WHICH rows drifted, not just how
    many).  Both snapshots are derived deterministically from orders
    (v1 drops keys ≡2 mod 17, v2 drops keys ≡5 mod 13 and updates keys
    ≡3 mod 7), so the fixture exercises all three change types.

    Scale (100 TB): one shuffle on the PK for both sides; unchanged
    rows are filtered before any further stage, so the change feed is
    |changes|, not |table|.  With snapshots stored bucket-partitioned
    on the PK the join is co-located and shuffle-free."""
    o = load(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 17 != 2).select(
        F.col("o_orderkey").alias("k1"), F.col("o_orderstatus").alias("old_status")
    )
    v2 = o.filter(F.col("o_orderkey") % 13 != 5).select(
        F.col("o_orderkey").alias("k2"),
        F.when(F.col("o_orderkey") % 7 == 3, "U")
        .otherwise(F.col("o_orderstatus"))
        .alias("new_status"),
    )
    j = v1.join(v2, v1.k1 == v2.k2, "full")
    return j.filter(
        F.col("k1").isNull()
        | F.col("k2").isNull()
        | (F.col("old_status") != F.col("new_status"))
    ).select(
        F.coalesce("k1", "k2").alias("o_orderkey"),
        F.when(F.col("k1").isNull(), "insert")
        .when(F.col("k2").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        "old_status",
        "new_status",
    )


#: Checksums publish their decimal-accumulated sum modulo 2^48 so the
#: result rides in BIGINT at any table size (see table_checksum_md5).
_CHECKSUM_MOD = 1 << 48


@register(
    "table_checksum_md5",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(concat('0x',
                 substr(md5(concat_ws('|', CAST(event_id AS VARCHAR),
                                           CAST(user_id AS VARCHAR),
                                           event_type, props)), 1, 12))
               AS BIGINT)) % 281474976710656 AS BIGINT) AS checksum
    FROM events GROUP BY event_type
    """,
)
def table_checksum_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content checksum per logical table: each row is
    hashed (md5 of a '|'-joined canonical rendering of its stable
    columns), the 48-bit hash prefix summed per group — migbq's `check`
    compared only COUNTS; a sum-of-hashes catches value drift at equal
    counts, and being a commutative SUM it is partition-order-proof and
    cheap to maintain incrementally (add/subtract per changed row).
    md5 is cross-engine-identical; Spark parses the hex prefix with
    `common.md5_int`, DuckDB with a 0x-cast.

    The sum ACCUMULATES IN DECIMAL(38,0) and publishes mod 2^48: a
    BIGINT accumulator overflows at n·2^48 > 2^63 ≈ 32 M rows, and
    already at sf0.1 (600 k events × 2^48 ≈ 1.7·10^19), so 12 hex
    digits do not leave headroom "at any realistic row count".  38-digit
    decimal holds to ~10^26 row-hashes (≫ any table), and the published
    residue is still a commutative, incrementally maintainable checksum
    (mod arithmetic distributes over ±).

    Scale (100 TB): row-local hashing + map-side-combinable SUM — one
    scan, no shuffle beyond |groups| partials; the per-PK-range variant
    (group by pk div stride) localizes a mismatch to one retry range."""
    ev = load(spark, sf_dir, "events")
    canon = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.col("props"),
    )
    prefix_int = md5_int(canon, 1, 12).cast("decimal(38,0)")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.pmod(F.sum(prefix_int), F.lit(_CHECKSUM_MOD))
        .cast("bigint")
        .alias("checksum"),
    )


@register(
    "checksum_incremental_update",
    oracle="""
    WITH h AS (
        SELECT o_orderkey,
               o_orderkey % 17 <> 2 AS in_v1,
               o_orderkey % 13 <> 5 AS in_v2,
               CAST(concat('0x', substr(md5(concat_ws('|',
                     CAST(o_orderkey AS VARCHAR), o_orderstatus)), 1, 12))
                    AS BIGINT) AS h1,
               CAST(concat('0x', substr(md5(concat_ws('|',
                     CAST(o_orderkey AS VARCHAR),
                     CASE WHEN o_orderkey % 7 = 3 THEN 'U'
                          ELSE o_orderstatus END)), 1, 12))
                    AS BIGINT) AS h2
        FROM orders
    )
    SELECT CAST((SUM(CASE WHEN in_v1 THEN h1 ELSE 0 END)
             + SUM(CASE WHEN in_v2 THEN h2 ELSE 0 END)
             - SUM(CASE WHEN in_v1 THEN h1 ELSE 0 END))
               % 281474976710656 AS BIGINT) AS checksum_incremental,
           CAST(SUM(CASE WHEN in_v2 THEN h2 ELSE 0 END)
               % 281474976710656 AS BIGINT) AS checksum_full,
           (SUM(CASE WHEN in_v2 THEN h2 ELSE 0 END) IS NOT NULL) AS consistent
    FROM h
    """,
)
def checksum_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental checksum maintenance: starting from snapshot v1's
    sum-of-hashes, apply the CDC feed (cdc_snapshot_diff's deltas) by
    ADDING each inserted/updated row's new hash and SUBTRACTING each
    deleted/updated row's old hash — then prove the incrementally
    maintained checksum equals a full recomputation over v2.  This is
    why the checksum is a commutative SUM (table_checksum_md5): v2 can
    be verified from v1 + |changes| hashes without rescanning the
    table — migbq's `check` at 100 TB cost |delta|, not |table|.

    The Spark side maintains the checksum through the actual CDC path
    (diff rows → ±hash → fold into v1's total); the oracle states the
    same algebra directly — both must land on the identical residue.
    Like `table_checksum_md5` (same BIGINT overflow), the sums
    accumulate in DECIMAL(38,0) and publish mod 2^48; the ± algebra
    survives the mod because modular arithmetic distributes over it
    (equality is checked on the full decimals BEFORE reduction).

    Scale (100 TB): the incremental path touches only the change feed
    (map-side ± hashes, one scalar fold); the full path exists here
    only to verify the equivalence."""
    o = load(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    v1_status = F.col("o_orderstatus")
    v2_status = F.when(key % 7 == 3, "U").otherwise(v1_status)

    def row_hash(status_col):
        canon = F.concat_ws("|", key.cast("string"), status_col)
        return md5_int(canon, 1, 12).cast("decimal(38,0)")

    in_v1 = key % 17 != 2
    in_v2 = key % 13 != 5
    h = o.select(
        in_v1.alias("in_v1"),
        in_v2.alias("in_v2"),
        row_hash(v1_status).alias("h1"),
        row_hash(v2_status).alias("h2"),
    )
    # v1 baseline, the CDC adjustments, and the independent full v2 sum
    agg = h.agg(
        F.sum(F.when(F.col("in_v1"), F.col("h1")).otherwise(0)).alias("c_v1"),
        # inserts + updates contribute their NEW hash (rows in v2 that
        # are new or changed); deletes + updates retract their OLD hash
        F.sum(
            F.when(F.col("in_v2") & (~F.col("in_v1") | (F.col("h1") != F.col("h2"))),
                   F.col("h2")).otherwise(0)
        ).alias("added"),
        F.sum(
            F.when(F.col("in_v1") & (~F.col("in_v2") | (F.col("h1") != F.col("h2"))),
                   F.col("h1")).otherwise(0)
        ).alias("retracted"),
        F.sum(F.when(F.col("in_v2"), F.col("h2")).otherwise(0)).alias("c_v2_full"),
    )
    return agg.select(
        F.pmod(
            F.col("c_v1") + F.col("added") - F.col("retracted"),
            F.lit(_CHECKSUM_MOD),
        )
        .cast("bigint")
        .alias("checksum_incremental"),
        F.pmod(F.col("c_v2_full"), F.lit(_CHECKSUM_MOD))
        .cast("bigint")
        .alias("checksum_full"),
        (
            (F.col("c_v1") + F.col("added") - F.col("retracted"))
            == F.col("c_v2_full")
        ).alias("consistent"),
    )


@register(
    "pk_gap_detection",
    oracle="""
    WITH s AS (
        SELECT o_orderkey,
               LEAD(o_orderkey) OVER (ORDER BY o_orderkey) AS nxt
        FROM orders
    )
    SELECT o_orderkey + 1 AS gap_start, nxt - 1 AS gap_end,
           nxt - o_orderkey - 1 AS n_missing
    FROM s WHERE nxt - o_orderkey > 1
    """,
)
def pk_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PK gap detection: every maximal missing range [gap_start,
    gap_end] in the key sequence, via a single lead() pass over the
    sorted PK — the precise version of migbq's stride-based
    `retry_missing_ranges` (which can only flag a whole stride; this
    pinpoints the exact keys a re-extract must fetch, and TPC-H
    orderkeys are genuinely sparse, so the fixture exercises it hard).

    Scale (100 TB): the scan is pruned to the PK column; the lead()
    needs neighboring keys adjacent — a RANGE-partitioned sort keeps it
    parallel (gaps spanning partition boundaries are caught by
    comparing per-partition min/max, the repartitionByRange contract);
    the single-task window here is the local[*] formulation."""
    o = load(spark, sf_dir, "orders").select("o_orderkey")
    w = Window.orderBy("o_orderkey")
    s = o.withColumn("nxt", F.lead("o_orderkey").over(w))
    return s.filter(F.col("nxt") - F.col("o_orderkey") > 1).select(
        (F.col("o_orderkey") + 1).alias("gap_start"),
        (F.col("nxt") - 1).alias("gap_end"),
        (F.col("nxt") - F.col("o_orderkey") - 1).alias("n_missing"),
    )


@register(
    "scd2_dimension_build",
    oracle="""
    WITH v0 AS (
        SELECT o_orderkey, o_orderstatus AS status,
               CAST(o_orderdate AS DATE) AS eff_date
        FROM orders
    ),
    v1 AS (
        SELECT o_orderkey, 'U' AS status,
               CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS change_date
        FROM orders WHERE o_orderkey % 7 = 3
    )
    SELECT v0.o_orderkey, v0.status,
           v0.eff_date AS valid_from,
           CAST(v1.change_date AS DATE) AS valid_to,
           (v1.o_orderkey IS NULL) AS is_current
    FROM v0 LEFT JOIN v1 ON v0.o_orderkey = v1.o_orderkey
    UNION ALL
    SELECT v1.o_orderkey, v1.status,
           CAST(v1.change_date AS DATE) AS valid_from,
           CAST(NULL AS DATE) AS valid_to,
           TRUE AS is_current
    FROM v1
    """,
)
def scd2_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 build: applying a change batch
    to a dimension produces history rows — the superseded version gets
    `valid_to` = change date and `is_current` = false, the new version
    opens an unbounded interval — so facts can always join "the status
    as of THEIR date" (pairs with join_asof for the as-of lookup).
    Changes are derived deterministically (keys ≡3 mod 7 update to 'U'
    30 days after the order date), so the full history table is
    oracle-checkable.

    Scale (100 TB): one key-partitioned LEFT JOIN (change batch ≪
    dimension → broadcast) plus a union with the change rows; history
    grows by |changes| per batch, never rewritten — the append-only
    property that makes SCD2 cheap in a lakehouse."""
    o = load(spark, sf_dir, "orders")
    v0 = o.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.to_date("o_orderdate").alias("eff_date"),
    )
    v1 = o.filter(F.col("o_orderkey") % 7 == 3).select(
        F.col("o_orderkey").alias("chg_key"),
        F.lit("U").alias("new_status"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("change_date"),
    )
    # valid_from/valid_to as TIMESTAMP: NULL valid_to (the open interval)
    # must render NaT like DuckDB's DATE→datetime64 — a Spark date object
    # column renders NULL as 'None' and breaks the driver hash
    hist_old = v0.join(
        F.broadcast(v1), v0.o_orderkey == v1.chg_key, "left"
    ).select(
        "o_orderkey",
        "status",
        F.col("eff_date").cast("timestamp").alias("valid_from"),
        F.col("change_date").cast("timestamp").alias("valid_to"),
        F.col("chg_key").isNull().alias("is_current"),
    )
    hist_new = v1.select(
        F.col("chg_key").alias("o_orderkey"),
        F.col("new_status").alias("status"),
        F.col("change_date").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return hist_old.unionByName(hist_new)


@register(
    "observe_progress_metrics",
    oracle="""
    SELECT COUNT(*) AS n_rows, MIN(event_id) AS min_pk, MAX(event_id) AS max_pk
    FROM events
    WHERE event_id <= (SELECT MAX(event_id) / 2 FROM events)
    """,
)
def observe_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """migbq's per-range progress accounting (row count + PK bounds per
    forwarded batch) as `df.observe` metrics riding the export action
    itself — ZERO extra scans.

    The reference re-queries the source for counts after each load
    (SURVEY §3.1 check loop); on Spark the accumulator-backed Observation
    collects COUNT/MIN/MAX while the export job streams rows to the sink,
    so at 100 TB the reconciliation numbers are free — no second pass
    over the fact table.  The observed values are returned as a 1-row
    frame and hash-checked against the oracle recomputing them
    declaratively; integer-exact, so parity is bitwise."""
    from pyspark.sql import Observation

    ev = load(spark, sf_dir, "events")
    ev.createOrReplaceTempView("mq_events_obs")
    batch = spark.sql(
        """
        SELECT * FROM mq_events_obs
        WHERE event_id <= (SELECT MAX(event_id) / 2 FROM mq_events_obs)
        """
    )
    obs = Observation("mq_progress")
    observed = batch.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.min("event_id").alias("min_pk"),
        F.max("event_id").alias("max_pk"),
    )
    # the export action the metrics ride on (noop sink = full execution)
    observed.write.mode("overwrite").format("noop").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["min_pk"], m["max_pk"])],
        "n_rows bigint, min_pk bigint, max_pk bigint",
    )


@register(
    "recursive_pk_ranges",
    oracle="""
    WITH RECURSIVE ranges(range_lo) AS (
        SELECT CAST(0 AS BIGINT)
        UNION ALL
        SELECT range_lo + 500 FROM ranges
        WHERE range_lo + 500 <= (SELECT (MAX(event_id) - 1) // 500 * 500
                                  FROM events)
    )
    SELECT r.range_lo, COALESCE(c.n_rows, 0) AS n_rows
    FROM ranges r
    LEFT JOIN (
        SELECT (event_id - 1) // 500 * 500 AS range_lo,
               COUNT(*) AS n_rows
        FROM events GROUP BY 1
    ) c USING (range_lo)
    """,
)
def recursive_pk_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """migbq's PK-range sweep table generated by a RECURSIVE CTE
    (Spark 4 `WITH RECURSIVE`, verified working on 4.1.2) — the
    reference's driver-side `while lo < max` loop expressed as pure SQL
    frontier iteration, LEFT-joined against per-range counts so EMPTY
    ranges surface (the gap-detection tie-in, §2.I).

    The recursion generates one row per batch_size=500 range; the count
    side stays the scalable arithmetic bucketing
    (`(pk-1) div B * B`, one map-side-combinable shuffle).  Scale
    (100 TB): recursion depth = |table|/batch_size rows on the DRIVER
    side of the plan — fine for range inventories (thousands); for
    billion-range sweeps use the arithmetic form alone
    (`check_count_reconcile`); the recursive form exists for frontier
    algorithms (reachability, BOM explosion) where each step genuinely
    depends on the previous.  MAX(pk) is read first as a bounded driver
    scalar and inlined, keeping the recursive member subquery-free."""
    ev = load(spark, sf_dir, "events")
    mx = ev.agg(F.max("event_id")).first()[0] or 0  # bounded driver scalar
    top = (mx - 1) // 500 * 500 if mx else 0
    ev.createOrReplaceTempView("mq_events_rcte")
    # The recursion-limit conf is read at EXECUTION time (verified on
    # 4.1.2: restoring before .collect() fails with
    # RECURSION_LEVEL_LIMIT_EXCEEDED), so the raised limit cannot simply
    # be restored after building the lazy plan.  Instead: materialize the
    # bounded result (one row per 500-PK range — a range inventory, tiny
    # by construction) inside the conf window via an eager
    # localCheckpoint, then restore the session-global conf in `finally`
    # so the override never leaks into subsequent queries.
    prior = spark.conf.get("spark.sql.cteRecursionLevelLimit", None)
    try:
        spark.conf.set("spark.sql.cteRecursionLevelLimit", "1000000")
        return spark.sql(
            f"""
            WITH RECURSIVE ranges(range_lo) AS (
                SELECT CAST(0 AS BIGINT)
                UNION ALL
                SELECT range_lo + 500 FROM ranges
                WHERE range_lo + 500 <= {top}
            )
            SELECT r.range_lo, COALESCE(c.n_rows, 0) AS n_rows
            FROM ranges r
            LEFT JOIN (
                SELECT (event_id - 1) DIV 500 * 500 AS range_lo,
                       COUNT(*) AS n_rows
                FROM mq_events_rcte GROUP BY 1
            ) c USING (range_lo)
            """
        ).localCheckpoint(eager=True)
    finally:
        if prior is not None:
            spark.conf.set("spark.sql.cteRecursionLevelLimit", prior)
        else:
            spark.conf.unset("spark.sql.cteRecursionLevelLimit")


# ---------------------------------------------- load_dead_letter_quarantine

@register(
    "load_dead_letter_quarantine",
    oracle="""
    WITH t AS (
        SELECT event_id, event_type,
               CAST(json_extract(props, '$.k') AS INT) AS k, value
        FROM events
    ),
    f AS (
        SELECT *,
               list_filter([
                   CASE WHEN k > 90 THEN 'k_overflow' END,
                   CASE WHEN value > 550 THEN 'value_range' END
               ], x -> x IS NOT NULL) AS fails
        FROM t
    )
    SELECT event_id, event_type, k, value,
           array_to_string(fails, ',') AS reason
    FROM f WHERE len(fails) > 0
    """,
)
def load_dead_letter_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEAD-LETTER quarantine for a typed load contract — migbq's
    failed-row story ([pub:migbq] rows that violate the BigQuery target
    schema during a MSSQL sync are diverted, not dropped, so the batch
    commits and the misfits stay auditable): each source row is checked
    against the destination contract (here: `k` must fit the target
    column width `<= 90`, `value` must satisfy the range CHECK
    `<= 550`), and VIOLATING rows are emitted with a deterministic
    comma-joined reason list — the table an operator replays after
    widening the target schema.  The happy-path rows are exactly
    `events EXCEPT this` (no second operator needed — same scan).

    Scale (100 TB): entirely row-local (JSON field extract + two
    comparisons + array_compact), no shuffle, no UDF; the quarantine
    side is the small output by design, so the sink write is cheap
    regardless of source size."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    fails = F.array_compact(
        F.array(
            F.when(k > 90, F.lit("k_overflow")),
            F.when(F.col("value") > 550, F.lit("value_range")),
        )
    )
    return (
        e.select(
            "event_id",
            "event_type",
            k.alias("k"),
            "value",
            fails.alias("fails"),
        )
        .filter(F.size("fails") > 0)
        .select(
            "event_id",
            "event_type",
            "k",
            "value",
            F.array_join("fails", ",").alias("reason"),
        )
    )


_SKEW_BUCKETS = 32


@register(
    "partition_skew_audit",
    oracle=f"""
    WITH b AS (
        SELECT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                        1, 15)) AS BIGINT)
                   % {_SKEW_BUCKETS} AS bucket
        FROM events
    ),
    per AS (SELECT bucket, COUNT(*) AS n_rows FROM b GROUP BY bucket),
    tot AS (SELECT SUM(n_rows) * 1.0 / {_SKEW_BUCKETS} AS mean_rows
            FROM per)
    SELECT bucket,
           n_rows,
           ROUND(n_rows / mean_rows, 4) AS skew_factor,
           n_rows > 2 * mean_rows AS is_hot
    FROM per CROSS JOIN tot
    """,
)
def partition_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRE-SHUFFLE SKEW AUDIT: rows per hash partition for a planned
    shuffle key (events.user_id into 32 buckets), each bucket's load
    factor vs the uniform mean, and a >2x hot-bucket flag — the
    planning query a pipeline owner runs BEFORE keying a 100 TB join
    or aggregation on a column, to decide between a plain shuffle,
    `join_skew_salted`'s salting, or AQE skew splitting.  The mean is
    computed over all {_SKEW_BUCKETS} buckets (empty buckets count as
    0), so a key whose values collapse into few buckets shows the
    full imbalance.

    Bucket = portable md5-derived 60-bit hash mod 32 (the
    `_portable_minhash_df` arithmetic), so the assignment — and the
    audit verdict — is value-hash checked against DuckDB; a
    production audit would swap in the engine's own partitioner hash
    (`pmod(hash(key), n)`), same plan.

    Scale (100 TB): one partial-aggregated groupBy down to <=32 rows,
    then the mean as a global window over that tiny frame (a second
    agg branch would re-scan the fact table); the audit costs one scan
    regardless of key cardinality."""
    ev = load(spark, sf_dir, "events")
    bucket = F.pmod(
        md5_int(F.col("user_id").cast("string")), F.lit(_SKEW_BUCKETS)
    )
    per = ev.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    # The mean over a <=32-row frame: a global window (one single-
    # partition exchange of 32 rows) instead of agg + join-back, which
    # would re-run the events scan on the second branch.
    mean_rows = (
        F.sum("n_rows").over(Window.partitionBy())
        * F.lit(1.0)
        / F.lit(_SKEW_BUCKETS)
    )
    return per.select(
        "bucket",
        "n_rows",
        F.round(F.col("n_rows") / mean_rows, 4).alias("skew_factor"),
        (F.col("n_rows") > F.lit(2) * mean_rows).alias("is_hot"),
    )


@register(
    "join_cardinality_estimate",
    oracle="""
    WITH c AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id
    ),
    tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(cnt * cnt) AS BIGINT) AS exact_pairs
        FROM c
    ),
    top AS (
        SELECT cnt FROM c ORDER BY cnt DESC, user_id ASC LIMIT 20
    ),
    hh AS (
        SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS top_sq,
               CAST(SUM(cnt) AS BIGINT) AS top_rows,
               CAST(COUNT(*) AS BIGINT) AS top_k
        FROM top
    )
    SELECT t.n_rows, t.n_keys, t.exact_pairs,
           hh.top_sq + CASE WHEN t.n_keys > hh.top_k
                THEN CAST(FLOOR(
                     CAST(t.n_rows - hh.top_rows AS DOUBLE)
                     * (t.n_rows - hh.top_rows)
                     / (t.n_keys - hh.top_k)) AS BIGINT)
                ELSE 0 END AS est_pairs,
           ROUND(abs(hh.top_sq + CASE WHEN t.n_keys > hh.top_k
                     THEN CAST(FLOOR(
                          CAST(t.n_rows - hh.top_rows AS DOUBLE)
                          * (t.n_rows - hh.top_rows)
                          / (t.n_keys - hh.top_k)) AS BIGINT)
                     ELSE 0 END - t.exact_pairs)
                 * 1.0 / t.exact_pairs, 4) AS rel_err,
           t.exact_pairs > 50 * t.n_rows AS would_explode
    FROM tot t CROSS JOIN hh
    """,
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-JOIN SIZE PLANNING AUDIT: the exact output cardinality of a
    user_id self-join on events (Σ cnt(k)² — what sessionization-style
    pair queries pay) next to the estimate a planner would make from
    the 20 heaviest keys kept EXACTLY plus a uniformity assumption for
    the tail — the pre-shuffle "will this join explode" check that
    complements `partition_skew_audit` (per-bucket load) and
    `lsh_bucket_skew_audit` (candidate-pair pricing): heavy-hitter
    exactness is what makes join-size estimates survive skew, and
    `rel_err` MEASURES how much the tail-uniformity assumption costs
    on this key.

    Determinism: counts and both Σcnt² terms are exact integers; the
    tail estimate is one fixed-order double expression floored to
    int64; the top-20 cut is total-ordered (cnt DESC, user_id ASC).

    Scale (100 TB): one partial-aggregated groupBy per key, scalar
    combinable totals, and a TakeOrdered(20) — the audit costs one
    scan + one tiny shuffle regardless of key cardinality."""
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    tot = c.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("exact_pairs"),
    )
    hh = (
        c.orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(20)
        .agg(
            F.sum(F.col("cnt") * F.col("cnt")).alias("top_sq"),
            F.sum("cnt").alias("top_rows"),
            F.count(F.lit(1)).alias("top_k"),
        )
    )
    tail_rows = F.col("n_rows") - F.col("top_rows")
    tail_keys = F.col("n_keys") - F.col("top_k")
    est = F.col("top_sq") + F.when(
        tail_keys > 0,
        F.floor(
            tail_rows.cast("double") * tail_rows / tail_keys
        ).cast("bigint"),
    ).otherwise(F.lit(0))
    return tot.crossJoin(F.broadcast(hh)).select(
        "n_rows",
        "n_keys",
        "exact_pairs",
        est.alias("est_pairs"),
        F.round(
            F.abs(est - F.col("exact_pairs"))
            * F.lit(1.0)
            / F.col("exact_pairs"),
            4,
        ).alias("rel_err"),
        (F.col("exact_pairs") > F.lit(50) * F.col("n_rows")).alias(
            "would_explode"
        ),
    )


# --------------------------------------------------- dq_expectation_suite

@register(
    "dq_expectation_suite",
    oracle="""
    WITH checks AS (
        SELECT 'orders_pk_not_null' AS check_name, 'orders' AS tbl,
               CAST(COUNT(*) AS BIGINT) AS n_checked,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_violations
        FROM orders
        UNION ALL
        SELECT 'orders_pk_unique', 'orders',
               CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'orders_status_accepted', 'orders',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P')
                             THEN 0 ELSE 1 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'orders_totalprice_range', 'orders',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN o_totalprice > 0
                              AND o_totalprice < 1000000 THEN 0 ELSE 1 END)
                    AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'lineitem_fk_orders', 'lineitem',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL
        SELECT 'orders_fk_customer', 'orders',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
        UNION ALL
        SELECT 'lineitem_qty_positive', 'lineitem',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN l_quantity >= 1 THEN 0 ELSE 1 END)
                    AS BIGINT)
        FROM lineitem
    )
    SELECT check_name, tbl, n_checked, n_violations,
           n_violations = 0 AS passed
    FROM checks
    """,
)
def dq_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-QUALITY EXPECTATION SUITE (the dbt-test / Great-Expectations
    control-plane shape): seven named assertions over the star schema
    — PK not-null + uniqueness, accepted-set membership, value range,
    two referential-integrity checks (lineitem→orders, orders→customer
    via anti-join counts), and a per-row domain invariant
    (quantity ≥ 1) — one row per check with checked/violation
    counts.  This is the gate a load pipeline runs between
    `load_job_sink_commit` and publishing a partition; the violation
    COUNTS (not just booleans) are what the quarantine path
    (`load_dead_letter_quarantine`) consumes.

    Determinism: all counts are exact integers.

    Scale (100 TB): each per-table check is one map-side-combinable
    aggregation (they share the table scans — Spark fuses the four
    orders checks over one scan each branch at worst); the FK checks
    are LEFT ANTI joins that shuffle on the key or broadcast the
    small side — never row-by-row assertions.  Output is |checks|
    rows."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    c = load(spark, sf_dir, "customer")

    def agg_check(df: DataFrame, name: str, tbl: str, viol: F.Column):
        return df.agg(
            F.lit(name).alias("check_name"),
            F.lit(tbl).alias("tbl"),
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(viol.cast("int")).cast("bigint").alias("n_violations"),
        )

    pk_nn = agg_check(
        o, "orders_pk_not_null", "orders", F.col("o_orderkey").isNull()
    )
    pk_uniq = o.agg(
        F.lit("orders_pk_unique").alias("check_name"),
        F.lit("orders").alias("tbl"),
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey"))
        .cast("bigint")
        .alias("n_violations"),
    )
    status = agg_check(
        o,
        "orders_status_accepted",
        "orders",
        ~F.col("o_orderstatus").isin("O", "F", "P"),
    )
    price = agg_check(
        o,
        "orders_totalprice_range",
        "orders",
        ~((F.col("o_totalprice") > 0) & (F.col("o_totalprice") < 1000000)),
    )
    li_n = li.agg(F.count(F.lit(1)).alias("n_checked"))
    li_orphans = li.join(
        o.select("o_orderkey"),
        li["l_orderkey"] == o["o_orderkey"],
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("n_violations"))
    fk_li = li_n.crossJoin(li_orphans).select(
        F.lit("lineitem_fk_orders").alias("check_name"),
        F.lit("lineitem").alias("tbl"),
        "n_checked",
        F.col("n_violations").cast("bigint").alias("n_violations"),
    )
    o_n = o.agg(F.count(F.lit(1)).alias("n_checked"))
    o_orphans = o.join(
        c.select("c_custkey"),
        o["o_custkey"] == c["c_custkey"],
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("n_violations"))
    fk_o = o_n.crossJoin(o_orphans).select(
        F.lit("orders_fk_customer").alias("check_name"),
        F.lit("orders").alias("tbl"),
        "n_checked",
        F.col("n_violations").cast("bigint").alias("n_violations"),
    )
    qty = agg_check(
        li,
        "lineitem_qty_positive",
        "lineitem",
        ~(F.col("l_quantity") >= 1),
    )
    out = (
        pk_nn.unionAll(pk_uniq)
        .unionAll(status)
        .unionAll(price)
        .unionAll(fk_li)
        .unionAll(fk_o)
        .unionAll(qty)
    )
    return out.withColumn("passed", F.col("n_violations") == 0)


# --------------------------------------------------- freshness_staleness_audit

@register(
    "freshness_staleness_audit",
    oracle="""
    WITH per AS (
        SELECT event_type,
               MAX(ts) AS last_ts,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type
    ),
    g AS (SELECT MAX(ts) AS wm FROM events)
    SELECT event_type, last_ts, n_events,
           CAST((epoch_us(g.wm) - epoch_us(last_ts)) // 60000000
                AS BIGINT) AS lag_minutes,
           CASE WHEN (epoch_us(g.wm) - epoch_us(last_ts)) // 60000000
                     < 10080 THEN 'fresh'
                WHEN (epoch_us(g.wm) - epoch_us(last_ts)) // 60000000
                     < 43200 THEN 'aging'
                ELSE 'stale' END AS freshness
    FROM per CROSS JOIN g ORDER BY event_type
    """,
)
def freshness_staleness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-STREAM FRESHNESS AUDIT: each event type's last-seen
    timestamp, its lag in minutes behind the global high-water mark,
    and a fresh(<7d)/aging(<30d)/stale bucket — the first page of
    every ingestion-ops dashboard, and the check migbq's `check`
    lifecycle approximates with per-day count reconciliation
    (SURVEY §3.1 EP3): a silently-dead upstream shows up here ONE
    aggregation before it shows up as missing-day counts.

    Determinism: max timestamps are exact; the lag is WHOLE elapsed
    minutes via floor(epoch_micros_diff / 6e7) on both engines —
    NOT date_diff('minute'), which counts minute-BOUNDARY crossings
    and diverges on sub-second timestamps.

    Scale (100 TB): one map-side-combinable pass to |event types|
    rows; the watermark scalar broadcasts."""
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    g = ev.agg(F.max("ts").alias("wm"))
    lag_min = F.floor(
        (F.unix_micros("wm") - F.unix_micros("last_ts")) / 60000000
    ).cast("bigint")
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "last_ts",
            "n_events",
            lag_min.alias("lag_minutes"),
            F.when(lag_min < 10080, "fresh")
            .when(lag_min < 43200, "aging")
            .otherwise("stale")
            .alias("freshness"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------------ pk_uniqueness_audit

@register(
    "pk_uniqueness_audit",
    oracle="""
    WITH src AS (
        SELECT o_orderkey AS pk FROM orders
        UNION ALL
        SELECT o_orderkey AS pk FROM orders WHERE o_orderkey % 101 = 0
    ),
    g AS (
        SELECT pk, CAST(COUNT(*) AS BIGINT) AS n FROM src GROUP BY pk
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_keys,
           CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
               AS n_rows_in_dups,
           CAST(MIN(CASE WHEN n > 1 THEN pk END) AS BIGINT)
               AS first_dup_pk,
           CAST(MAX(n) AS BIGINT) AS worst_multiplicity
    FROM g
    """,
)
def pk_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIMARY-KEY UNIQUENESS AUDIT with PLANTED violations (every
    101st order key re-appended): key count vs row count, duplicate
    keys, rows trapped in duplicates, the first offending key as the
    debugging exemplar, and the worst multiplicity — the audit a
    migration runs after every load (`pk_gap_detection` finds MISSING
    keys; this finds DOUBLED ones, the other half of exactly-once).
    The planted duplication proves the detector actually fires.

    Determinism: the plant is key arithmetic; every output is an
    exact integer (MIN/MAX over ints for the exemplars).

    Scale (100 TB): ONE pk-keyed exchange with map-side partial
    counts; the audit row is a second tiny collapse."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("pk")
    )
    src = o.unionAll(o.where(F.col("pk") % 101 == 0))
    g = src.groupBy("pk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    dup = F.col("n") > 1
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.sum(F.when(dup, 1).otherwise(0)).cast("bigint").alias(
            "n_dup_keys"
        ),
        F.sum(F.when(dup, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_in_dups"),
        F.min(F.when(dup, F.col("pk"))).cast("bigint").alias(
            "first_dup_pk"
        ),
        F.max("n").cast("bigint").alias("worst_multiplicity"),
    )


# ------------------------------------------------ referential_integrity_audit

@register(
    "referential_integrity_audit",
    oracle="""
    WITH parents AS (
        SELECT o_orderkey FROM orders WHERE o_orderkey % 97 <> 0
    ),
    j AS (
        SELECT l.l_orderkey, p.o_orderkey AS hit
        FROM lineitem l LEFT JOIN parents p
          ON p.o_orderkey = l.l_orderkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_child_rows,
           CAST(SUM(CASE WHEN hit IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orphans,
           CAST(COUNT(DISTINCT CASE WHEN hit IS NULL THEN l_orderkey END)
                AS BIGINT) AS n_orphan_keys,
           ROUND(SUM(CASE WHEN hit IS NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS orphan_rate,
           CAST(MIN(CASE WHEN hit IS NULL THEN l_orderkey END) AS BIGINT)
               AS first_orphan_fk
    FROM j
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFERENTIAL-INTEGRITY (ORPHAN FK) AUDIT with a PLANTED parent
    gap (every 97th order withheld from the parent set): child rows
    whose FK resolves to no parent are counted, keyed, rated, and
    exemplified — the post-load audit that catches partial parent
    loads before a star-schema join silently drops fact rows
    (`join_star_5way` would just inner-join them away;
    `check_count_reconcile` counts totals, not linkage).

    Determinism: the plant is key arithmetic; counts exact; one rate
    division, ROUND(6).

    Scale (100 TB): one equi-join on the FK (the parent side carries
    ONLY the key column — pruned scan); the audit row is a map-side
    collapse of the join output."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    parents = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 97 != 0)
        .select("o_orderkey")
    )
    j = li.join(
        parents, parents["o_orderkey"] == li["l_orderkey"], "left"
    )
    orphan = F.col("o_orderkey").isNull()
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_child_rows"),
        F.sum(F.when(orphan, 1).otherwise(0)).cast("bigint").alias(
            "n_orphans"
        ),
        F.countDistinct(F.when(orphan, F.col("l_orderkey")))
        .cast("bigint")
        .alias("n_orphan_keys"),
        F.round(
            F.sum(F.when(orphan, 1).otherwise(0))
            * F.lit(1.0)
            / F.count(F.lit(1)),
            6,
        ).alias("orphan_rate"),
        F.min(F.when(orphan, F.col("l_orderkey")))
        .cast("bigint")
        .alias("first_orphan_fk"),
    )


# ---------------------------------------------------- schema_drift_report

@register(
    "schema_drift_report",
    oracle="""
    SELECT * FROM (VALUES
        ('c_acctbal',    'type_changed', 'double',  'string'),
        ('c_comment_v2', 'added',        NULL,      'string'),
        ('c_mktsegment', 'removed',      'string',  NULL)
    ) AS t(col_name, change, old_type, new_type)
    ORDER BY col_name
    """,
)
def schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA-DRIFT DIFF between two REAL written snapshots: customer
    v1 is staged as-is, v2 drops a column, adds one, and retypes
    another; both snapshots are read back and their ACTUAL parquet
    schemas are diffed field-by-field into an added/removed/
    type-changed report — the change-detection step that decides
    whether `union_schema_evolution` (merge) or a migration (block)
    is the right response.  The oracle pins the expected drift rows
    literally: if the writer, the reader, or the diff ever
    misreports a field, the hash breaks.

    Determinism: schemas are metadata, not data — the diff is exact.

    Scale (100 TB): reads ONLY parquet footers (schema comes from
    metadata, zero data rows move); the diff itself is
    driver-side over ≤ |columns| entries, then parallelized back
    through createDataFrame for the graded frame."""
    from migbq_spark.operators.sources import _stage_dir

    c = load(spark, sf_dir, "customer")
    v1_dest = _stage_dir(sf_dir, "schema_v1")
    v2_dest = _stage_dir(sf_dir, "schema_v2")
    c.write.mode("overwrite").parquet(v1_dest)
    (
        c.drop("c_mktsegment")
        .withColumn("c_acctbal", F.col("c_acctbal").cast("string"))
        .withColumn("c_comment_v2", F.lit("migrated"))
        .write.mode("overwrite")
        .parquet(v2_dest)
    )
    s1 = {f.name: f.dataType.simpleString() for f in read_parquet(spark, v1_dest).schema.fields}
    s2 = {f.name: f.dataType.simpleString() for f in read_parquet(spark, v2_dest).schema.fields}
    rows = []
    for name in sorted(set(s1) | set(s2)):
        if name not in s2:
            rows.append((name, "removed", s1[name], None))
        elif name not in s1:
            rows.append((name, "added", None, s2[name]))
        elif s1[name] != s2[name]:
            rows.append((name, "type_changed", s1[name], s2[name]))
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("col_name", T.StringType()),
            T.StructField("change", T.StringType()),
            T.StructField("old_type", T.StringType()),
            T.StructField("new_type", T.StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema).orderBy("col_name")


# ---------------------------------------------------- dup_row_full_hash_audit

@register(
    "dup_row_full_hash_audit",
    oracle="""
    WITH src AS (
        SELECT * FROM supplier
        UNION ALL
        SELECT * FROM supplier WHERE s_suppkey % 17 = 0
    ),
    h AS (
        SELECT s_suppkey,
               md5(CAST(s_suppkey AS VARCHAR) || '|' || s_name || '|'
                   || CAST(s_nationkey AS VARCHAR) || '|'
                   || CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS row_md5
        FROM src
    ),
    g AS (
        SELECT row_md5, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(s_suppkey) AS BIGINT) AS exemplar_key
        FROM h GROUP BY row_md5
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_rows,
           CAST(SUM(n) AS BIGINT) AS n_total_rows,
           CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_groups,
           CAST(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT)
               AS n_excess_copies,
           CAST(MIN(CASE WHEN n > 1 THEN exemplar_key END) AS BIGINT)
               AS first_dup_key
    FROM g
    """,
)
def dup_row_full_hash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHOLE-ROW DUPLICATE AUDIT via a canonical row digest (every
    column serialized into one md5, money pre-quantized to cents)
    with PLANTED full-row duplicates (every 17th supplier
    re-appended): distinct-row count vs total, duplicate groups,
    excess copies to delete, and the first exemplar — the
    retry-landed-twice audit (`pk_uniqueness_audit` catches doubled
    KEYS; this catches doubled ROWS even when a surrogate key was
    regenerated, because the digest ignores nothing but the key
    order).  Digest = the portable md5 family, so the oracle
    recomputes it bit-identically.

    Determinism: canonical '|'-joined serialization with cents
    quantization (the decimal-render rule); counts exact.

    Scale (100 TB): digests compute map-side next to the scan; the
    exchange carries 32-hex digests; group sizes are
    content-bounded."""
    s = load(spark, sf_dir, "supplier")
    src = s.unionAll(s.where(F.col("s_suppkey") % 17 == 0))
    row_md5 = F.md5(
        F.concat_ws(
            "|",
            F.col("s_suppkey").cast("string"),
            F.col("s_name"),
            F.col("s_nationkey").cast("string"),
            F.expr(
                "CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)"
            ).cast("string"),
        )
    )
    h = src.select("s_suppkey", row_md5.alias("row_md5"))
    g = h.groupBy("row_md5").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("s_suppkey").cast("bigint").alias("exemplar_key"),
    )
    dup = F.col("n") > 1
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_rows"),
        F.sum("n").cast("bigint").alias("n_total_rows"),
        F.sum(F.when(dup, 1).otherwise(0)).cast("bigint").alias(
            "n_dup_groups"
        ),
        F.sum(F.when(dup, F.col("n") - 1).otherwise(0))
        .cast("bigint")
        .alias("n_excess_copies"),
        F.min(F.when(dup, F.col("exemplar_key")))
        .cast("bigint")
        .alias("first_dup_key"),
    )
