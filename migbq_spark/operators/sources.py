"""Source / sink operators — SURVEY.md §2.A: migbq's actual ETL surface.

Reference parity: migbq's pipeline is  PK-range `SELECT *` sweep from
MSSQL (`[pub:H migbq/MsSqlDatasource.py]`) → gzip CSV/NDJSON staging file
→ BigQuery load job (`[pub:H migbq/BigQueryForwarder.py]`).  Each stage
is one operator here:

- `scan_full` / `scan_project_prune` / `pk_range_scan` — the extract side.
  `pk_range_scan` is THE core migbq operator (`WHERE pk > lo AND pk <= hi`);
  in Spark the whole serial sweep collapses into one partitioned read.
- `jsonl_gz_export` / `csv_export` — the staging formats, as
  write-then-typed-read-back round trips.
- `parquet_sink` — the load-job equivalent (bulk append + read-back).
- `jdbc_source` — a REAL `spark.read.jdbc` with partitionColumn stride
  against embedded Derby (the only RDBMS in the container): Spark issues
  one `WHERE pk >= lo AND pk < hi` query per partition — exactly migbq's
  range loop, parallelized (SURVEY §7.6).
- `bq_sink_adapter` — the production BigQuery writer config (connector
  jar not present offline; plan construction only).

Staged files live under `common.stage_root()`.

Scale notes (100 TB): extraction parallelism = `numPartitions` sized so
each partition ≈ migbq's batch_size×k rows; staging writes are
per-partition (no driver funnel).  JSON/CSV/ORC read-backs pass explicit
schemas, so their round trip never pays inference; parquet read-backs go
through `catalog.read_parquet`.  A fresh write is a new file set, so a
parquet read-back still infers its schema once, from one footer.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from migbq_spark.catalog import load, path_for, read_parquet
from migbq_spark.common import dec, md5_int, stage_root
from migbq_spark.session import ensure_runtime_confs
from migbq_spark.registry import register

_STAGE_ROOT = stage_root()


def _stage_dir(sf_dir: str, name: str) -> str:
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return str(_STAGE_ROOT / tag / name)


@register("scan_full", oracle="SELECT * FROM customer")
def scan_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table scan — migbq's per-range `SELECT *` degenerate case."""
    return load(spark, sf_dir, "customer")


@register(
    "scan_project_prune",
    oracle="SELECT c_custkey, c_name, c_acctbal FROM customer",
)
def scan_project_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit column-list projection: Catalyst prunes the parquet scan
    to exactly these columns (ReadSchema in .explain)."""
    return load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")


@register(
    "pk_range_scan",
    oracle="""
    SELECT * FROM lineitem WHERE l_orderkey > 1000 AND l_orderkey <= 2000
    """,
)
def pk_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """migbq's core batch extraction: one PK range of rows.  The
    predicate is pushed into the parquet scan (PushedFilters); on the
    JDBC path the same shape becomes the per-partition stride query."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_orderkey") > 1000) & (F.col("l_orderkey") <= 2000))


@register(
    "jsonl_gz_export",
    oracle="SELECT c_custkey, c_name FROM customer",
)
def jsonl_gz_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage rows as gzip NDJSON (migbq's BQ staging format), then read
    the stage back with an explicit schema — the query result is the
    read-back, so the hash check proves the round trip is lossless.
    Scalars only: JSON text round-trips of doubles are not bit-stable."""
    src = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    dest = _stage_dir(sf_dir, "customer_jsonl_gz")
    src.write.mode("overwrite").option("compression", "gzip").json(dest)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
        ]
    )
    return spark.read.schema(schema).json(dest).select("c_custkey", "c_name")


@register(
    "csv_export",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def csv_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The alternative CSV staging format, as a typed read-back round trip."""
    src = load(spark, sf_dir, "nation")
    dest = _stage_dir(sf_dir, "nation_csv")
    src.write.mode("overwrite").option("header", "true").csv(dest)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return (
        spark.read.schema(schema).option("header", "true").csv(dest)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@register("parquet_sink", oracle="SELECT * FROM region")
def parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigQuery load-job equivalent: bulk append into a destination
    parquet table, then read the destination back.  (Overwrite of a
    per-sf staging dir keeps the query idempotent across runs.)"""
    src = load(spark, sf_dir, "region")
    dest = _stage_dir(sf_dir, "region_sink")
    src.write.mode("overwrite").parquet(dest)
    return read_parquet(spark, dest)


@register(
    "parquet_sink_day_partitioned",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           substr(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), 1, 7) AS o_month
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE '1997-03-01'
      AND CAST(o_orderdate AS DATE) <  DATE '1997-04-01'
    """,
)
def parquet_sink_day_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """migbq's day-partitioned BigQuery destination, as a Hive-layout
    partitioned parquet sink: write orders partitioned by month, then
    read back ONE partition — the filter on the partition column must
    prune at the directory level, never scanning the other months
    (asserted in tests/test_plans.py).

    Scale (100 TB): partitioned layout is what makes the `check` and
    `sync` lifecycles cheap — per-day reconciliation reads one partition,
    and incremental loads append new partitions without touching old
    ones.  Month granularity here only because the fixture spans ~80
    months; production would partition by day exactly like BQ
    `_PARTITIONTIME`."""
    src = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM").alias("o_month"),
    )
    dest = _stage_dir(sf_dir, "orders_sink_monthly")
    src.write.mode("overwrite").partitionBy("o_month").parquet(dest)
    return (
        read_parquet(spark, dest)
        .filter(F.col("o_month") == "1997-03")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_month")
    )


_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@register(
    "jdbc_source",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def jdbc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MSSQL/MySQL connector path, exercised for real against embedded
    Derby: load nation → JDBC table, then `spark.read.jdbc` with
    partitionColumn/lowerBound/upperBound/numPartitions — Spark emits one
    stride query per partition, which IS migbq's PK-range sweep run in
    parallel.  Production swaps the URL/driver for MSSQL (TDS) or MySQL;
    nothing else changes.  The Derby roundtrip is content-deterministic
    (it IS the nation table), so the op carries a full hash oracle — the
    JDBC stride-read must return exactly the source rows (type mapping
    included: Derby INTEGER ≡ parquet int32)."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    url = f"jdbc:derby:memory:migbq_{tag};create=true"
    src = load(spark, sf_dir, "nation")
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_jdbc")
        .option("driver", _DERBY_DRIVER)
        .mode("overwrite")
        .save()
    )
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_jdbc")
        .option("driver", _DERBY_DRIVER)
        .option("partitionColumn", "n_nationkey")
        .option("lowerBound", "0")
        .option("upperBound", "25")
        .option("numPartitions", "4")
        .load()
    )


@register(
    "bq_sink_adapter",
    oracle="""
    SELECT 'bigquery' AS format,
           'project.dataset.region' AS "table",
           'indirect' AS write_method,
           'parquet' AS intermediate_format,
           'append' AS mode,
           CAST((SELECT COUNT(*) FROM region) AS BIGINT) AS n_rows
    """,
)
def bq_sink_adapter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production BigQuery sink (spark-bigquery-connector) — the writer
    plan is built exactly as production would
    (`df.write.format("bigquery")` + options); offline we return the
    resolved load-job config instead of calling save().

    Production call (requires the connector jar + GCP credentials):
        df.write.format("bigquery")
          .option("table", f"{project}.{dataset}.{table}")
          .option("writeMethod", "indirect")
          .option("temporaryGcsBucket", bucket)
          .option("intermediateFormat", "parquet")
          .mode("append").save()

    The offline RESULT (the resolved load-job config +
    the source row count) is fully deterministic, so it is pinned by
    a literal hash oracle — the strongest offline check available;
    the save() path itself still needs the connector jar (rows-only
    residue documents the boundary).
    """
    src = load(spark, sf_dir, "region")
    writer = (
        src.write.format("bigquery")
        .option("table", "project.dataset.region")
        .option("writeMethod", "indirect")
        .option("intermediateFormat", "parquet")
        .mode("append")
    )
    assert writer is not None  # plan builds; .save() needs the connector jar
    return spark.createDataFrame(
        [
            (
                "bigquery",
                "project.dataset.region",
                "indirect",
                "parquet",
                "append",
                src.count(),
            )
        ],
        "format string, table string, write_method string, "
        "intermediate_format string, mode string, n_rows bigint",
    )


# ------------------------------------------------------------- z-order

def _z_interleave_expr(x: str, y: str, bits: int = 10) -> str:
    """Bit-interleaved Morton/Z-value of two non-negative ints — the SAME
    SQL text runs in Spark and DuckDB (both support & | << >> on
    bigints), so the oracle exercises the identical bit math."""
    parts = []
    for i in range(bits):
        parts.append(f"(((({x}) >> {i}) & 1) << {2 * i + 1})")
        parts.append(f"(((({y}) >> {i}) & 1) << {2 * i})")
    return " | ".join(parts)


_ZEXPR = _z_interleave_expr("o_custkey % 1024", "o_orderkey % 1024")


@register(
    "zorder_cluster_stats",
    oracle=f"""
    WITH z AS (
        SELECT o_orderkey, o_custkey, ({_ZEXPR}) AS zval
        FROM orders
    )
    SELECT zval >> 12 AS zbucket, COUNT(*) AS n_rows,
           MIN(o_custkey % 1024) AS cust_lo, MAX(o_custkey % 1024) AS cust_hi,
           MIN(o_orderkey % 1024) AS ord_lo, MAX(o_orderkey % 1024) AS ord_hi
    FROM z GROUP BY zval >> 12
    """,
)
def zorder_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering for multi-dimensional data skipping:
    interleave the bits of two filter dimensions, bucket by Z-value
    prefix, and report each bucket's per-dimension min/max — the
    footer-statistics ranges a reader would prune against.  Because
    Z-prefix buckets are axis-aligned squares, BOTH dimensions stay
    tight per bucket (a single-column sort leaves the second dimension's
    range at full width), which is what makes `WHERE custkey BETWEEN …
    AND orderkey BETWEEN …` skip files under Z-layout.

    The production write is `df.repartitionByRange(N, zval)
    .sortWithinPartitions(zval).write.parquet(...)` — this query is the
    stats/verification half, hash-checked since the bit math is exact
    integer arithmetic (the identical generated SQL runs on both
    engines).

    Scale (100 TB): Z-layout is a one-shuffle range partition at write
    time that converts full scans into prefix-range reads for ALL
    clustered dimensions; the per-bucket stats aggregation here is a
    plain map-side-combinable groupBy."""
    o = load(spark, sf_dir, "orders")
    z = o.select(
        "o_orderkey",
        "o_custkey",
        F.expr(_ZEXPR).alias("zval"),
    )
    return z.groupBy(F.expr("zval >> 12").alias("zbucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(F.expr("o_custkey % 1024")).alias("cust_lo"),
        F.max(F.expr("o_custkey % 1024")).alias("cust_hi"),
        F.min(F.expr("o_orderkey % 1024")).alias("ord_lo"),
        F.max(F.expr("o_orderkey % 1024")).alias("ord_hi"),
    )


@register(
    "union_schema_evolution",
    oracle="""
    WITH gen1 AS (
        SELECT 1 AS gen, o_orderkey,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price,
               CAST(NULL AS VARCHAR) AS o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    gen2 AS (
        SELECT 2 AS gen, o_orderkey,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price,
               o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1
    ),
    u AS (SELECT * FROM gen1 UNION ALL SELECT * FROM gen2)
    SELECT gen, COUNT(*) AS n_rows,
           COUNT(o_orderpriority) AS n_with_priority,
           CAST(SUM(price) AS DECIMAL(38,2)) AS sum_price
    FROM u GROUP BY gen
    """,
)
def union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations: an old extract without
    `o_orderpriority` unioned with a new extract that has it, via
    `unionByName(allowMissingColumns=True)` — Spark aligns by NAME and
    null-fills the missing column (positional UNION would silently
    misalign).  This is how a long-lived ingest keeps reading years of
    heterogeneous files; the audit rollup proves the null-fill.

    Scale (100 TB): union is a zero-shuffle plan concatenation; the
    audit is a map-side-combinable groupBy.  The same mechanism backs
    parquet `mergeSchema` reads over evolving directories."""
    o = load(spark, sf_dir, "orders")
    gen1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.lit(1).alias("gen"), "o_orderkey", dec("o_totalprice").alias("price")
    )
    gen2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        F.lit(2).alias("gen"),
        "o_orderkey",
        dec("o_totalprice").alias("price"),
        "o_orderpriority",
    )
    u = gen1.unionByName(gen2, allowMissingColumns=True)
    return u.groupBy("gen").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderpriority").alias("n_with_priority"),
        F.sum("price").cast("decimal(38,2)").cast("double").alias("sum_price"),
    )


@register(
    "shard_export_training",
    oracle="""
    WITH sharded AS (
        SELECT doc_id, source, lang, text,
               CAST(concat('0x', substr(md5('shard:' || doc_id), 1, 15))
                    AS BIGINT) % 8 AS shard
        FROM documents
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM sharded
    GROUP BY shard
    """,
)
def shard_export_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING-SHARD export: documents written as 8 gzip-NDJSON
    shards keyed by a portable hash of the PK (md5-derived, the same
    'decorrelated coin' recipe as `sample_hash_bernoulli`) —
    hash-sharding balances shard sizes regardless of id assignment
    order, and a deterministic shard function makes the export
    RESUMABLE per shard (migbq's ranged re-forward, per shard instead of
    per PK range).  The graded result is the per-shard manifest (doc
    count, source count, bytes, PK bounds) computed from the READ-BACK
    of the written shards, so the hash check proves the round trip, the
    shard assignment, and the manifest agree with the oracle end-to-end.

    Scale (100 TB): `partitionBy(shard)` is one shuffle-free write fan-
    out (each task writes its rows to per-shard files); shard count
    scales with target file size (~1 GB compressed), and the manifest
    aggregation is map-side combinable."""
    src = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    shard = F.pmod(
        md5_int(F.concat_ws(":", F.lit("shard"), F.col("doc_id"))), F.lit(8)
    )
    dest = _stage_dir(sf_dir, "documents_training_shards")
    (
        src.withColumn("shard", shard)
        .write.mode("overwrite")
        .partitionBy("shard")
        .option("compression", "gzip")
        .json(dest)
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).option("basePath", dest).json(dest)
    return (
        back.withColumn("shard", F.col("shard").cast("bigint"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum(F.length("text")).alias("n_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@register(
    "pk_range_python_datasource",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey > 10
    """,
)
def pk_range_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """migbq's PK-range chunked read as a REAL Spark 4 Python DataSource
    (`migbq_spark/pkrange_source.py`): `partitions()` plans one stride
    per batch_size from parquet row-group STATISTICS (the bounds probe,
    metadata-only), Spark schedules strides in parallel, `read()` serves
    Arrow batches, and `pushFilters()` consumes pk comparison predicates
    so the `WHERE o_orderkey > 10` here prunes strides BEFORE task
    launch (`spark.sql.python.filterPushdown.enabled`, runtime-set).
    The hash check proves the from-scratch source + pushdown agree with
    the oracle's plain scan.

    Scale (100 TB): swap the in-stride pyarrow read for the per-range
    RDBMS query and this is migbq's MSSQL sweep running N-wide with
    predicate pushdown — the custom-source escape hatch for systems
    without a built-in connector."""
    from migbq_spark.pkrange_source import register_sources

    ensure_runtime_confs(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_sources(spark)
    df = (
        spark.read.format("migbq_pkrange")
        .option("path", path_for(sf_dir, "orders"))
        .option("pk", "o_orderkey")
        .option("batch_size", "4096")
        .option(
            "columns", "o_orderkey,o_custkey,o_totalprice,o_orderpriority"
        )
        .load()
    )
    return df.filter(F.col("o_orderkey") > 10)


@register(
    "load_job_sink_commit",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def load_job_sink_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """migbq's BigQuery LOAD-JOB sink rebuilt on Spark's Python
    DataSourceWriter commit protocol (`pkrange_source.LoadJobWriter`):
    tasks stage gzip-NDJSON parts under the job's `_staging/<job_id>`,
    `commit()` runs only after every task succeeded — publishing the
    parts through `migbq_spark/commit.py` (manifest first, then the
    moves) and writing the `_MANIFEST.json` load-job receipt — and
    `abort()` leaves nothing visible when a task fails.  The graded result
    reads the committed NDJSON back with an explicit schema, so the hash
    check proves the two-phase commit published exactly the input rows.

    Scale (100 TB): this IS how atomic bulk publication works without a
    transactional store — stage, then an O(files) driver-side commit;
    the same protocol the parquet sink's _spark_metadata log and BQ load
    jobs implement."""
    import json
    import shutil
    from pathlib import Path as _P

    from migbq_spark.pkrange_source import register_sources

    ensure_runtime_confs(spark)
    register_sources(spark)
    dest = _stage_dir(sf_dir, "nation_loadjob")
    shutil.rmtree(dest, ignore_errors=True)
    src = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    src.write.format("migbq_loadjob").option("path", dest).mode(
        "append"
    ).save()
    # the manifest is the load-job receipt; sanity-assert it matches
    manifest = json.loads((_P(dest) / "_MANIFEST.json").read_text())
    assert manifest["n_rows"] == src.count(), manifest
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("pathGlobFilter", "part-*.jsonl.gz")
        .json(dest)
    )


@register(
    "shard_ring_rebalance_audit",
    oracle="""
    WITH h AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM documents
    ),
    nodes AS (SELECT unnest(range(0, 9)) AS node),
    vnodes AS (SELECT unnest(range(0, 64)) AS v),
    ring AS (
        SELECT node, CAST('0x' || substr(md5(node || '#' || v), 1, 15)
                          AS BIGINT) AS bh
        FROM nodes, vnodes
    ),
    owner8 AS (
        SELECT h.doc_id,
               COALESCE(
                   arg_min(r.node, r.bh) FILTER (WHERE r.bh >= h.hv),
                   arg_min(r.node, r.bh)) AS node
        FROM h JOIN ring r ON r.node < 8
        GROUP BY h.doc_id
    ),
    owner9 AS (
        SELECT h.doc_id,
               COALESCE(
                   arg_min(r.node, r.bh) FILTER (WHERE r.bh >= h.hv),
                   arg_min(r.node, r.bh)) AS node
        FROM h JOIN ring r ON 1 = 1
        GROUP BY h.doc_id
    ),
    modmoves AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN hv % 8 <> hv % 9 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_moved
        FROM h
    ),
    ringmoves AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN o8.node <> o9.node THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_moved
        FROM owner8 o8 JOIN owner9 o9 USING (doc_id)
    )
    SELECT 'mod' AS scheme, n_docs, n_moved,
           ROUND(n_moved * 1.0 / n_docs, 4) AS frac_moved
    FROM modmoves
    UNION ALL
    SELECT 'ring', n_docs, n_moved, ROUND(n_moved * 1.0 / n_docs, 4)
    FROM ringmoves
    """,
)
def shard_ring_rebalance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSISTENT-HASH RING vs MOD-N rebalancing audit: how many docs
    change shard when a 9th node joins an 8-node layout, under (a)
    naive ``hash % N`` assignment and (b) a consistent-hash ring with
    64 virtual nodes per node (each doc owned by the successor
    boundary of its hash, wrapping around) — the data-layout decision
    behind every 100 TB ingest/bucketing scheme: mod-N invalidates
    ~N/(N+1) ≈ 89 % of placements (and thus caches, co-located
    buckets, and local state) on every rescale, while the ring moves
    only ~1/(N+1) ≈ 11 %, exactly the docs adjacent to the new node's
    boundaries.  Both schemes and both counts are hash-verified
    (portable md5 family for doc hashes AND ring boundaries), so the
    oracle checks the consistent-hashing property itself, not just
    row counts.

    Scale (100 TB): the ring's 576 boundaries cut the 60-bit hash
    space into DISJOINT successor intervals, so ownership is a
    coarse-bucket equi-join (the `join_interval_events` idiom): each
    interval is exploded onto the ~2^50-wide grid cells it overlaps
    (~1.6 k broadcast rows), each doc probes its own grid cell and
    matches EXACTLY one interval — ~1.5 candidate rows per doc instead
    of the naive 576-row expansion the first cut of this op used
    (measured 21.7 s sf1 / 217.9 s sf10; the interval join removes the
    576x constant).  Both rings resolve in the SAME doc pass via two
    chained broadcast joins, the mod-N comparison is row-local, and
    everything collapses in ONE scalar partial aggregate — the doc
    stream is never exchanged at all."""
    d = load(spark, sf_dir, "documents")
    h = d.select(md5_int(F.col("doc_id").cast("string")).alias("hv"))
    ring = (
        spark.range(9)
        .select(F.col("id").cast("int").alias("node"))
        .crossJoin(spark.range(64).select(F.col("id").cast("int").alias("v")))
        .select(
            "node",
            md5_int(F.concat_ws("#", F.col("node"), F.col("v"))).alias("bh"),
        )
    )
    grid = 1 << 50  # 1024 cells over the 60-bit md5-prefix space
    hmax = (1 << 60) - 1

    def interval_map(r: DataFrame, tag: str) -> DataFrame:
        """(bkt{tag}, lo{tag}, hi{tag}, node{tag}): successor intervals
        (lo, hi] of the ring's sorted boundaries, wrap interval
        included, exploded onto the coarse grid cells they overlap.
        |ring| rows in, ~|ring| + |grid| broadcastable rows out."""
        w = Window.orderBy("bh")  # <=577-row frame: single task is fine
        iv = r.select(
            "node",
            F.col("bh").alias("hi"),
            F.lag("bh", 1, -1).over(w).alias("lo"),
        )
        wrap = r.agg(
            F.min_by("node", "bh").alias("node"),
            F.max("bh").alias("lo"),
        ).select("node", F.lit(hmax).cast("bigint").alias("hi"), "lo")
        return (
            iv.unionByName(wrap)
            .select(
                F.col("node").alias(f"node{tag}"),
                F.col("lo").alias(f"lo{tag}"),
                F.col("hi").alias(f"hi{tag}"),
                F.explode(
                    F.sequence(
                        F.expr(f"(lo + 1) div {grid}"),
                        F.expr(f"hi div {grid}"),
                    )
                ).alias(f"bkt{tag}"),
            )
        )

    m8 = interval_map(ring.filter(F.col("node") < 8), "8")
    m9 = interval_map(ring, "9")
    owned = (
        h.withColumn("dbkt", F.expr(f"hv div {grid}"))
        .join(
            F.broadcast(m8),
            (F.col("dbkt") == F.col("bkt8"))
            & (F.col("hv") > F.col("lo8"))
            & (F.col("hv") <= F.col("hi8")),
        )
        .join(
            F.broadcast(m9),
            (F.col("dbkt") == F.col("bkt9"))
            & (F.col("hv") > F.col("lo9"))
            & (F.col("hv") <= F.col("hi9")),
        )
        .select("hv", "node8", "node9")
    )
    stats = owned.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("hv") % 8 != F.col("hv") % 9, 1).otherwise(0)
        ).alias("mod_moved"),
        F.sum(
            F.when(F.col("node8") != F.col("node9"), 1).otherwise(0)
        ).alias("ring_moved"),
    )
    return stats.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("mod").alias("scheme"),
                    F.col("n_docs"),
                    F.col("mod_moved").alias("n_moved"),
                ),
                F.struct(
                    F.lit("ring").alias("scheme"),
                    F.col("n_docs"),
                    F.col("ring_moved").alias("n_moved"),
                ),
            )
        ).alias("s")
    ).select(
        "s.scheme",
        "s.n_docs",
        "s.n_moved",
        F.round(F.col("s.n_moved") * F.lit(1.0) / F.col("s.n_docs"), 4).alias(
            "frac_moved"
        ),
    )


# ---------------------------------------------------- orc_sink_roundtrip

@register(
    "orc_sink_roundtrip",
    oracle="""
    SELECT n_regionkey,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
           md5(string_agg(n_name, '|' ORDER BY n_name)) AS names_md5
    FROM nation GROUP BY n_regionkey
    """,
)
def orc_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC FORMAT ROUNDTRIP — the second columnar format Spark ships
    natively (vectorized reader, predicate pushdown, zlib/zstd): write
    the nation dim to an ORC staging table, read it BACK through the
    ORC reader with an explicit schema, and aggregate a per-region
    checksum over the read-back — value-identical output proves the
    write→read cycle loses nothing (types, nulls, ordering don't leak
    into the checksum because the string_agg orders explicitly).
    Broadens §2.A beyond parquet/CSV/JSONL: a migration pipeline that
    lands in ORC-based warehouses (Hive ACID, legacy Presto) runs this
    exact path.

    Determinism: counts/sums exact; the md5 is over an ORDER BY-pinned
    string_agg — same bytes in both engines.

    Scale (100 TB): per-partition ORC writes (no driver funnel),
    explicit read-back schema (never pays inference), and the checksum
    rollup is map-side combinable."""
    src = load(spark, sf_dir, "nation")
    dest = _stage_dir(sf_dir, "nation_orc_sink")
    src.write.mode("overwrite").orc(dest)
    back = spark.read.schema(src.schema).orc(dest)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        F.md5(
            F.array_join(F.array_sort(F.collect_list("n_name")), "|")
        ).alias("names_md5"),
    )


# ------------------------------------------------ partition_overwrite_dynamic

@register(
    "partition_overwrite_dynamic",
    oracle="""
    WITH src AS (
        SELECT o_orderkey, o_custkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS price_c,
               strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS o_month
        FROM orders
    ),
    effective AS (
        SELECT o_month,
               CASE WHEN o_month = '1997-03'
                    THEN price_c // 2 ELSE price_c END AS price_c
        FROM src
    )
    SELECT o_month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(price_c) AS BIGINT) AS sum_price_c
    FROM effective
    WHERE o_month IN ('1997-02', '1997-03', '1997-04')
    GROUP BY o_month ORDER BY o_month
    """,
)
def partition_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION OVERWRITE — the idempotent-backfill primitive
    (re-run one day's load without touching its neighbors, the exact
    semantics migbq's per-day BigQuery load jobs rely on): write the
    month-partitioned orders table, then overwrite ONLY the 1997-03
    partition with a corrected slice (prices halved) under
    `partitionOverwriteMode=dynamic`; neighbors must surface
    untouched, which is what the graded 3-month audit proves.

    STATIC overwrite mode (the default) would DELETE every partition
    and leave only 1997-03 — the classic backfill data-loss bug this
    op pins the fix for.

    Determinism: prices quantize to cents before any write; the
    audit is exact integer counts/sums.

    Scale (100 TB): the second write's shuffle/scan is bounded by
    ONE partition's data; the commit swaps directories atomically
    per-partition — no read-modify-write of the full table (the
    `compact_merge_on_read` contrast: this is partition-granular
    replacement, that is row-granular merge)."""
    src = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("price_c"),
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM").alias(
            "o_month"
        ),
    )
    dest = _stage_dir(sf_dir, "orders_dyn_overwrite")
    src.write.mode("overwrite").partitionBy("o_month").parquet(dest)
    fix = src.filter(F.col("o_month") == "1997-03").withColumn(
        "price_c", F.expr("CAST(price_c DIV 2 AS BIGINT)")
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        fix.write.mode("overwrite").partitionBy("o_month").parquet(dest)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return (
        read_parquet(spark, dest)
        .filter(F.col("o_month").isin("1997-02", "1997-03", "1997-04"))
        .groupBy("o_month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("price_c").cast("bigint").alias("sum_price_c"),
        )
        .orderBy("o_month")
    )


# -------------------------------------------- csv_quoted_multiline_roundtrip

@register(
    "csv_quoted_multiline_roundtrip",
    oracle="""
    SELECT doc_id,
           'pre,"q' || chr(10) || source || '",post' AS tricky,
           lang
    FROM documents WHERE doc_id % 11 = 0
    ORDER BY doc_id
    """,
)
def csv_quoted_multiline_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CSV EDGE-CASE ROUNDTRIP: fields containing the delimiter,
    embedded double quotes, AND a literal newline must survive a
    write + read cycle — the RFC 4180 corner the plain `csv_export`
    roundtrip never exercises, and the one that silently corrupts
    real exports (an unquoted newline splits a record; a mis-escaped
    quote shifts every following column).

    Writer and reader both pin `escape='\"'` (RFC 4180 doubled-quote
    style; Spark's default escape is backslash, which round-trips
    through Spark but breaks interchange with RFC-compliant readers)
    and the reader sets `multiLine=true` — without it the embedded
    newline is a record boundary and the read returns garbage rows,
    which the hash oracle (the expected content derived straight from
    the source table) would catch.

    Determinism: the tricky payload is constructed deterministically
    from source columns; the graded frame is the full read-back.

    Scale (100 TB): multiLine=true is the documented scale TRADE: a
    multiline CSV file is NOT splittable (one file = one task), so
    big exports shard into many files at write time (this writer
    does, one per input partition) and parallelism comes from file
    count, not in-file splits."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 == 0)
    src = d.select(
        "doc_id",
        F.concat(
            F.lit('pre,"q'), F.lit("\n"), F.col("source"), F.lit('",post')
        ).alias("tricky"),
        "lang",
    )
    dest = _stage_dir(sf_dir, "docs_tricky_csv")
    (
        src.write.mode("overwrite")
        .option("header", "true")
        .option("escape", '"')
        .csv(dest)
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("tricky", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("escape", '"')
        .option("multiLine", "true")
        .csv(dest)
        .select("doc_id", "tricky", "lang")
        .orderBy("doc_id")
    )


# ------------------------------------------- csv_malformed_permissive_audit

@register(
    "csv_malformed_permissive_audit",
    oracle="""
    WITH src AS (
        SELECT n_nationkey,
               CASE WHEN n_nationkey % 5 = 0
                    THEN n_name || ';BROKEN'
                    ELSE CAST(n_nationkey AS VARCHAR) || ',' || n_name
               END AS line
        FROM nation
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN n_nationkey % 5 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_good,
           CAST(SUM(CASE WHEN n_nationkey % 5 <> 0 THEN n_nationkey
                         ELSE 0 END) AS BIGINT) AS good_key_sum
    FROM src
    """,
)
def csv_malformed_permissive_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PERMISSIVE-MODE MALFORMED-ROW AUDIT: a CSV with PLANTED broken
    lines (every 5th nation row loses its delimiter) is read with
    `mode=PERMISSIVE` + `columnNameOfCorruptRecord` — the ingest
    pattern that keeps a 100 TB load running when 0.01% of rows are
    garbage, routing them to a corrupt-record column instead of
    failing the job (`load_dead_letter_quarantine` then owns the
    routing; this op audits the READER's classification itself).
    The planted text is written as RAW LINES (`text` writer), so the
    CSV parser — not the writer — decides what is malformed.

    Determinism: corruption is planted by key arithmetic; the oracle
    recomputes the expected classification and the good-row key sum
    straight from the nation table.

    Scale (100 TB): the audit is one scan of the read-back; PERMISSIVE
    classification is row-local in the reader."""
    n = load(spark, sf_dir, "nation")
    lines = n.select(
        F.when(
            F.col("n_nationkey") % 5 == 0,
            F.concat(F.col("n_name"), F.lit(";BROKEN")),
        )
        .otherwise(
            F.concat(
                F.col("n_nationkey").cast("string"),
                F.lit(","),
                F.col("n_name"),
            )
        )
        .alias("value")
    )
    dest = _stage_dir(sf_dir, "nation_malformed_csv")
    lines.coalesce(1).write.mode("overwrite").text(dest)
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(dest)
    )
    # a 1-column line parses as (k=NULL-or-int, name=NULL): corrupt =
    # the parser filled _corrupt OR the name column came back missing
    corrupt = F.col("_corrupt").isNotNull() | F.col("name").isNull()
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(corrupt, 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(F.when(~corrupt, 1).otherwise(0))
        .cast("bigint")
        .alias("n_good"),
        F.sum(F.when(~corrupt, F.col("k")).otherwise(0))
        .cast("bigint")
        .alias("good_key_sum"),
    )


# ---------------------------------------------------- jsonl_nested_roundtrip

@register(
    "jsonl_nested_roundtrip",
    oracle="""
    WITH items AS (
        SELECT l_orderkey,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
               CAST(MIN(l_partkey) AS BIGINT) AS first_part
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderkey, o.o_orderstatus,
           i.n_items, i.qty_sum, i.first_part
    FROM orders o JOIN items i ON i.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey % 13 = 0
    ORDER BY o.o_orderkey
    """,
)
def jsonl_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED-DOCUMENT JSONL ROUNDTRIP: orders nest their lineitems as
    an array<struct> (the document shape event buses and APIs
    actually emit), written as JSON lines and read back with an
    explicit nested schema — then RE-FLATTENED with aggregate/
    element_at so the graded frame proves the nested payload
    survived: per-order item count, quantity sum (integer-exact
    `aggregate` over the struct array), and the min part key.
    Complements `jsonl_gz_export` (flat) with the nested-ingest leg;
    schema-on-read of nested JSON is where silent null-on-mismatch
    bugs live, and the hash oracle (recomputed relationally from the
    source tables) catches any.

    Determinism: the nested array is sort_array'd at build time
    (struct order = partkey order), so min/element_at choices are
    exact; quantities quantize to BIGINT before summing.

    Scale (100 TB): the nest is one orderkey-grouped collect_list
    (bounded by lines-per-order ≈ 7); JSONL is line-splittable, so
    read parallelism survives, unlike multiline JSON."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 0)
    li = load(spark, sf_dir, "lineitem")
    nested = (
        li.join(
            F.broadcast(o.select("o_orderkey")),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("l_partkey").alias("pk"),
                        F.col("l_quantity").cast("bigint").alias("qty"),
                    )
                )
            ).alias("items")
        )
        .join(o, o["o_orderkey"] == F.col("l_orderkey"))
        .select("o_orderkey", "o_orderstatus", "items")
    )
    dest = _stage_dir(sf_dir, "orders_nested_jsonl")
    nested.write.mode("overwrite").json(dest)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField(
                "items",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("pk", T.LongType()),
                            T.StructField("qty", T.LongType()),
                        ]
                    )
                ),
            ),
        ]
    )
    back = spark.read.schema(schema).json(dest)
    return back.select(
        "o_orderkey",
        "o_orderstatus",
        F.size("items").cast("bigint").alias("n_items"),
        F.expr(
            "aggregate(items, CAST(0 AS BIGINT), (acc, x) -> acc + x.qty)"
        ).alias("qty_sum"),
        F.element_at("items", 1)["pk"].alias("first_part"),
    ).orderBy("o_orderkey")


# ------------------------------------------- parquet_codec_roundtrip_audit

@register(
    "parquet_codec_roundtrip_audit",
    oracle="""
    WITH src AS (
        SELECT l_orderkey, l_linenumber,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS price_cents
        FROM lineitem WHERE l_orderkey % 7 = 0
    )
    SELECT codec,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(price_cents) AS BIGINT) AS price_cents_sum,
           CAST(SUM(l_orderkey * 31 + l_linenumber) AS BIGINT)
               AS key_checksum
    FROM src
    CROSS JOIN (SELECT unnest(['snappy', 'zstd']) AS codec)
    GROUP BY codec ORDER BY codec
    """,
)
def parquet_codec_roundtrip_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COMPRESSION-CODEC ROUNDTRIP AUDIT: the same projection written
    as snappy AND zstd parquet, read back, and content-checksummed
    per codec — the codec-migration gate (zstd typically halves
    storage vs snappy at similar scan speed; before a 100 TB estate
    flips its default, prove byte-for-byte content equality through
    both write paths).  The graded frame is codec-keyed, so one row
    per codec must hash identically to the source-derived oracle.

    Determinism: checksums are integer sums over exact cents/key
    arithmetic; codec choice cannot change content, which is exactly
    the property under test.

    Scale (100 TB): both writes shard per input partition; the audit
    reads are plain parallel parquet scans with pushed-down column
    pruning."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 7 == 0
    )
    src = li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("price_cents"),
    )
    outs = []
    for codec in ["snappy", "zstd"]:
        dest = _stage_dir(sf_dir, f"codec_audit_{codec}")
        src.write.mode("overwrite").option("compression", codec).parquet(
            dest
        )
        outs.append(
            read_parquet(spark, dest).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("price_cents").cast("bigint").alias(
                    "price_cents_sum"
                ),
                F.sum(
                    F.col("l_orderkey") * 31 + F.col("l_linenumber")
                )
                .cast("bigint")
                .alias("key_checksum"),
            ).select(F.lit(codec).alias("codec"), "*")
        )
    return outs[0].unionAll(outs[1]).orderBy("codec")
