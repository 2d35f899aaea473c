"""Table registry: name → parquet path + fixed StructType normalization.

Mirrors migbq's read-once-then-static schema behavior (reference:
MsSqlDatasource reads the MSSQL catalog once and builds a fixed
SELECT-list / type map — SURVEY.md §1.1 `[pub:H migbq/MsSqlDatasource.py]`).
Here the "catalog" is the driver's ten parquet tables (FIXTURES.md); the
only normalization applied is the ns-timestamp repair on ``events.ts``.

Scale notes (100 TB): this is a thin path-resolver on purpose — at scale
the same ``load()`` call reads a partitioned parquet/lakehouse table and
Catalyst handles partition pruning + column pruning + predicate pushdown,
because every downstream operator expresses filters/projections
declaratively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from migbq_spark.session import ensure_runtime_confs

#: All driver-provided tables (TESTDATA.md / FIXTURES.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def path_for(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table as a DataFrame with normalized schema.

    ``events.ts`` has shipped in two physical encodings across driver
    fixture generations: INT64 nanoseconds (handled via
    legacy.parquet.nanosAsLong + integer division — float division would
    quantize epoch-ns magnitudes to ~190 ns steps, FIXTURES.md harness
    notes) and plain ``timestamp[us]`` parquet, which Spark 4 surfaces as
    TIMESTAMP_NTZ.  Both normalize to session-tz TimestampType (LTZ):
    the session tz is pinned UTC (session.RUNTIME_CONFS), so the NTZ→LTZ
    cast is wall-clock identity, and epoch helpers (``unix_micros``)
    accept the column everywhere downstream.
    """
    ensure_runtime_confs(spark)
    df = spark.read.parquet(path_for(sf_dir, name))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
