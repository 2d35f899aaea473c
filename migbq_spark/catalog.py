"""Table registry: name → parquet path + fixed StructType normalization,
and the one parquet reader, `read_parquet`.

Mirrors migbq's read-once-then-static schema behavior (reference:
MsSqlDatasource reads the MSSQL catalog once and builds a fixed
SELECT-list / type map — SURVEY.md §1.1 `[pub:H migbq/MsSqlDatasource.py]`).
Here the "catalog" is the driver's ten parquet tables (FIXTURES.md); the
only normalization applied is the ns-timestamp repair on ``events.ts``.

Schemas are inferred once per file set.  `read_parquet` keeps the
StructType Spark inferred for a local path, keyed by

- every file under the path, as (path, size, mtime in ns, inode), so a
  file added, removed or rewritten makes a new key; and
- the session confs that change Spark's parquet → StructType mapping
  (`_SCHEMA_CONFS`: binary as string, INT96/ns timestamps, NTZ
  inference, schema merging, partition-type inference, ...).

A repeat read of an unchanged file set hands Spark that schema, and so
skips the one-task inference job a plain ``spark.read.parquet`` runs
per call.  The cache holds the newest 256 file sets.  A path with a
non-``file`` URI scheme or a glob character goes straight to Spark.

Scale notes (100 TB): this is a thin path-resolver on purpose — at scale
the same ``load()`` call reads a partitioned parquet/lakehouse table and
Catalyst handles partition pruning + column pruning + predicate pushdown,
because every downstream operator expresses filters/projections
declaratively.  The cache key costs one driver ``stat`` per file, so at
that size the schema belongs to a metastore table instead (SCALE.md).
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from urllib.parse import urlparse

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


#: Session confs that change the StructType Spark infers for a parquet
#: file set: the footer → Spark type mapping, which footers are merged,
#: and the types of discovered partition columns.
_SCHEMA_CONFS: tuple[str, ...] = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.timestampType",
    "spark.sql.session.timeZone",
)

_SCHEMAS_MAX = 256
_SCHEMAS: OrderedDict = OrderedDict()
_SCHEMAS_LOCK = threading.Lock()


def path_for(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def _file_set(path: str) -> tuple | None:
    """(path, size, mtime_ns, inode) of every file at or under a local
    ``path``, sorted; None when the path is not a local file set the
    cache can key: another URI scheme, a glob, or nothing there."""
    url = urlparse(path)
    if url.scheme not in ("", "file") or any(c in path for c in "{}[]*?\\"):
        return None
    local = os.path.abspath(url.path if url.scheme else path)
    if os.path.isfile(local):
        files = [local]
    else:
        files = [os.path.join(d, f) for d, _, names in os.walk(local) for f in names]
    out = []
    for f in sorted(files):
        try:
            st = os.stat(f)
        except OSError:  # removed while listing: let Spark see the path
            return None
        out.append((f, st.st_size, st.st_mtime_ns, st.st_ino))
    return tuple(out) or None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` whose schema is inferred once per
    file set (module docstring): the first read infers it and keeps
    ``df.schema``; a read of the same files under the same confs passes
    it with ``.schema(...)``, which runs no Spark job."""
    files = _file_set(path)
    if files is None:
        return spark.read.parquet(path)
    key = (tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS), files)
    with _SCHEMAS_LOCK:
        schema = _SCHEMAS.get(key)
        if schema is not None:
            _SCHEMAS.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        _SCHEMAS[key] = df.schema
        while len(_SCHEMAS) > _SCHEMAS_MAX:
            _SCHEMAS.popitem(last=False)
    return df


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
    df = read_parquet(spark, path_for(sf_dir, name))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
