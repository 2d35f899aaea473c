"""Shared expression helpers enforcing the cross-engine determinism rules
(SURVEY.md §7.4): DECIMAL-before-aggregation for money doubles, identical
aliasing on both engine sides, unique window tiebreaks, the one corpus
tokenization rule (`tokens`), the one portable hash (`md5_int`, the hex
prefix of an md5 digest read as an integer), and the vector kernels: the
one embedding fixed-point quantizer (`fixed_point`) and the two dot folds
(`dot`, `idot`); `local_frame`, which turns driver-side rows into a
DataFrame that is a local relation; and `stage_root`, the one place the
package puts its own scratch files.
"""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: Canonical money/decimal type used before any SUM/AVG over double money
#: columns — Spark and DuckDB disagree in the last ulp of a raw
#: SUM(double) (different add order), decimal addition is exact.
DEC = "decimal(18,2)"


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """A DataFrame over driver-side rows.  Built from Arrow it is a local
    relation with a known size: reading it runs no Spark job, and a join
    against it can broadcast it.  (A list of tuples would be parallelized
    through a Python worker, as a scan of unknown size.)"""
    cols = list(zip(*rows)) or [()] * len(schema)
    return spark.createDataFrame(
        pa.Table.from_pydict(dict(zip(schema.names, cols)), schema=to_arrow_schema(schema))
    )


def stage_root() -> Path:
    """Root of the package's scratch files: ``MIGBQ_STAGE_DIR`` when set
    (on a cluster, a filesystem every executor shares), otherwise a
    directory under the system temp directory, never the source tree."""
    return Path(os.environ.get("MIGBQ_STAGE_DIR") or Path(tempfile.gettempdir()) / "migbq_stage")


def tokens() -> Column:
    """The corpus tokenization rule over the documents' ``text``: split on
    one space, drop empty tokens.

    The documents fixture ends every text with a space, so the split
    yields an empty final token on both engines; the DuckDB oracles
    spell the same rule as ``list_filter(string_split(text, ' '),
    t -> t <> '')``."""
    return F.filter(F.split("text", " "), lambda t: t != "")


def md5_int(col: str | Column, start: int = 1, length: int = 15) -> Column:
    """The one portable hash: hex digits ``start .. start+length-1`` of
    ``md5(col)`` read as a base-16 integer, as bigint — ``conv(substring(
    md5(col), start, length), 16, 10)``.  The default 15 digits are the
    top 60 bits; up to 15 digits fit a bigint, so the value is exact and
    bit-identical to the DuckDB oracles' ``CAST('0x' || substr(md5(col),
    start, length) AS BIGINT)``.  Salts, seeds and moduli stay with the
    caller."""
    return F.conv(F.substring(F.md5(col), start, length), 16, 10).cast("bigint")


def fixed_point(scale: float = 1000000.0) -> Column:
    """The one fixed-point quantization of the ``embedding`` column: every
    component as ``floor(x·scale)`` int64 — micro-units (10⁶) unless an operator
    documents another scale.  Components arrive as float32, so the
    float→double product is exact IEEE in both engines and everything
    downstream of it is integer arithmetic no engine can reorder into a
    different answer.  The DuckDB oracles spell the same rule as
    ``list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) *
    1000000.0) AS BIGINT))``."""
    return F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(scale)).cast("bigint"),
    )


def dot(a: str | Column, b: str | Column) -> Column:
    """Σ a[i]·b[i] over two numeric arrays, each component widened to
    double before multiplying, folded left to right from ``0.0`` —
    one fused JVM-side chain, no UDF.  The fold order is fixed, so a
    caller that compares with an engine summing in another order rounds
    the result (the float-sensitive convention)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def idot(a: str | Column, b: str | Column) -> Column:
    """Exact int64 Σ a[i]·b[i] over two integer arrays (a ``fixed_point``
    vector, a ±1 hyperplane, an int8 code): integer addition is
    order-free, so the value is bit-identical in every engine."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def dec(col: str | Column) -> Column:
    """CAST(col AS DECIMAL(18,2)) — apply before aggregating money doubles."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def cents(col: str | Column) -> Column:
    """Per-row DECIMAL(18,2) rounding semantics, materialized as a scaled
    int64 (value × 100).  The decimal cast fixes the rounding (HALF_UP,
    identical to the oracle's CAST); the ×100 → long conversion is exact
    because the value has exactly 2 decimal digits after the cast."""
    return (dec(col) * 100).cast("long")


def scaled_sum_agg(df, group_cols, measures, count_alias: str | None = None):
    """Exact decimal SUM via two-level scaled-int64 accumulation — the
    strategy columnar engines (DuckDB, ClickHouse) use internally for
    decimal aggregation, expressed declaratively.

    ``measures`` is a list of ``(alias, long_expr, scale)`` where
    ``long_expr`` is the measure as an int64 scaled by 10^scale (build it
    from :func:`cents`; products of cents compose — cents×cents has
    scale 4).  Level 1 sums the int64s per (group, input partition):
    long addition, no BigDecimal boxing.  Level 2 merges the per-partition
    partials as DECIMAL(38) — exact, order-independent — and rescales.

    Numerically IDENTICAL to ``SUM(CAST(x AS DECIMAL))``: decimal
    arithmetic is integer arithmetic on unscaled values, and every step
    here (int64 partial sum, decimal merge, division by 10^scale with
    result scale ≥ needed) is exact.  The TERMINAL type is DOUBLE — one
    correctly-rounded conversion of the exact decimal — because the
    driver's hash compares pandas frames, where DuckDB's ``.df()``
    renders DECIMAL as float64 ("5.0") while a Spark Decimal renders
    "5.00"; emitting double on both sides makes the hash
    representation-stable.

    Overflow bound (the reason for two levels): a level-1 partial is
    bounded by rows-per-partition × max-row-value.  At 128 MB scan
    partitions (≲4 M rows) a scale-6 money measure (≤1e11 per row) sums
    to ≲4e17 — 20× inside int64.  The level-2 merge is DECIMAL(38,0), so
    TOTAL magnitude is unbounded by int64 — this survives 100 TB where a
    single-level long sum would overflow.  The level-1 exchange carries
    only |groups| × |partitions| rows.
    """
    pid = F.spark_partition_id().alias("_pid")
    partial = [F.sum(expr).alias(f"_{alias}") for alias, expr, _ in measures]
    if count_alias is not None:
        partial.append(F.count(F.lit(1)).alias("_cnt"))
    level1 = df.groupBy(*group_cols, pid).agg(*partial)
    final = [
        (F.sum(F.col(f"_{alias}").cast("decimal(38,0)")) / (10**scale))
        .cast(f"decimal(38,{scale})")
        .cast("double")
        .alias(alias)
        for alias, _, scale in measures
    ]
    if count_alias is not None:
        final.append(F.sum("_cnt").alias(count_alias))
    return level1.groupBy(*group_cols).agg(*final)
