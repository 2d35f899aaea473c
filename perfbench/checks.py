"""Correctness checks the benchmark applies to each operation's outputs,
outside the timed regions.  Each returns a list of problems; an empty list
means the output is correct."""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def counts_match(forwarded: dict[str, int], expected: dict[str, int]) -> list[str]:
    """``run()``/``sync()`` forwarded exactly the expected rows per table."""
    return [
        f"{t}: forwarded {forwarded.get(t)} rows, expected {n}"
        for t, n in expected.items()
        if forwarded.get(t) != n
    ] + [f"{t}: unexpected table" for t in forwarded if t not in expected]


def no_mismatched_ranges(reports: dict[str, list]) -> list[str]:
    """Every PK range of a collected ``check()`` report reconciles."""
    out = []
    for t, rows in reports.items():
        bad = [r for r in rows if r["mismatch"]]
        if bad:
            out.append(f"{t}: {len(bad)} mismatched ranges, first {bad[0].asDict()}")
    return out


def holds_keys_once(dest: DataFrame | None, pk: str, n: int, table: str) -> list[str]:
    """The destination of a table whose source keys are exactly
    ``0 .. n - 1`` holds each of them exactly once: ``n`` rows, ``n``
    distinct keys, all inside ``[0, n - 1]``."""
    if dest is None:
        return [f"{table}: no destination"]
    got = dest.agg(F.count(F.lit(1)).alias("rows"), F.count_distinct(pk).alias("keys"),
                   F.min(pk).alias("lo"), F.max(pk).alias("hi")).collect()[0]
    if (got.rows, got.keys, got.lo, got.hi) != (n, n, 0, n - 1):
        return [f"{table}: dest {got.asDict()}, source keys 0..{n - 1}"]
    return []


def digest(pdf) -> str:
    """Order-insensitive hash of a collected result: columns by name, each
    cell by its ``str``, rows sorted."""
    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(map(str, r)) for r in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return h.hexdigest()


class CachedFrame:
    """A collected result standing in for the DataFrame it came from, so
    ``testing.compare_driver`` checks the frame the timed call produced
    instead of running the query a second time."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - DataFrame's method name
        return self._pdf


def matches_oracle(pdf, con, sql: str) -> list[str]:
    """A query's collected result equals its DuckDB oracle's, compared the
    way ``migbq_spark.testing.compare_driver`` does."""
    from migbq_spark.testing import compare_driver

    res = compare_driver(CachedFrame(pdf), con, sql)
    if res["ok"]:
        return []
    keep = ("spark_count", "duck_count", "cols_match", "unsafe_cols", "first_diffs")
    return [f"oracle mismatch: { {k: res.get(k) for k in keep} }"]
