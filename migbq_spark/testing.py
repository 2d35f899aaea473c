"""Local pre-flight parity harness: run a registered Spark query and its
DuckDB oracle side-by-side and compare row-count + schema-insensitive
canonical values, order-insensitively — the same shape of check the
driver's t2 harness performs (SURVEY.md §5.2).

Canonicalization: columns sorted by name, every cell rendered to a
canonical string (floats via repr, Decimals normalized, timestamps to µs
ISO), rows sorted lexicographically.  Exact string equality — no
tolerance — so anything that passes here has a real chance of passing an
exact value-hash.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import math

import duckdb

from migbq_spark.catalog import TABLES, path_for


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "0.0"  # normalize -0.0
        return repr(v)
    if isinstance(v, _decimal.Decimal):
        s = format(v.normalize(), "f")
        return s
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[str]]:
    """Return (sorted col names, sorted canonical row strings) with
    columns re-ordered by name before rendering."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    names = [cols[i] for i in order]
    out = sorted("|".join(canon_cell(r[i]) for i in order) for r in rows)
    return names, out


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with the ten tables pre-registered as views,
    mirroring the driver's oracle environment."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path_for(sf_dir, t)}')"
        )
    return con


def _pd_canon(pdf) -> tuple[list[str], list[str], list[str], list[str]]:
    """Driver-faithful canonicalization of a pandas frame: columns sorted
    by name, each column rendered with pandas ``astype(str)`` (as the
    driver renders them: midnight datetime64 renders date-only
    — so Spark ``date`` objects match DuckDB DATE→datetime64 — while
    ``Decimal("5.00")`` vs ``5.0`` and int64 ``5`` vs float64 ``5.0``
    stay distinct, exactly the splits the driver's hash showed), rows
    sorted.  Returns (cols, rows, dtypes, unsafe) where ``unsafe`` lists
    columns holding ndarray/list/dict cells — those crash the driver's
    sort-based canonicalizer outright (e.g. ``array_agg_sorted``)."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    unsafe = []
    for c in cols:
        if pdf[c].dtype == object:
            # Scan the FULL column (not a head sample): an op whose first
            # non-scalar cell appears past row N would otherwise pass this
            # check yet still crash the real driver canonicalizer — the
            # exact failure mode this function exists to catch.
            if pdf[c].map(
                lambda v: isinstance(v, (list, tuple, dict))
                or type(v).__name__ == "ndarray"
            ).any():
                unsafe.append(c)
    if len(pdf):
        body = pdf.astype(str)
        rows = sorted(
            "|".join(t) for t in body.itertuples(index=False, name=None)
        )
    else:
        rows = []
    return cols, rows, [str(t) for t in pdf.dtypes], unsafe


def compare_driver(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    """Strict, driver-faithful compare: ``spark_df.toPandas()`` against
    ``con.execute(sql).df()`` — the exact frames the driver's t2 harness
    hashes.  ``fetchall()`` would preserve Decimal and date objects
    that DuckDB's ``.df()`` does not, so it is not used here.

    ok requires: same sorted column names, same row count, identical
    ``str()``-rendered sorted rows, and no driver-unsafe (array/map)
    cells on either side.  ``dtype_diffs`` is advisory (ns- vs
    µs-timestamps stringify identically and are fine)."""
    spdf = spark_df.toPandas()
    dpdf = con.execute(sql).df()
    sn, sv, sd, su = _pd_canon(spdf)
    dn, dv, dd, du = _pd_canon(dpdf)
    res = {
        "cols_match": sn == dn,
        "count_match": len(sv) == len(dv),
        "values_match": sv == dv,
        "unsafe_cols": sorted(set(su) | set(du)),
        "dtype_diffs": [
            (c, a, b) for c, a, b in zip(sn, sd, dd) if a != b
        ] if sn == dn else list(zip(sn, sd)) + list(zip(dn, dd)),
        "spark_cols": sn,
        "duck_cols": dn,
        "spark_count": len(sv),
        "duck_count": len(dv),
    }
    if not res["values_match"]:
        res["first_diffs"] = [(a, b) for a, b in zip(sv, dv) if a != b][:3]
        res["only_spark"] = sorted(set(sv) - set(dv))[:3]
        res["only_duck"] = sorted(set(dv) - set(sv))[:3]
    res["ok"] = (
        res["cols_match"]
        and res["count_match"]
        and res["values_match"]
        and not res["unsafe_cols"]
    )
    return res


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    """Compare a Spark DataFrame against DuckDB SQL output; returns a dict
    with match flags and first-diff context for debugging."""
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    d = con.execute(sql)
    d_cols = [c[0] for c in d.description]
    d_rows = d.fetchall()

    sn, sv = canon_rows(s_cols, s_rows)
    dn, dv = canon_rows(d_cols, d_rows)
    res = {
        "cols_match": sn == dn,
        "count_match": len(sv) == len(dv),
        "values_match": sv == dv,
        "spark_cols": sn,
        "duck_cols": dn,
        "spark_count": len(sv),
        "duck_count": len(dv),
    }
    if not res["values_match"]:
        diffs = [
            (a, b) for a, b in zip(sv, dv) if a != b
        ][:3]
        only_s = sorted(set(sv) - set(dv))[:3]
        only_d = sorted(set(dv) - set(sv))[:3]
        res["first_diffs"] = diffs
        res["only_spark"] = only_s
        res["only_duck"] = only_d
    res["ok"] = res["cols_match"] and res["count_match"] and res["values_match"]
    return res
