"""UDF / UDAF / UDTF surface — SURVEY.md §2.J.

migbq has no user-function surface (config-driven only, `[pub:H]`); the
engine exposes the full PySpark function ladder:

- row-wise Python UDF (the slow path — kept OUT of every other operator;
  declared here once so the surface exists and is tested),
- Arrow-vectorized scalar pandas_udf (~10-100× the row-wise path),
- grouped-aggregate pandas_udf,
- grouped-map applyInPandas (the UDTF shape).

Scale notes (100 TB): pandas UDFs move Arrow record batches across the
JVM↔Python boundary per partition — throughput scales with executors.
Grouped-map materializes each group in one Python worker: fine for
per-returnflag groups, NOT for unbounded keys — that caveat is why the
equivalent windowed form (see each oracle) is preferred when expressible.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from migbq_spark.catalog import load
from migbq_spark.registry import register


@register(
    "udf_python_scalar",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice < 50000 THEN 'low'
                WHEN o_totalprice < 150000 THEN 'mid'
                ELSE 'high' END AS price_band
    FROM orders
    """,
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-wise Python UDF: price-band labeling (threshold compares only —
    no float arithmetic, so parity is exact)."""

    @F.udf("string")
    def band(p):
        if p < 50000:
            return "low"
        if p < 150000:
            return "mid"
        return "high"

    o = load(spark, sf_dir, "orders")
    return o.select("o_orderkey", band("o_totalprice").alias("price_band"))


@register(
    "udf_pandas_vectorized",
    oracle="""
    SELECT o_orderkey, l_linenumber,
           CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                     AS DECIMAL(18,4)) * 10000 AS BIGINT) AS net_e4
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    """,
)
def udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas_udf: net revenue per line in exact
    1e-4 currency units.  Integer cent math end-to-end — float rounding
    is engine-specific on the exact half-cents this fixture produces
    (pandas half-even vs DuckDB half-away), integers are not."""

    @pandas_udf("long")
    def net_e4(price: pd.Series, disc: pd.Series) -> pd.Series:
        cents = (price * 100).round().astype("int64")       # exact: 2dp input
        disc_pct = (disc * 100).round().astype("int64")     # exact: 2dp input
        return cents * (100 - disc_pct)                     # 1e-4 units

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "o_orderkey",
            "l_linenumber",
            net_e4("l_extendedprice", "l_discount").alias("net_e4"),
        )
    )


@register(
    "udaf_pandas_grouped",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_discount) / SUM(l_discount), 4) AS w_avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udaf_pandas_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas_udf: discount-weighted average price per
    returnflag, rounded to 4 dp (float-sensitive, SURVEY §7.4.4)."""

    @pandas_udf("double")
    def wavg(price: pd.Series, w: pd.Series) -> float:
        return float((price * w).sum() / w.sum())

    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(wavg("l_extendedprice", "l_discount"), 4).alias("w_avg_price")
    )


@register(
    "udtf_grouped_map",
    oracle="""
    SELECT event_id, event_type,
           ROUND((value - AVG(value) OVER (PARTITION BY event_type))
                 / STDDEV_SAMP(value) OVER (PARTITION BY event_type), 4) AS z
    FROM events
    """,
)
def udtf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-event_type z-score normalization
    (the canonical normalize pattern).  pandas std(ddof=1) ==
    STDDEV_SAMP; rounded to 4 dp."""

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        pdf = pdf[["event_id", "event_type"]].copy()
        pdf["z"] = ((v - v.mean()) / v.std(ddof=1)).round(4)
        return pdf

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return ev.groupBy("event_type").applyInPandas(
        normalize, "event_id bigint, event_type string, z double"
    )


@register(
    "udtf_lateral_split",
    oracle="""
    SELECT doc_id, token, pos
    FROM (
        SELECT doc_id,
               unnest(arr) AS token,
               unnest(range(1, len(arr) + 1)) AS pos
        FROM (SELECT doc_id, string_split(text, ' ') AS arr
              FROM documents WHERE doc_id < 200)
    )
    WHERE token <> ''
    """,
)
def udtf_lateral_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Python UDTF (Spark 4 `@udtf` class API, not the grouped-map
    shape): tokenize each doc and emit (token, 1-based raw position) rows
    through a LATERAL join — the table-function ladder rung above
    applyInPandas.  The oracle is DuckDB's zipped dual-unnest over the
    same split.

    Scale (100 TB): a UDTF runs per-partition inside the Python worker —
    no shuffle is introduced by the lateral itself; row fan-out happens
    where the data already lives.  (For pure tokenization the JVM
    posexplode in `arr_explode_tokens` stays preferred — this entry
    exists to cover the UDTF API surface.)"""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, pos int")
    class SplitTokens:
        def eval(self, text: str):
            if text is None:
                return
            for i, t in enumerate(text.split(" "), start=1):
                if t:
                    yield t, i

    spark.udtf.register("mq_split_tokens", SplitTokens)
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    d.createOrReplaceTempView("mq_docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, t.token, t.pos
        FROM mq_docs_udtf d, LATERAL mq_split_tokens(d.text) t
        """
    )


@register(
    "mapinarrow_batch_audit",
    oracle="""
    SELECT doc_id,
           CAST(length(text)
                - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
                AS BIGINT) AS n_letters,
           CAST(length(text)
                - length(regexp_replace(text, '[0-9]', '', 'g'))
                AS BIGINT) AS n_digits,
           CAST(length(text)
                - length(regexp_replace(text, ' ', '', 'g'))
                AS BIGINT) AS n_spaces,
           CAST(length(regexp_replace(regexp_replace(regexp_replace(
                    text, '[A-Za-z]', '', 'g'), '[0-9]', '', 'g'),
                    ' ', '', 'g')) AS BIGINT) AS n_other
    FROM documents
    """,
)
def mapinarrow_batch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the fifth rung of the §2.J function ladder (below
    it: pandas UDFs pay Arrow→pandas→Arrow conversion per batch; this
    surface hands the raw `pyarrow.RecordBatch` straight to Python,
    the right tool when the kernel is itself Arrow-native or, as with
    the multimodal decode family, operates on large binary buffers
    that pandas would copy).  The kernel here is a per-document ASCII
    character-class census (letters / digits / spaces / other) — a
    deterministic integer transform so the surface itself is
    hash-checked against a pure-SQL oracle, like the other four rungs.

    Determinism: exact integer counts; ASCII classes only (no locale
    or unicode-category dependence across engines).

    Scale (100 TB): embarrassingly row-local — batches stream through
    Python workers with zero shuffle; one Arrow batch in flight per
    core, memory bounded by batch size."""
    import pyarrow as pa

    def census(batches):
        for batch in batches:
            ids = batch.column("doc_id")
            texts = batch.column("text").to_pylist()
            out = {"doc_id": ids, "n_letters": [], "n_digits": [],
                   "n_spaces": [], "n_other": []}
            for t in texts:
                if t is None:
                    # NULL text yields NULL counts (matches the SQL
                    # oracle's NULL propagation) — a ''
                    # fallback would emit spurious 0 rows.
                    out["n_letters"].append(None)
                    out["n_digits"].append(None)
                    out["n_spaces"].append(None)
                    out["n_other"].append(None)
                    continue
                nl = nd = ns = 0
                for ch in t:
                    if ("a" <= ch <= "z") or ("A" <= ch <= "Z"):
                        nl += 1
                    elif "0" <= ch <= "9":
                        nd += 1
                    elif ch == " ":
                        ns += 1
                out["n_letters"].append(nl)
                out["n_digits"].append(nd)
                out["n_spaces"].append(ns)
                out["n_other"].append(len(t) - nl - nd - ns)
            yield pa.RecordBatch.from_pydict(
                {
                    "doc_id": ids,
                    "n_letters": pa.array(out["n_letters"], pa.int64()),
                    "n_digits": pa.array(out["n_digits"], pa.int64()),
                    "n_spaces": pa.array(out["n_spaces"], pa.int64()),
                    "n_other": pa.array(out["n_other"], pa.int64()),
                }
            )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInArrow(
        census,
        "doc_id bigint, n_letters bigint, n_digits bigint, "
        "n_spaces bigint, n_other bigint",
    )


@register(
    "udf_arrow_scalar",
    oracle="""
    SELECT o_orderkey,
           CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) % 97 AS price_mod,
           length(o_orderpriority) AS prio_len
    FROM orders
    """,
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDF (`useArrow=True`, Spark 3.5+)
    — the sixth rung of the §2.J ladder: same row-wise authoring model
    as `udf_python_scalar` but the engine ships Arrow batches instead
    of pickled rows, typically 1.5-2x the row-pickled path while
    keeping per-row Python semantics (vs the pandas_udf rung, which
    changes the authoring model to Series).  The kernel is integer-
    exact (floor-of-cents mod 97 — a checksum-style bucketing) so the
    surface itself is hash-checked like the other five rungs.

    Scale (100 TB): row-local, zero shuffle; Arrow batch transfer per
    partition — the per-row Python call is still the floor, which is
    why every OTHER operator stays off this path (test_plans purity)."""

    @F.udf("bigint", useArrow=True)
    def price_mod(p: float) -> int:
        import math

        if p is None:
            # NULL propagates (matches the SQL oracle;
            # floor(None * 100.0) would raise TypeError).
            return None
        return int(math.floor(p * 100.0)) % 97

    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        price_mod("o_totalprice").alias("price_mod"),
        F.length("o_orderpriority").alias("prio_len"),
    )
