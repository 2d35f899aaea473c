"""Training-data curation operators (second extension batch, SURVEY.md
§2.K): PII scrubbing, deterministic corpus splitting / weighted source
mixing, char-n-gram near-dup, canonical-doc dedup, distribution stats
(moments, exact percentiles), pivoted activity profiles, rank
distributions, and a bucket-co-located join.

migbq has none of this surface (it is a config-driven ETL tool,
SURVEY.md §2.J `[pub:H]`); these are the operations a large-scale
LLM-training-data pipeline runs after ingestion, expressed as
declarative Spark plans.

Determinism strategy per SURVEY.md §7.4: integer/decimal arithmetic
wherever exact parity is needed; single IEEE-double operations (one
division, one sqrt) where both engines provably execute the identical
sequence; ROUND(…,4) on anything float-derived.

Scale notes (100 TB): every operator here is scan → narrow transform →
one hash aggregation (or one bucketed join).  Splits and mixes are
pure row-local modulo arithmetic — no shuffle at all until the audit
aggregation; the n-gram join is blocked on `source` exactly like the
token-Jaccard scale path (LSH variant in pipeline.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from migbq_spark.catalog import load
from migbq_spark.common import dec, md5_int, tokens
from migbq_spark.registry import register

# ------------------------------------------------------------- pii_scrub

@register(
    "pii_scrub",
    oracle="""
    SELECT event_id,
           regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS scrubbed,
           length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))
               AS n_digit_chars
    FROM events
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction pass: digit runs replaced by a sentinel, with
    a per-row redacted-character audit count.  Spark `regexp_replace` is
    global by default; the DuckDB oracle needs the explicit 'g' flag.
    Row-local → embarrassingly parallel at any scale."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.regexp_replace("props", "[0-9]+", "<NUM>").alias("scrubbed"),
        (
            F.length("props") - F.length(F.regexp_replace("props", "[0-9]", ""))
        ).alias("n_digit_chars"),
    )


# ------------------------------------------------------- train_test_split

@register(
    "train_test_split",
    oracle="""
    SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
                WHEN doc_id % 10 = 8 THEN 'valid'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 corpus split by PK modulo (stable across
    runs and engines, unlike `rand()`-based sampling), audited per
    (split, lang).  The split itself is row-local; only the audit
    aggregates."""
    d = load(spark, sf_dir, "documents")
    m = F.pmod("doc_id", F.lit(10))
    split = (
        F.when(m < 8, "train").when(m == 8, "valid").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("n_chars"))
    )


# --------------------------------------------------- mix_weighted_sources

@register(
    "mix_weighted_sources",
    oracle="""
    WITH w AS (
        SELECT doc_id, source,
               CAST(substr(source, 4) AS INT) % 3 + 1 AS weight
        FROM documents
    )
    SELECT source, weight,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN doc_id % 4 < weight THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(SUM(CASE WHEN doc_id % 4 < weight THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS kept_frac
    FROM w
    GROUP BY source, weight
    """,
)
def mix_weighted_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing: each source gets a mixture weight (here
    derived from its id; in production from a mixture config), docs kept
    by deterministic PK modulo against the weight — reproducible
    downsampling with an exact per-source audit.  Row-local keep
    decision → no shuffle before the audit at any corpus size."""
    d = load(spark, sf_dir, "documents")
    weight = (F.substring("source", 4, 10).cast("int") % 3 + 1).alias("weight")
    kept = F.when(F.pmod("doc_id", F.lit(4)) < F.col("weight"), 1).otherwise(0)
    return (
        d.select("doc_id", "source", weight)
        .groupBy("source", "weight")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept).alias("n_kept"),
            F.round(F.sum(kept) * F.lit(1.0) / F.count(F.lit(1)), 4).alias(
                "kept_frac"
            ),
        )
    )


# ------------------------------------------------------ ngram_jaccard

_NGRAM_TAU = 0.6
_NGRAM_MAX_DOC = 150


@register(
    "ngram_jaccard",
    oracle=f"""
    WITH pos AS (
        SELECT doc_id, source, text,
               unnest(generate_series(1, length(text) - 2)) AS i
        FROM documents WHERE doc_id < {_NGRAM_MAX_DOC} AND length(text) >= 3
    ),
    g AS (SELECT DISTINCT doc_id, source, substr(text, i, 3) AS gram FROM pos),
    n AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
        FROM g a JOIN g b
          ON a.gram = b.gram AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT a_id, b_id,
           ROUND(shared * 1.0 / (na.n + nb.n - shared), 4) AS jac
    FROM shared
    JOIN n na ON na.doc_id = a_id
    JOIN n nb ON nb.doc_id = b_id
    WHERE shared * 1.0 / (na.n + nb.n - shared) >= {_NGRAM_TAU}
    """,
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram Jaccard near-duplicates (robust to word
    reordering where token Jaccard is not), blocked on `source`.
    Same explode→join→ratio shape as `near_dup_jaccard`; at 100 TB the
    blocking key bounds the pair space and the MinHash-LSH operator
    (pipeline.py) replaces the exact join."""
    d = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < _NGRAM_MAX_DOC) & (F.length("text") >= 3))
    )
    grams = d.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.expr("transform(sequence(1, length(text) - 2),"
                       " i -> substring(text, i, 3))")
            )
        ).alias("gram"),
    )
    # Materialize the gram table once: it feeds four branches (both
    # self-join sides and the two size-join lineages) and is bounded by
    # the doc_id < _NGRAM_MAX_DOC sample cap, so four scan+explode
    # rederivations collapse to one tiny table.
    grams = grams.localCheckpoint(eager=True)
    n = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = grams.alias("a"), grams.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = n.select(F.col("doc_id").alias("a_id"), F.col("n").alias("an"))
    nb = n.select(F.col("doc_id").alias("b_id"), F.col("n").alias("bn"))
    jac = F.col("shared") * F.lit(1.0) / (F.col("an") + F.col("bn") - F.col("shared"))
    return (
        shared.join(na, "a_id")
        .join(nb, "b_id")
        .filter(jac >= _NGRAM_TAU)
        .select("a_id", "b_id", F.round(jac, 4).alias("jac"))
    )


# --------------------------------------------------- dedup_keep_canonical

@register(
    "dedup_keep_canonical",
    oracle="""
    WITH fp AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                     list_filter(string_split(text, ' '), t -> t <> ''))), ' '))
                   AS fp
        FROM documents
    )
    SELECT fp, MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
    FROM fp GROUP BY fp
    """,
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document election per content fingerprint (the
    keep-one-drop-rest step that follows `doc_fingerprint`): smallest
    doc_id in each fingerprint group survives.  One hash aggregation on
    the fingerprint — linear at any scale."""
    d = load(spark, sf_dir, "documents")
    toks = tokens()
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
    return (
        d.select(fp.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------- agg_stats_moments

@register(
    "agg_stats_moments",
    oracle="""
    WITH s AS (
        SELECT event_type,
               COUNT(*) AS n,
               SUM(CAST(value AS DECIMAL(18,4))) AS s1,
               SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
                   AS s2
        FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(CAST(s1 AS DOUBLE) / n, 4) AS mean,
           ROUND((CAST(s2 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                 / (n - 1), 4) AS variance,
           ROUND(sqrt((CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                      / (n - 1)), 4) AS stddev
    FROM s
    """,
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean / sample variance / stddev per event_type via exact decimal
    power sums (SURVEY.md §7.4.1 applied to second moments): the only
    float arithmetic is the identical final expression on both engines,
    so 4-dp rounding is bit-stable.  Never hash-check a raw
    `stddev_samp(double)` — its merge order differs across engines."""
    e = load(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,4)")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
    )
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    var = (s2d - s1d * s1d / F.col("n")) / (F.col("n") - 1)
    return s.select(
        "event_type",
        "n",
        F.round(s1d / F.col("n"), 4).alias("mean"),
        F.round(var, 4).alias("variance"),
        F.round(F.sqrt(var), 4).alias("stddev"),
    )


# ------------------------------------------------------- agg_percentile

@register(
    "agg_percentile",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 4) AS p25,
           ROUND(quantile_cont(value, 0.50), 4) AS p50,
           ROUND(quantile_cont(value, 0.75), 4) AS p75
    FROM events GROUP BY event_type
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    `quantile_cont`: both sort and linearly interpolate at (n-1)·q).
    Exact-sort percentile is a full sort per group — fine per-group at
    any scale; for a 100 TB global percentile use
    `approx_percentile` (KLL/GK sketch, one pass, mergeable) and accept
    rows-only checking like `agg_approx_distinct`."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(value, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.75)"), 4).alias("p75"),
    )


# ------------------------------------------------------ pivot_event_counts

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_event_counts",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events GROUP BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity profile: event_type pivoted to columns.  The
    pivot values are passed explicitly — with an explicit list Spark
    skips the extra distinct-values job and the plan is a single hash
    aggregation, same cost as the CASE-WHEN form at any scale."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _EVENT_TYPES)
    )


# ----------------------------------------------------- win_percent_rank

@register(
    "win_percent_rank",
    oracle="""
    SELECT c_custkey,
           ROUND(PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey), 6)
               AS pct_rank,
           ROUND(CUME_DIST() OVER (ORDER BY c_acctbal, c_custkey), 6)
               AS cume_dist
    FROM customer
    """,
)
def win_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative rank distribution of customers by balance:
    `percent_rank` = (rank-1)/(n-1) and `cume_dist` = peers≤current / n.
    The unique tiebreak (custkey) makes every rank, and therefore the
    single IEEE division, identical cross-engine (SURVEY.md §7.4.2).
    Note the unpartitioned window — a single-reducer sort at scale;
    partition it (as `win_rank_topk_group` does) or pre-aggregate into
    quantile buckets for 100 TB corpora."""
    c = load(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


# -------------------------------------------------- join_bucket_colocated

@register(
    "join_bucket_colocated",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_bucket_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketing: both sides written
    bucketed+sorted on the join key (8 buckets), so the sort-merge join
    reads bucket i against bucket i with NO exchange on either side —
    tests/test_plans.py asserts the exchange-free plan.  This is the
    100 TB pattern for repeated fact⋈dim joins on a stable key: pay the
    bucketed write once, skip the shuffle on every subsequent join
    (migbq's fixed PK-range layout was the same idea for its sweep —
    SURVEY.md §3.1)."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    base = f"/tmp/migbq_bucketed/{tag}"
    ob, cb = f"orders_b_{tag}", f"customer_b_{tag}"
    for tbl, name, key, sort in (
        ("orders", ob, "o_custkey", "o_custkey"),
        ("customer", cb, "c_custkey", "c_custkey"),
    ):
        if not spark.catalog.tableExists(name):
            (
                load(spark, sf_dir, tbl)
                .write.mode("overwrite")
                .bucketBy(8, key)
                .sortBy(sort)
                .option("path", f"{base}/{name}")
                .saveAsTable(name)
            )
    o, c = spark.table(ob), spark.table(cb)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .alias("revenue"),
        )
    )


# ------------------------------------------------ stratified_sample_exact

@register(
    "stratified_sample_exact",
    oracle="""
    SELECT source, doc_id, lang FROM (
        SELECT source, doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents) t
    WHERE rn <= 5
    """,
)
def stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size stratified sampling: exactly k=5 docs per source
    stratum, selected by ranking on md5(pk) — a cross-engine-identical
    hash, so the "random" order is deterministic and reproducible
    (`sample()`/`rand()` are neither, and `sampleBy` is only
    approximate).  This is the eval-set carve-out a training pipeline
    needs to be byte-stable across reruns.

    Scale (100 TB): one shuffle on the stratum key; rank-k per group is
    a TopK (partial per partition under AQE), never a global sort.  For
    heavy strata, pre-aggregate a per-partition top-k first — the
    hash-order makes that refinement exact."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("source", "doc_id", "lang")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


# ---------------------------------------------- dup_connected_components

@register(
    "dup_connected_components",
    oracle=f"""
    WITH RECURSIVE pos AS (
        SELECT doc_id, source, text,
               unnest(generate_series(1, length(text) - 2)) AS i
        FROM documents WHERE doc_id < {_NGRAM_MAX_DOC} AND length(text) >= 3
    ),
    g AS (SELECT DISTINCT doc_id, source, substr(text, i, 3) AS gram FROM pos),
    n AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
        FROM g a JOIN g b
          ON a.gram = b.gram AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
        SELECT a_id, b_id FROM shared
        JOIN n na ON na.doc_id = a_id
        JOIN n nb ON nb.doc_id = b_id
        WHERE shared * 1.0 / (na.n + nb.n - shared) >= {_NGRAM_TAU}
    ),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs
              UNION SELECT b_id, a_id FROM pairs),
    reach(src, dst) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
    )
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id
    FROM reach GROUP BY src
    """,
)
def dup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-duplicate pair graph
    (`ngram_jaccard` edges): transitive dup clusters, labeled by the
    smallest doc_id reachable — the step that turns pairwise near-dup
    hits into keep-one-per-CLUSTER dedup (pairs alone under-delete:
    A~B, B~C but A≁C must still collapse to one cluster).

    Spark side is the two-star contraction fixpoint
    (`pipeline._cc_twostar_components`, shared with `dup_cc_twostar`
    and the cross-source dedup): O(log n) rounds, run until a round
    changes nothing, so a long chain is never cut short.  The oracle is
    the same fixpoint via a recursive CTE (reachability closure + min)
    — non-SQL-expressible in single-pass SQL, but DuckDB recursion
    makes it hash-checkable anyway.

    Scale (100 TB): |E| ≪ |docs|² thanks to the τ-filtered candidate
    generation (at scale, MinHash-LSH candidates feed the same
    fixpoint — see `dedup_cross_source_cc`); per-round cost is |E|
    shuffled on node id."""
    from migbq_spark.operators.pipeline import _cc_twostar_components

    pairs = ngram_jaccard(spark, sf_dir).select(
        F.col("a_id").alias("u"), F.col("b_id").alias("v")
    )
    return _cc_twostar_components(pairs)


# ------------------------------------------------------ tfidf_top_terms

@register(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                          t -> t <> '')) AS token
        FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM toks),
    scored AS (
        SELECT tf.doc_id, tf.token,
               tf.tf * ln(nd.n * 1.0 / df.df) AS tfidf
        FROM tf JOIN df USING (token) CROSS JOIN nd
    )
    SELECT doc_id, token, ROUND(tfidf, 4) AS tfidf
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, token) AS rn
          FROM scored) t
    WHERE rn <= 5
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: term frequency per doc × inverse
    document frequency over the corpus, top-5 terms per doc — the
    classic content-signature / relevance-feature op.  Float-sensitive
    (ln), so scores are rounded to 4 dp and the rank ORDER BY ends with
    the token tiebreak; equal-score ties (same tf, df) therefore rank
    identically in both engines.

    Scale (100 TB): tf and df are both map-side-combinable token
    aggregations; the score join broadcasts nothing bigger than the
    vocabulary, and top-5-per-doc is a bounded window — no global
    sorts anywhere."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(tokens()).alias(
            "token"
        ),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("token").agg(
        F.count_distinct("doc_id").alias("df")
    )
    nd = toks.agg(F.count_distinct("doc_id").alias("n"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "token",
            (F.col("tf") * F.log(F.col("n") * F.lit(1.0) / F.col("df"))).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "token", F.round("tfidf", 4).alias("tfidf"))
    )


# ------------------------------------------------------ vocab_top_tokens

@register(
    "vocab_top_tokens",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                          t -> t <> '')) AS token
        FROM documents
    ),
    counts AS (
        SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        FROM toks GROUP BY token
    )
    SELECT token, tf, df FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS rn
        FROM counts) t
    WHERE rn <= 100
    """,
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: corpus-wide token frequencies (total and
    document frequency), top-100 by count with a lexical tiebreak — the
    first step of building a tokenizer/vocab from a training corpus.

    Scale (100 TB): token counting is the canonical map-side-combine
    aggregation (partials shrink to |vocab| per task before the
    shuffle); global top-k over the vocab uses TakeOrdered semantics —
    the full vocabulary is never sorted, and the single-partition
    window below is over |vocab| rows, not |tokens|."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(tokens()).alias(
            "token"
        ),
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.count_distinct("doc_id").alias("df"),
    )
    w = Window.orderBy(F.desc("tf"), "token")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .drop("rn")
    )


# ------------------------------------------------- features_order_wide

@register(
    "features_order_wide",
    oracle="""
    SELECT o.o_orderkey,
           o.o_custkey,
           CAST(o.o_totalprice AS DECIMAL(18,2)) AS total_price,
           COUNT(l.l_orderkey) AS n_items,
           CAST(COALESCE(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2)))
                              AS DECIMAL(38,2)), 0) AS DOUBLE) AS sum_qty,
           MAX(CAST(l.l_shipdate AS DATE)) AS last_ship
    FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_custkey, CAST(o.o_totalprice AS DECIMAL(18,2))
    """,
)
def features_order_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-table feature assembly: denormalize the child table into
    per-parent aggregate features (item count, exact quantity sum, last
    ship date) LEFT-joined so parents with no children keep a row with
    zero/NULL features — the standard "build the training frame" step
    that turns a normalized schema into one row per example.

    Aggregate-THEN-join: the child rollup collapses lineitem to one row
    per order before the join, so the join carries |orders| rows on
    both sides instead of fanning out |lineitem| — at 100 TB that
    ordering is the difference between a bounded shuffle and a fact-
    table-sized one; both sides hash-partition on the same key so AQE
    plans a single co-located exchange pair."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        dec("o_totalprice").cast("double").alias("total_price"),
    )
    li = load(spark, sf_dir, "lineitem")
    child = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).alias("n_items_raw"),
        F.sum(dec("l_quantity")).cast("decimal(38,2)").alias("sum_qty_raw"),
        F.max(F.to_date("l_shipdate")).alias("last_ship"),
    )
    return o.join(child, "o_orderkey", "left").select(
        "o_orderkey",
        "o_custkey",
        "total_price",
        F.coalesce("n_items_raw", F.lit(0)).alias("n_items"),
        F.coalesce("sum_qty_raw", F.lit(0).cast("decimal(38,2)"))
        .cast("double")
        .alias("sum_qty"),
        # timestamp, not date: NULL last_ship (orders with no lineitems)
        # must render NaT like DuckDB's DATE→datetime64, not 'None'
        F.col("last_ship").cast("timestamp").alias("last_ship"),
    )


# ------------------------------------------------- class_balance_report

@register(
    "class_balance_report",
    oracle="""
    SELECT label, COUNT(*) AS n,
           ROUND(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM embeddings), 4)
               AS frac
    FROM embeddings GROUP BY label
    """,
)
def class_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance audit over the labeled embedding set: per-label
    count and corpus fraction — the imbalance check run before
    training or resampling (pairs with mix_weighted_sources to fix
    what it finds).  One map-combinable aggregation plus a broadcast
    scalar total; exact integers, one rounded division."""
    e = load(spark, sf_dir, "embeddings")
    total = e.agg(F.count(F.lit(1)).alias("total"))
    return (
        e.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "label",
            "n",
            F.round(F.col("n") * 1.0 / F.col("total"), 4).alias("frac"),
        )
    )


# ---------------------------------------------- ngram_lm_bigram_probs

@register(
    "ngram_lm_bigram_probs",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents
    ),
    pos AS (
        SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
        FROM toks WHERE len(ts) >= 2
    ),
    bi AS (
        SELECT ts[i] AS w1, ts[i + 1] AS w2, COUNT(*) AS n_pair
        FROM pos GROUP BY 1, 2
    ),
    uni AS (SELECT w1, SUM(n_pair) AS n_w1 FROM bi GROUP BY w1)
    SELECT bi.w1, bi.w2, bi.n_pair,
           ROUND(bi.n_pair * 1.0 / uni.n_w1, 4) AS p_w2_given_w1
    FROM bi JOIN uni USING (w1)
    WHERE bi.n_pair >= 3
    """,
)
def ngram_lm_bigram_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model statistics: corpus bigram counts and the
    conditional probability P(w2|w1) = n(w1,w2)/Σ_w n(w1,w), kept where
    support ≥ 3 — the counting backbone of n-gram LMs and of
    perplexity-based quality filtering.  The unigram denominator is
    derived FROM the bigram table (sum over following words), so
    numerator and denominator share one counting pass.

    Scale (100 TB): bigram extraction is row-local (adjacent-pair
    transform, no shuffle); counts collapse map-side to |bigram vocab|;
    the denominator join is on w1 — co-partitioned with the bigram
    count shuffle, and the support filter prunes the long tail before
    the join."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        tokens().alias("ts")
    ).filter(F.size("ts") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ts) - 1),"
                " i -> struct(ts[i - 1] AS w1, ts[i] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bi = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    uni = bi.groupBy("w1").agg(F.sum("n_pair").alias("n_w1"))
    return (
        bi.join(uni, "w1")
        .filter(F.col("n_pair") >= 3)
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(F.col("n_pair") * 1.0 / F.col("n_w1"), 4).alias(
                "p_w2_given_w1"
            ),
        )
    )


# ------------------------------------------------------ zipf_fit_slope

@register(
    "zipf_fit_slope",
    oracle="""
    WITH toks AS (
        SELECT unnest(list_filter(string_split(text, ' '),
                                  t -> t <> '')) AS token
        FROM documents
    ),
    counts AS (SELECT token, COUNT(*) AS tf FROM toks GROUP BY token),
    ranked AS (
        SELECT tf, ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS r
        FROM counts
    ),
    top AS (
        SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(tf AS DOUBLE)) AS y
        FROM ranked WHERE r <= 100
    ),
    m AS (
        SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM top
    )
    SELECT k,
           ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 4) AS zipf_slope
    FROM m
    """,
)
def zipf_fit_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus token distribution: least-squares
    slope of ln(frequency) against ln(rank) for the top-100 vocabulary
    (natural text ≈ −1; strong deviation flags templated/duplicated or
    synthetic content — a corpus-quality fingerprint).  Ranks carry the
    lexical tiebreak (vocab_top_tokens convention); the closed-form
    slope runs on exact counts through ln once per term, 4-dp rounded
    (float-sensitive: ln is libm, but 100-term sums keep ulps far below
    the rounding grid).

    Scale (100 TB): token counting is the canonical combinable
    aggregation; the regression runs on 100 rows."""
    toks = load(spark, sf_dir, "documents").select(
        F.explode(tokens()).alias(
            "token"
        )
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    w = Window.orderBy(F.desc("tf"), "token")
    top = (
        counts.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 100)
        .select(
            F.log(F.col("r").cast("double")).alias("x"),
            F.log(F.col("tf").cast("double")).alias("y"),
        )
    )
    m = top.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select("k", F.round(slope, 4).alias("zipf_slope"))


# ---------------------------------------------------- entropy_by_source

@register(
    "entropy_by_source",
    oracle="""
    WITH toks AS (
        SELECT source,
               unnest(list_filter(string_split(text, ' '),
                                  t -> t <> '')) AS token
        FROM documents
    ),
    counts AS (
        SELECT source, token, COUNT(*) AS n FROM toks GROUP BY 1, 2
    ),
    tot AS (SELECT source, SUM(n) AS total FROM counts GROUP BY source)
    SELECT c.source,
           CAST(MAX(t.total) AS BIGINT) AS n_tokens,
           COUNT(*) AS vocab,
           ROUND(-SUM((c.n * 1.0 / t.total) * ln(c.n * 1.0 / t.total)),
                 4) AS entropy_nats
    FROM counts c JOIN tot t USING (source)
    GROUP BY c.source
    """,
)
def entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's token distribution (nats) —
    the lexical-diversity fingerprint that separates natural text from
    templated/boilerplate sources (low entropy ⇒ repetitive; pairs
    with zipf_fit_slope for corpus QA and with mix_weighted_sources
    for deciding source weights).  Probabilities are exact-count
    ratios; the −Σ p·ln p reduction is 4-dp rounded (float-sensitive:
    per-term values are identical, reduction-order ulps are far below
    the grid).

    Scale (100 TB): per-source token counts are combinable; the
    entropy join is on the per-source totals (|sources| rows,
    broadcast) and the final reduction is per-source-vocab sized."""
    toks = load(spark, sf_dir, "documents").select(
        "source",
        F.explode(tokens()).alias(
            "token"
        ),
    )
    counts = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.groupBy("source").agg(F.sum("n").alias("total"))
    p = F.col("n") * 1.0 / F.col("total")
    return (
        counts.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            F.max("total").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.round(-F.sum(p * F.log(p)), 4).alias("entropy_nats"),
        )
    )


@register(
    "group_top_p_nucleus",
    oracle="""
    WITH cnt AS (
        SELECT source, t AS token, COUNT(*) AS cnt
        FROM (SELECT source, unnest(string_split(text, ' ')) AS t
              FROM documents)
        WHERE t <> ''
        GROUP BY source, t
    ),
    ranked AS (
        SELECT source, token, cnt,
               SUM(cnt) OVER (PARTITION BY source
                              ORDER BY cnt DESC, token
                              ROWS UNBOUNDED PRECEDING) AS cum_cnt,
               SUM(cnt) OVER (PARTITION BY source) AS total
        FROM cnt
    )
    SELECT source, token, cnt, CAST(cum_cnt AS BIGINT) AS cum_cnt,
           cnt * 1.0 / total AS share
    FROM ranked
    WHERE 10 * (cum_cnt - cnt) < 9 * total
    """,
)
def group_top_p_nucleus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p) vocabulary per source: the smallest count-ranked
    token prefix covering ≥ 90% of the source's token mass — how a
    tokenizer/vocab budget is chosen per corpus slice.

    Determinism: the membership predicate is ALL-INTEGER —
    ``10·(cum−cnt) < 9·total`` instead of ``cum/total`` float compares —
    so the boundary token is engine-exact; the reported `share` is one
    double division per row (bit-stable).  Ties rank lexically.

    Scale (100 TB): one explode→count shuffle (map-side combinable),
    one window shuffle on source; the window state is a running sum.
    Skewed sources parallelize at the count stage; only the per-source
    ranked walk is sequential, over |vocab(source)| rows not tokens."""
    d = load(spark, sf_dir, "documents")
    cnt = (
        d.select(
            "source",
            F.explode(tokens()).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy(F.desc("cnt"), "token")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("source")
    ranked = cnt.select(
        "source",
        "token",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum_cnt"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    return ranked.filter(
        10 * (F.col("cum_cnt") - F.col("cnt")) < 9 * F.col("total")
    ).select(
        "source",
        "token",
        "cnt",
        "cum_cnt",
        (F.col("cnt") * F.lit(1.0) / F.col("total")).alias("share"),
    )


@register(
    "sample_hash_bernoulli",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM documents
    WHERE CAST(concat('0x', substr(md5('smp:' || doc_id), 1, 15))
               AS BIGINT) % 100 < 10
    GROUP BY lang, source
    """,
)
def sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% Bernoulli sample via the portable md5 hash
    family — the sampling twin of `train_test_split`'s PK-modulo
    split.  Plain `doc_id % 100` correlates with any id-assignment
    pattern (append order, shard striping); hashing the id first gives
    a pseudo-random but REPRODUCIBLE coin per row, identical in Spark
    (`common.md5_int`) and DuckDB ('0x' cast) — so the
    sample is engine-exact and re-runnable, unlike `rand()`/TABLESAMPLE.
    The salt prefix ('smp:') decorrelates this coin from every other
    md5-family use (minhash seeds).

    Scale (100 TB): the predicate is row-local (pushes to the scan as a
    deterministic filter); only the per-(lang, source) audit aggregates
    — one map-side-combinable shuffle."""
    d = load(spark, sf_dir, "documents")
    coin = F.pmod(
        md5_int(F.concat_ws(":", F.lit("smp"), F.col("doc_id"))), F.lit(100)
    )
    return (
        d.filter(coin < 10)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("n_chars"),
        )
    )


@register(
    "pack_sequences_budget",
    oracle="""
    WITH t AS (
        SELECT doc_id, source,
               len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
        FROM documents
    ),
    o AS (
        SELECT doc_id, source, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS off
        FROM t
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(off AS BIGINT) AS off,
           CAST(off // 256 AS BIGINT) AS start_chunk,
           CAST((off + n_tokens - 1) // 256 AS BIGINT) AS end_chunk,
           CAST((off + n_tokens - 1) // 256 - off // 256 + 1 AS BIGINT)
               AS n_chunks
    FROM o
    """,
)
def pack_sequences_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-PACKING bookkeeping: concatenate each source's
    documents in doc_id order into one token stream and chunk it into
    fixed 256-token training sequences — per doc: its stream offset, the
    first and last chunk it lands in, and how many chunks it spans.
    This is the standard "pack short docs, split long docs" layout an
    LLM dataloader consumes; computing the placement as a window
    cumulative sum keeps it a single shuffle instead of a sequential
    driver loop, and makes it deterministic for resumable exports
    (migbq's ranged re-forward, applied to token budgets).

    Integer token counts + integer division only ⇒ value-hash-checked
    against the window-SQL oracle.

    Scale (100 TB): one window partitioned by source ordered by the PK;
    a skewed giant source is re-keyed by (source, doc_id range) exactly
    like `join_skew_salted` — placement math is unchanged because
    offsets within a range shard only need the shard's base offset (one
    broadcast scalar per shard)."""
    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(tokens()).cast("bigint")
    t = d.select("doc_id", "source", n_tokens.alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = t.withColumn("off", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    budget = F.lit(256)
    start = F.floor(F.col("off") / budget).cast("bigint")
    end = F.floor((F.col("off") + F.col("n_tokens") - 1) / budget).cast("bigint")
    return o.select(
        "doc_id",
        "source",
        "n_tokens",
        "off",
        start.alias("start_chunk"),
        end.alias("end_chunk"),
        (end - start + 1).alias("n_chunks"),
    )


def _bpe_pair_counts(words: DataFrame) -> DataFrame:
    """(left, right, weight) adjacent-symbol pair counts over the
    weighted symbol-sequence table — the distributed heart of BPE
    training (one shuffle per iteration)."""
    # Guard size(syms) < 2: Spark's sequence(0, -1) DESCENDS ([0, -1]),
    # so an un-guarded transform would emit phantom (sym, null) pairs
    # for any word fully merged into one symbol — invisible at 8 merges
    # on the fixture, real at production merge counts.
    pairs = words.select(
        "weight",
        F.explode(
            F.expr(
                "IF(size(syms) < 2, array(),"
                " transform(sequence(0, size(syms) - 2),"
                " i -> struct(syms[i] AS left, syms[i + 1] AS right)))"
            )
        ).alias("p"),
    )
    return pairs.groupBy("p.left", "p.right").agg(
        F.sum("weight").alias("weight")
    )


def _bpe_oracle_ctes(n_merges: int = 8) -> str:
    """DuckDB CTE chain that reproduces the distributed BPE trainer
    EXACTLY, by unrolling the ``n_merges`` iterations (the merge count
    is a contract constant, so "iterative" is finitely expressible).

    Representation trick: each word's symbol sequence is kept as a
    single string with every symbol wrapped in chr(31) delimiters
    (``\\x1f a \\x1f \\x1f b \\x1f`` for symbols [a, b]).  Because
    symbols never contain chr(31), a pattern ``\\x1f L \\x1f \\x1f R
    \\x1f`` can only match at true symbol boundaries, and SQL
    ``replace`` — leftmost, non-overlapping, continue-after-replacement,
    output never rescanned — is then EXACTLY the trainer's greedy
    leftmost fold (`_bpe_merge_expr`): the merged symbol L||R never
    re-merges within the same pass since L||R <> L for nonempty R.
    Per round: adjacent-pair counts weighted by word frequency (all
    adjacents, overlap-counting — same as `_bpe_pair_counts`), argmax
    with (weight DESC, left, right) tie-break, one rewrite.  Assumes
    corpus tokens don't contain chr(31) (true of the test tables; a
    production corpus would pre-scrub control chars in `pii_scrub`
    fashion)."""
    sep = "chr(31)"
    parts = [f"""WITH freq AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS weight
    FROM (SELECT unnest(list_filter(string_split(text, ' '),
                                    t -> t <> '')) AS word
          FROM documents)
    GROUP BY word
),
w0 AS (
    SELECT word, weight,
           {sep} || array_to_string(
               list_transform(range(1, length(word) + 2),
                              i -> substr(word || '_', i, 1)),
               {sep} || {sep}) || {sep} AS s
    FROM freq
)"""]
    for i in range(n_merges):
        parts.append(f""",
p{i} AS (
    SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(weight) AS BIGINT) AS weight
    FROM (
        SELECT weight,
               unnest(list_transform(range(1, len(syms)),
                                     j -> [syms[j], syms[j + 1]])) AS pr
        FROM (SELECT weight,
                     string_split(trim(s, {sep}), {sep} || {sep}) AS syms
              FROM w{i})
    )
    GROUP BY pr[1], pr[2]
),
m{i} AS (
    SELECT {i} AS rank, l, r, weight
    FROM p{i} ORDER BY weight DESC, l ASC, r ASC LIMIT 1
),
w{i + 1} AS (
    SELECT w.word AS word, w.weight AS weight,
           replace(w.s, {sep} || m.l || {sep} || {sep} || m.r || {sep},
                        {sep} || m.l || m.r || {sep}) AS s
    FROM w{i} w, m{i} m
)""")
    return "".join(parts)


def _bpe_trainer_oracle(n_merges: int = 8) -> str:
    """Hash oracle for both trainer twins: the union of the per-round
    argmax rows is the merge table."""
    union = " UNION ALL ".join(f"SELECT * FROM m{i}" for i in range(n_merges))
    return _bpe_oracle_ctes(n_merges) + f"""
SELECT rank, l AS "left", r AS "right", weight FROM ({union})"""


def _bpe_apply_oracle(n_merges: int = 8) -> str:
    """Hash oracle for both apply twins: tokenize the vocab with the
    final symbol strings, join counts back to occurrences, audit per
    source — mirrors `_bpe_token_audit`."""
    sep = "chr(31)"
    return _bpe_oracle_ctes(n_merges) + f""",
v AS (
    SELECT word,
           CAST(len(string_split(trim(s, {sep}), {sep} || {sep}))
                AS BIGINT) AS word_toks
    FROM w{n_merges}
),
occ AS (
    SELECT doc_id, source,
           length(replace(text, ' ', '')) AS n_chars,
           unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS word
    FROM documents
),
per_doc AS (
    SELECT doc_id, source, n_chars, SUM(word_toks) AS n_tokens
    FROM occ JOIN v USING (word)
    GROUP BY doc_id, source, n_chars
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(n_tokens) AS BIGINT) AS n_bpe_tokens,
       round(SUM(n_chars) * 1.0 / SUM(n_tokens), 4) AS chars_per_token
FROM per_doc GROUP BY source"""


def _bpe_merge_expr(col_expr: str, left: str, right: str) -> str:
    """Greedy leftmost non-overlapping merge of adjacent (left, right)
    as a left fold over the symbol array (pure JVM HOF): if the running
    tail is `left` and the next symbol is `right`, replace the tail
    with the merged symbol."""
    return (
        "aggregate({inner}, cast(array() AS array<string>),"
        " (acc, x) -> IF(size(acc) > 0"
        "   AND element_at(acc, -1) = '{L}' AND x = '{R}',"
        "   concat(slice(acc, 1, size(acc) - 1), array('{M}')),"
        "   concat(acc, array(x))))"
    ).format(
        inner=col_expr,
        L=left.replace("'", "\\'"),
        R=right.replace("'", "\\'"),
        M=(left + right).replace("'", "\\'"),
    )


def _bpe_train(
    spark: SparkSession, sf_dir: str, n_merges: int = 8, batch_k: int = 1
) -> tuple[list[tuple[int, str, str, int]], int]:
    """Shared BPE trainer: returns (merge table, driver rounds).

    ``batch_k=1`` is the strictly sequential classic (one argmax job per
    merge).  ``batch_k>1`` collects the top-k pair counts per round and
    accepts the longest PREFIX of that ordering whose pairs are mutually
    symbol-disjoint — the batch stops at the first pair sharing a symbol
    with an already-accepted one.  Why the prefix rule is safe: merging
    (a,b) can only change counts of pairs that share a symbol with it
    (adjacent occurrences are destroyed) or of newly created pairs
    (x,ab)/(ab,y), whose counts are bounded by the pre-merge counts of
    (x,a)/(b,y) — both symbol-sharing pairs that, by the prefix rule,
    ranked BELOW every accepted pair.  Counts of mutually disjoint pairs
    are invariant under each other's merges, so the sequential trainer
    would have picked the same prefix in the same order.

    TIE HARDENING: a created pair (x, ab) whose count
    exactly TIES an accepted pair's weight could win the lexicographic
    tie-break sequentially.  Created-pair counts are bounded by their
    symbol-sharing source pairs, so the batch fetches top-(k+1) and
    computes ``cap`` = max weight over (a) the first symbol-sharing
    row inside the batch (the heaviest sharing pair — ordering is
    weight-desc) and (b) the (k+1)-th row (an upper bound for every
    pair OUTSIDE the batch, sharing or not).  Prefix entries whose
    weight is not STRICTLY greater than ``cap`` are dropped — no
    created pair can then tie any accepted pair.  The argmax row alone
    is always kept (accepting only the top-1 is sequential-exact by
    definition), so progress is guaranteed.  All accepted merges apply
    in ONE chained-fold projection per round."""
    d = load(spark, sf_dir, "documents")
    freqs = (
        d.select(
            F.explode(tokens()).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    # eager=False: every round's argmax collect below runs
    # TakeOrderedAndProject over the full pair-count aggregation, which
    # computes every partition of `words` — the lazy checkpoint
    # materializes inside that job (one pass per round instead of
    # checkpoint-job + re-read), and the FINAL round's rewritten `words`
    # (discarded once the merge table is full) is never materialized at
    # all, where the eager form paid a whole wasted pass.
    words = freqs.select(
        "weight",
        F.expr("split(concat(word, '_'), '')").alias("syms"),
    ).localCheckpoint(eager=False)

    merges: list[tuple[int, str, str, int]] = []
    rounds = 0
    fetch_k = batch_k + 1 if batch_k > 1 else 1
    while len(merges) < n_merges:
        top = (
            _bpe_pair_counts(words)
            .orderBy(F.desc("weight"), F.asc("left"), F.asc("right"))
            .limit(fetch_k)
            .collect()
        )
        rounds += 1
        if not top:
            break
        # cap starts at the (k+1)-th row's weight: upper bound on any
        # pair outside the fetched batch (see docstring tie hardening)
        cap = int(top[batch_k].weight) if len(top) > batch_k else 0
        prefix = []
        used: set[str] = set()
        for r in top[:batch_k]:
            if {r.left, r.right} & used:
                # first sharing row IS the heaviest sharing pair
                cap = max(cap, int(r.weight))
                break  # prefix rule: later counts may now be stale
            prefix.append(r)
            used |= {r.left, r.right, r.left + r.right}
        # strict-tie guard: drop prefix tail not strictly above cap;
        # the argmax row alone is always sequential-exact, keep it
        while len(prefix) > 1 and int(prefix[-1].weight) <= cap:
            prefix.pop()
        accepted: list[tuple[str, str, int]] = []
        for r in prefix:
            if len(merges) + len(accepted) >= n_merges:
                break
            accepted.append((r.left, r.right, int(r.weight)))
        for left, right, weight in accepted:
            merges.append((len(merges), left, right, weight))
        sym_expr = "syms"
        for left, right, _ in accepted:
            sym_expr = _bpe_merge_expr(sym_expr, left, right)
        words = words.select(
            "weight", F.expr(sym_expr).alias("syms")
        ).localCheckpoint(eager=False)
    return merges, rounds


@register("tokenizer_bpe_train_merges", oracle=_bpe_trainer_oracle())
def tokenizer_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE TOKENIZER TRAINING — the step that turns a corpus
    into the merge table an LLM tokenizer ships with: start from
    per-word character sequences (word-boundary marker `_` appended),
    weighted by corpus word frequency; for each of 8 iterations count
    adjacent symbol pairs (one distributed groupBy), pick the most
    frequent pair (deterministic tie-break on the pair text; the single
    collected row per iteration is the argmax — bounded by construction)
    and merge every occurrence.  Output: (rank, left, right, weight) —
    the learned merge table.

    Hash-oracled: the fixed merge count makes the iteration
    finitely SQL-expressible — `_bpe_trainer_oracle` unrolls all 8
    rounds in DuckDB (delimiter-string rewrite = the greedy fold) and
    the driver value-hashes the full merge table.  Also pinned in
    tests against a pure-Python reference BPE on the same word
    frequencies.

    Scale (100 TB): the corpus only enters through the per-word
    frequency table (Heaps-bounded, exactly `vocab_top_tokens`'s
    shape); each iteration is one map-side-combinable pair-count
    shuffle over the weighted VOCAB (not the corpus), and the merge
    application is a per-row array rewrite.  At a production merge
    count (~50k) one driver round PER merge is the latency bottleneck
    even though each job is distributed — the batched-round twin
    `tokenizer_bpe_train_batched` (below) amortizes it and is pinned
    exactly equal to this path."""
    merges, _ = _bpe_train(spark, sf_dir, n_merges=8, batch_k=1)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, weight bigint"
    )


@register("tokenizer_bpe_train_batched", oracle=_bpe_trainer_oracle())
def tokenizer_bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION twin of `tokenizer_bpe_train_merges`: per driver
    round, collect the TOP-K pair counts and accept the longest
    mutually-symbol-disjoint prefix (see `_bpe_train` for the proof
    sketch of why the prefix can't be invalidated), applying all
    accepted merges in one chained-fold projection.  At the fixture's
    8 merges this runs in 2-3 rounds instead of 8; at a production
    ~50k-merge vocabulary the round count — the driver-side latency
    wall — drops by roughly the average accepted-prefix length (steep-Zipf
    corpora batch well because the head pairs rarely share symbols).
    Pinned exactly equal to the sequential path in tests, and the
    merges/rounds ratio is asserted > 1 there.

    Measured beyond the toy count (sf1 fixture):
    n_merges=64 → 57 rounds (1.12×, batched == sequential exactly);
    n_merges=256 → fixture vocab exhausts at 105 learnable merges in
    98 rounds (1.07×, exact equality again).  The deep-tail ratio
    collapses toward 1 HERE because the 31-word fixture vocabulary
    drives tail pair counts into exact ties, and the tie-hardened
    prefix rule (above) correctly refuses tied batches; head rounds
    still accept 8-at-a-time.  On real Zipf-distributed text, exact
    count ties are rare past the head, so the accepted-prefix length
    — not the tie fallback — governs production round counts."""
    merges, _ = _bpe_train(spark, sf_dir, n_merges=8, batch_k=8)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, weight bigint"
    )


@register("tokenizer_bpe_apply", oracle=_bpe_apply_oracle())
def tokenizer_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the `tokenizer_bpe_train_merges` merge table to the corpus:
    every document is tokenized word-by-word with the 8 learned merges
    (same greedy leftmost fold, chained in rank order inside ONE
    projection — the merge table is collected once, 8 bounded rows, and
    baked into the plan as literals exactly like a broadcast vocab).
    Output per source: documents, char count, BPE token count, and the
    compression ratio chars/token — the number a tokenizer change is
    judged by before a training run.

    Hash-oracled (`_bpe_apply_oracle` re-derives the merge
    table in SQL and tokenizes the vocab the same way); also pinned in
    tests against the reference tokenizer on sampled docs.

    Scale (100 TB): tokenization is row-local (no shuffle until the
    per-source audit); a production merge table (~50k merges) ships as
    a broadcast table consumed by one pandas UDF instead of 8 inline
    fold stages — that path is IMPLEMENTED as
    `tokenizer_bpe_apply_trie` below, pinned exactly equal to this
    one; the plan shape (broadcast table + row-local rewrite + one
    audit aggregation) is identical."""
    merges = [
        (r.left, r.right)
        for r in tokenizer_bpe_train_merges(spark, sf_dir)
        .orderBy("rank")
        .collect()
    ]
    d = load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "source",
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias(
            "n_chars"
        ),
        tokens().alias("t"),
    ).filter(F.size("t") >= 1)
    # Tokenize the corpus ONCE: `base` feeds three branches (vocab
    # distinct, per-doc word counts, the narrow source/n_chars rejoin)
    # and without materialization each re-runs the scan + split/filter
    # lineage (3 corpus scans → 1; a real pipeline stores the tokenized
    # corpus anyway).  DISK_ONLY: the token base is FACT-scale — the
    # default MEMORY_AND_DISK checkpoint level makes it heap-resident,
    # violating the repo's HITS §12 rule; serialized disk blocks cost
    # ~nothing here (interleaved A/B flat) and never pressure the heap at
    # corpus scale.
    base = base.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    sym_expr = "split(concat(word, '_'), '')"
    for left, right in merges:
        sym_expr = (
            "aggregate({inner}, cast(array() AS array<string>),"
            " (acc, x) -> IF(size(acc) > 0"
            "   AND element_at(acc, -1) = '{L}' AND x = '{R}',"
            "   concat(slice(acc, 1, size(acc) - 1), array('{LR}')),"
            "   concat(acc, array(x))))"
        ).format(
            inner=sym_expr,
            L=left.replace("'", "\\'"),
            R=right.replace("'", "\\'"),
            LR=(left + right).replace("'", "\\'"),
        )
    # tokenize the DISTINCT vocabulary, not the occurrences (the same
    # Heaps'-law move as the minhash signature build): the 8-deep fold
    # runs |vocab| times and occurrence counts join it back (18.2 s →
    # 1.5 s at sf0.1)
    vocab_toks = (
        base.select(F.explode("t").alias("word"))
        .distinct()
        .select(
            "word", F.size(F.expr(sym_expr)).cast("bigint").alias("word_toks")
        )
    )
    return _bpe_token_audit(base, vocab_toks)


def _bpe_token_audit(base: DataFrame, vocab_toks: DataFrame) -> DataFrame:
    """Shared tail of the two BPE-apply paths: per-doc word counts join
    per-word token counts, roll up per document, then per source.

    Shape (a join-before-rollup form was profiled at sf10
    and its occurrence EXPLODE alone — 27 M rows each carrying
    (doc_id, source, n_chars, word-string) — cost 101 s of the 115 s
    total): the explode now carries only int64 triples.  Per doc, the
    (word, count) pairs are computed ROW-LOCALLY by sort+run-length
    over the per-token xxhash64 array (the `_dup_span_tail` move), so
    word strings never leave the scan stage; the Heaps-bounded vocab
    side hashes its words once and broadcasts (word_h, word_toks) —
    16 bytes/row, ~16 MB even at a 1 M-word production vocabulary.
    source/n_chars rejoin doc-keyed AFTER the per-doc aggregation
    (500 k narrow rows, not 27 M).  Measured sf10: 115.6 s → 31.2 s
    (fold path), same outputs.  Hash collisions on the vocab join are
    ~2^-64 per word pair and driver-verified by the string-keyed
    DuckDB oracle."""
    wc = base.select(
        "doc_id",
        F.explode(
            F.expr(
                """
      transform(array(array_sort(transform(t, w -> xxhash64(w)))), ss ->
        transform(
          array(filter(sequence(0, size(ss) - 1),
                       j -> j = 0 OR ss[j] != ss[j - 1])),
          st -> transform(sequence(0, size(st) - 1), r -> struct(
            ss[st[r]] AS word_h,
            CAST((IF(r + 1 < size(st), st[r + 1], size(ss)) - st[r])
                 AS BIGINT) AS n_occ)))[0])[0]
    """
            )
        ).alias("p"),
    ).select("doc_id", "p.word_h", "p.n_occ")
    vocab_h = vocab_toks.select(
        F.xxhash64("word").alias("word_h"), "word_toks"
    )
    per_doc = (
        wc.join(F.broadcast(vocab_h), "word_h")
        .groupBy("doc_id")
        .agg(F.sum(F.col("n_occ") * F.col("word_toks")).alias("n_tokens"))
    )
    narrow = base.select("doc_id", "source", "n_chars")
    return (
        narrow.join(per_doc, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_tokens").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_chars") * F.lit(1.0) / F.sum("n_tokens"), 4
            ).alias("chars_per_token"),
        )
    )


@register("tokenizer_bpe_apply_trie", oracle=_bpe_apply_oracle())
def tokenizer_bpe_apply_trie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-SCALE twin of `tokenizer_bpe_apply`: the merge table
    ships as a BROADCAST variable consumed by ONE vectorized pandas UDF
    instead of |merges| chained fold expressions.  The fold form bakes
    each merge into the plan as a literal — fine for 8 learned merges,
    impossible for a production ~50k-merge table (a 50k-deep expression
    tree breaks codegen long before it breaks the optimizer).  Here the
    plan has a single Arrow-batched Python node over the DISTINCT vocab
    (plan-asserted in tests), and the merge table size only affects the
    broadcast payload, not the plan.

    Output is pinned EXACTLY equal to `tokenizer_bpe_apply` (one test
    runs both): inside the UDF each word takes the same rank-order
    greedy-leftmost merge passes as the fold, with an O(1) per-merge
    symbol-presence skip so inapplicable merges (the overwhelming
    majority under a big table, since a word only contains a few dozen
    symbols) cost one set probe.  Iterative best-rank application (the
    GPT-2 loop) was deliberately NOT used: it can diverge from
    sequential passes on tables that violate the trainer's
    derived-symbol invariant, and exact twin equality is the contract
    here.

    Scale (100 TB): tokenization stays row-local over the Heaps-bounded
    vocab; the broadcast is one merge-table payload per executor; the
    audit joins/aggregations are identical to the fold path's."""

    merges = [
        (r.left, r.right, r.left + r.right)
        for r in tokenizer_bpe_train_merges(spark, sf_dir)
        .orderBy("rank")
        .collect()
    ]
    bc = spark.sparkContext.broadcast(merges)

    @F.pandas_udf("bigint")
    def bpe_word_toks(col: pd.Series) -> pd.Series:
        table = bc.value

        def n_toks(word: str) -> int:
            syms = list(word + "_")
            present = set(syms)
            for left, right, merged in table:
                if left not in present or right not in present:
                    continue
                out: list[str] = []
                changed = False
                for x in syms:
                    if out and out[-1] == left and x == right:
                        out[-1] = merged
                        changed = True
                    else:
                        out.append(x)
                if changed:
                    syms = out
                    present = set(syms)
            return len(syms)

        return col.map(n_toks)

    d = load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "source",
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias(
            "n_chars"
        ),
        tokens().alias("t"),
    ).filter(F.size("t") >= 1)
    # Same tokenize-once materialization as the fold twin (3 corpus
    # scans → 1 across the vocab/word-count/rejoin branches).
    # DISK_ONLY per the fact-scale rule (see the fold twin's note).
    base = base.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    vocab_toks = (
        base.select(F.explode("t").alias("word"))
        .distinct()
        .select("word", bpe_word_toks("word").alias("word_toks"))
    )
    return _bpe_token_audit(base, vocab_toks)


# ---------------------------------------------- quality_perplexity_filter

@register(
    "quality_perplexity_filter",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents
    ),
    pos AS (
        SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
        FROM (SELECT doc_id, ts,
                     unnest(generate_series(1, len(ts) - 1)) AS i
              FROM toks WHERE len(ts) >= 2)
    ),
    tr AS (
        SELECT w1, w2, COUNT(*) AS c2
        FROM pos WHERE doc_id % 10 < 8 GROUP BY 1, 2
    ),
    un AS (SELECT w1, SUM(c2) AS c1 FROM tr GROUP BY w1),
    v AS (SELECT COUNT(*) AS vsz FROM un),
    scored AS (
        SELECT p.doc_id,
               -log2((COALESCE(tr.c2, 0) + 1) * 1.0
                     / (COALESCE(un.c1, 0) + v.vsz)) AS bits
        FROM pos p
        LEFT JOIN tr ON tr.w1 = p.w1 AND tr.w2 = p.w2
        LEFT JOIN un ON un.w1 = p.w1
        CROSS JOIN v
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(SUM(bits) / COUNT(*), 4) AS avg_bits,
           ROUND(SUM(bits) / COUNT(*), 4) > 4.9 AS dropped
    FROM scored GROUP BY doc_id
    """,
)
def quality_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERPLEXITY-BASED QUALITY FILTERING — the CCNet-style action
    op that `ngram_lm_bigram_probs` only computes statistics for: an
    add-one-smoothed bigram LM is TRAINED on the train split
    (doc_id % 10 < 8, the repo's split convention), then EVERY doc with
    ≥2 tokens is scored with its average surprisal in bits
    (−log₂ P(w₂|w₁) averaged over the doc's bigrams; unseen bigrams
    cost −log₂(1/(c(w₁)+V))), and docs above the 4.9-bit threshold
    (≈ uniform surprisal over the fixture's 31-word vocab) are flagged
    dropped — the filter real pipelines run with a KenLM, expressed
    with a distributed-trainable LM.

    Hash mode: all probabilities are ratios of exact integers; log₂ is
    the single IEEE operation per bigram, then ROUND(·,4) on the
    per-doc mean — the repo's standard float-determinism recipe
    (SURVEY.md §7.4), validated at sf0.001/0.01/0.1.

    Scale (100 TB): bigram extraction is row-local; the LM tables
    collapse map-side to the Heaps-bounded bigram vocab; scoring joins
    are keyed on (w1, w2)/(w1) — broadcastable for any LM that fits an
    executor (a 50 M-entry bigram table does), else co-partitioned with
    one shuffle; the verdict is one doc-keyed partial-agg exchange."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        tokens().alias("ts"),
    ).filter(F.size("ts") >= 2)
    pos = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ts) - 1),"
                " i -> struct(ts[i - 1] AS w1, ts[i] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    # Materialize the LM ONCE: tr is referenced by three plan branches
    # (the (w1,w2) scoring join, the unigram rollup, and the vocab-size
    # scalar), and each branch re-derived the full corpus scan + bigram
    # explode + shuffle — the before-plan carried 4 document scans for ONE
    # logical LM build (8 inside the funnel/ matrix composites that embed
    # this op).  The bigram table is Heaps-bounded (vocab², not corpus),
    # so one localCheckpoint stores it and every branch reads the
    # materialized rows; the scoring joins then broadcast explicitly — the
    # same "LM fits an executor" contract the docstring already states
    # (checkpointed lineage reports no stats, so the planner can't make
    # that call itself). eager=False: the size-guard tr.count() below
    # computes every partition, so the lazy checkpoint materializes inside
    # the count's job — one pass over the LM build instead of two.
    tr = (
        pos.filter(F.pmod("doc_id", F.lit(10)) < 8)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .localCheckpoint(eager=False)
    )
    un = tr.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = un.agg(F.count(F.lit(1)).alias("vsz"))
    bits = -F.log2(
        (F.coalesce("c2", F.lit(0)) + 1)
        * F.lit(1.0)
        / (F.coalesce("c1", F.lit(0)) + F.col("vsz"))
    )
    # Size-guard the broadcast hints: unlike the audit
    # ops this build side is NOT code-capped, so an unconditional hint
    # would OOM the "LM outgrows an executor" case the docstring
    # promises falls back to a co-partitioned shuffle.  The count is
    # also the job that materializes the lazy checkpoint above — the LM
    # build runs exactly once, fused with the guard; ~48 B per
    # (w1, w2, c2) row against the repo's standard 64 MB executor
    # broadcast budget.  `un`/`v` are rollups of `tr` (strictly
    # smaller), so one guard covers all three.
    if tr.count() * 48 <= (64 << 20):
        tr_j, un_j, v_j = F.broadcast(tr), F.broadcast(un), F.broadcast(v)
    else:
        tr_j, un_j, v_j = tr, un, v
    scored = (
        pos.join(tr_j, ["w1", "w2"], "left")
        .join(un_j, "w1", "left")
        .crossJoin(v_j)
        .select("doc_id", bits.alias("bits"))
    )
    avg_bits = F.round(F.sum("bits") / F.count(F.lit(1)), 4)
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        avg_bits.alias("avg_bits"),
        (avg_bits > 4.9).alias("dropped"),
    )


# ---------------------------------------------- mix_temperature_sampling

@register(
    "mix_temperature_sampling",
    oracle="""
    WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
    t AS (SELECT SUM(n_docs) AS total, SUM(sqrt(n_docs)) AS z FROM c)
    SELECT source, n_docs,
           ROUND(n_docs * 1.0 / t.total, 4) AS p_raw,
           ROUND(sqrt(n_docs) / t.z, 4) AS q_temp,
           ROUND((sqrt(n_docs) / t.z) / (n_docs * 1.0 / t.total), 4)
               AS boost
    FROM c CROSS JOIN t
    """,
)
def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED SOURCE SAMPLING — the q_i ∝ p_i^α
    mixture (α = 0.5 here) multilingual corpora are sampled with so
    low-resource sources aren't drowned by head sources: per source the
    raw share p_raw, the temperature-flattened share q_temp, and the
    boost factor q/p a dataloader applies as its per-source sampling
    weight.  Complements `mix_weighted_sources` (fixed configured
    weights) with the DERIVED weighting real multilingual runs use.

    Determinism: counts are exact integers; sqrt is one
    correctly-rounded IEEE op; the two scalar sums + divisions land
    behind ROUND(·,4) — the repo's standard float recipe (SURVEY §7.4).

    Scale (100 TB): one map-side-combinable count per source, one
    broadcast row of scalars joined back — the corpus is read once and
    the mixture table is |sources| rows regardless of corpus size."""
    d = load(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    t = c.agg(
        F.sum("n_docs").alias("total"),
        F.sum(F.sqrt("n_docs")).alias("z"),
    )
    p_raw = F.col("n_docs") * F.lit(1.0) / F.col("total")
    q_temp = F.sqrt("n_docs") / F.col("z")
    return c.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        F.round(p_raw, 4).alias("p_raw"),
        F.round(q_temp, 4).alias("q_temp"),
        F.round(q_temp / p_raw, 4).alias("boost"),
    )


# ------------------------------------------------- quality_gopher_rules

@register(
    "quality_gopher_rules",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), w -> w <> '') AS ws,
               length(text)
                 - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
                 AS n_sym,
               length(text) AS n_chars
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(ws) AS n_words,
               ROUND(len(list_aggregate(ws, 'string_agg', ''))
                     * 1.0 / len(ws), 4) AS mean_wlen,
               ROUND(n_sym * 1.0 / GREATEST(n_chars, 1), 4) AS sym_ratio,
               len(list_filter(list_distinct(ws),
                   w -> w IN ('the', 'a', 'of', 'to', 'in'))) AS n_stop
        FROM t WHERE len(ws) > 0
    )
    SELECT doc_id, n_words, mean_wlen, sym_ratio, n_stop,
           (n_words >= 20 AND mean_wlen BETWEEN 3 AND 10
            AND sym_ratio <= 0.1 AND n_stop >= 2) AS passes
    FROM m
    """,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOPHER-STYLE RULE FILTERING — the public heuristic bundle
    (Rae et al. 2021) every large text pipeline runs before model-based
    scoring, as one row-local pass with a per-rule audit: word count
    floor (>= 20 here, fixture-calibrated from the paper's 50), mean
    word length in [3, 10], symbol-to-char ratio <= 0.1, and >= 2
    distinct stopwords present — plus the combined verdict.  Integer /
    exact-ratio arithmetic behind ROUND(·,4): hash mode.

    Complements the statistical filters (`quality_score` blend,
    `quality_perplexity_filter` LM surprisal): real funnels run the
    cheap rules FIRST, so the expensive scorers see fewer docs.

    Scale (100 TB): entirely row-local (split + array HOFs, no
    shuffle, no UDF) — embarrassingly parallel at any corpus size."""
    d = load(spark, sf_dir, "documents")
    ws = tokens()
    n_sym = F.length("text") - F.length(
        F.regexp_replace("text", "[^a-z0-9 ]", "")
    )
    base = d.select(
        "doc_id",
        ws.alias("ws"),
        n_sym.alias("n_sym"),
        F.length("text").alias("n_chars"),
    ).filter(F.size("ws") > 0)
    wlen_sum = F.aggregate(
        "ws", F.lit(0), lambda acc, w: acc + F.length(w)
    )
    n_words = F.size("ws")
    mean_wlen = F.round(wlen_sum * F.lit(1.0) / n_words, 4)
    sym_ratio = F.round(
        F.col("n_sym") * F.lit(1.0) / F.greatest("n_chars", F.lit(1)), 4
    )
    n_stop = F.size(
        F.filter(
            F.array_distinct("ws"),
            lambda w: w.isin("the", "a", "of", "to", "in"),
        )
    )
    m = base.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wlen.alias("mean_wlen"),
        sym_ratio.alias("sym_ratio"),
        n_stop.alias("n_stop"),
    )
    passes = (
        (F.col("n_words") >= 20)
        & F.col("mean_wlen").between(3, 10)
        & (F.col("sym_ratio") <= 0.1)
        & (F.col("n_stop") >= 2)
    )
    return m.withColumn("passes", passes)


# ---------------------------------------------- dedup_exact_normalized

@register(
    "dedup_exact_normalized",
    oracle="""
    WITH n AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   AS norm_hash
        FROM documents
    ),
    g AS (
        SELECT norm_hash, MIN(doc_id) AS canonical_id,
               COUNT(*) AS group_size
        FROM n GROUP BY norm_hash
    )
    SELECT n.doc_id, n.norm_hash, g.canonical_id, g.group_size,
           n.doc_id <> g.canonical_id AS is_dup
    FROM n JOIN g USING (norm_hash)
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NORMALIZED exact dedup — the canonicalize-then-hash pass
    real pipelines run BEFORE MinHash: lowercase, collapse whitespace
    runs, trim, md5 the result; docs sharing a normalized hash form a
    group whose lowest doc_id is canonical and the rest are flagged
    dups.  Catches the trivial near-dups (case / spacing variants)
    that would otherwise waste LSH candidate budget.  md5 is the
    portable hash family (same move as `dedup_minhash_portable`), so
    the whole pass value-hash-checks.

    Scale (100 TB): one narrow row-local normalization + one hash
    group-by (map-side combinable) + a join co-partitioned with it —
    `dedup_hash_exact`'s shape with the normalization the raw corpus
    actually needs."""
    d = load(spark, sf_dir, "documents")
    norm = F.md5(
        F.trim(F.regexp_replace(F.lower("text"), "\\s+", " "))
    )
    n = d.select("doc_id", norm.alias("norm_hash"))
    g = n.groupBy("norm_hash").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return n.join(g, "norm_hash").select(
        "doc_id",
        "norm_hash",
        "canonical_id",
        "group_size",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"),
    )


# ------------------------------------------------------ winsorize_by_key

@register(
    "winsorize_by_key",
    oracle="""
    WITH b AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS lo,
               quantile_cont(value, 0.95) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND(e.value, 4) AS value,
           ROUND(b.lo, 4) AS lo,
           ROUND(b.hi, 4) AS hi,
           ROUND(LEAST(GREATEST(e.value, b.lo), b.hi), 4) AS winsorized,
           (e.value < b.lo OR e.value > b.hi) AS clipped
    FROM events e JOIN b USING (event_type)
    """,
)
def winsorize_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group WINSORIZATION — the outlier-clipping pass feature
    pipelines run before normalizing a heavy-tailed metric: exact
    interpolated p05/p95 per event_type (Spark `percentile` ≡ DuckDB
    `quantile_cont`, the `agg_percentile` parity), every row clamped
    into the band, with the original value, the band, and a clip flag
    kept for audit.  Complements `outlier_iqr_bounds` (detects) and
    `robust_median_mad` (scores): this one APPLIES the treatment.

    Scale (100 TB): the per-group bounds table is |groups| rows —
    broadcast to the row stream (plan: BroadcastHashJoin, no shuffle
    of the fact side); exact per-group percentiles sort within groups
    only.  For a global percentile at extreme scale swap in
    `approx_percentile` and accept rows-only checking."""
    e = load(spark, sf_dir, "events")
    bounds = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    j = e.join(F.broadcast(bounds), "event_type")
    wins = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return j.select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.round("lo", 4).alias("lo"),
        F.round("hi", 4).alias("hi"),
        F.round(wins, 4).alias("winsorized"),
        ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias(
            "clipped"
        ),
    )


# ----------------------------------------------- collapse_repeated_tokens

@register(
    "collapse_repeated_tokens",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS t
        FROM documents
    ),
    c AS (
        SELECT doc_id, len(t) AS n_tokens,
               list_filter(t, (x, i) -> i = 1 OR x <> t[i - 1]) AS kept
        FROM tok WHERE len(t) > 0
    )
    SELECT doc_id, n_tokens,
           CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
           array_to_string(kept, ' ') AS cleaned
    FROM c
    """,
)
def collapse_repeated_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-duplicate-token collapse — the stutter-cleaning
    pass text pipelines run on OCR / ASR / scraped corpora ("the the",
    "very very very"): token i is dropped iff it equals token i−1, the
    cleaned text is re-joined, and the removal count is kept as a
    quality signal (heavy stutter correlates with extraction failure).
    A REWRITE operator, not a score: the output `cleaned` column is
    the new corpus text, value-hash-checked byte-for-byte.

    Implementation is one indexed-lambda `filter` per row on both
    engines (Spark 0-based `(x, i)` with NULL-safe `get(t, i-1)`;
    DuckDB 1-based `(x, i)` with NULL `t[0]`) — entirely row-local,
    no shuffle, no UDF; embarrassingly parallel at 100 TB."""
    d = load(spark, sf_dir, "documents")
    toks = tokens()
    base = d.select("doc_id", toks.alias("t")).filter(F.size("t") > 0)
    kept = F.filter(
        "t",
        lambda x, i: (i == F.lit(0)) | (x != F.get("t", i - F.lit(1))),
    )
    return base.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        (F.size("t") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.array_join(kept, " ").alias("cleaned"),
    )


# --------------------------------------------------- target_encoding_loo

@register(
    "target_encoding_loo",
    oracle="""
    WITH g AS (
        SELECT event_type,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT)
                   AS s_e4,
               COUNT(*) AS n
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND(e.value, 4) AS value,
           CAST(FLOOR(
               (g.s_e4 - CAST(CAST(e.value AS DECIMAL(18,4)) * 10000
                              AS BIGINT)) * 1.0 / (g.n - 1)
           ) AS BIGINT) AS te_loo_e4
    FROM events e JOIN g USING (event_type)
    WHERE g.n > 1
    """,
)
def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT target encoding — the categorical-feature
    encoding supervised pipelines use to fold a high-cardinality key
    into one numeric column without leaking the row's own label:
    te(row) = (Σ_group value − value_row) / (n_group − 1).  The group
    sums run in exact decimal (the `agg_stats_moments` convention —
    never hash-check a raw double SUM, its merge order differs across
    engines), and the encoding is emitted FIXED-POINT
    (`te_loo_e4` = ⌊te · 10⁴⌋, a BIGINT): with 4-dp inputs the LOO
    mean lands exactly on ROUND-grid ties (measured at sf0.001:
    te = 47.07375 → Spark HALF_UP .0738 vs DuckDB binary-round .0737),
    so rounding is the one non-portable step and floor-scaling is the
    portable form — the `sim_scaled` convention.  Groups of one are
    excluded (the encoding is undefined there), on both engines via
    the same predicate.

    Scale (100 TB): one map-side-combinable group aggregate over
    |keys| rows, broadcast back to the row stream — the fact table is
    never shuffled."""
    e = load(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        (F.sum(F.col("value").cast("decimal(18,4)")) * 10000)
        .cast("bigint")
        .alias("s_e4"),
        F.count(F.lit(1)).alias("n"),
    )
    j = e.join(F.broadcast(g), "event_type").filter(F.col("n") > 1)
    v_e4 = (F.col("value").cast("decimal(18,4)") * 10000).cast("bigint")
    te_e4 = F.floor(
        (F.col("s_e4") - v_e4) * F.lit(1.0) / (F.col("n") - 1)
    ).cast("bigint")
    return j.select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        te_e4.alias("te_loo_e4"),
    )


# -------------------------------------------------- js_divergence_sources

@register(
    "js_divergence_sources",
    oracle="""
    WITH cnt AS (
        SELECT source, t AS token, COUNT(*) AS n
        FROM (SELECT source, unnest(string_split(text, ' ')) AS t
              FROM documents)
        WHERE t <> ''
        GROUP BY source, t
    ),
    tot AS (SELECT source, SUM(n) AS total FROM cnt GROUP BY source),
    p AS (
        SELECT c.source, c.token, c.n * 1.0 / t.total AS p
        FROM cnt c JOIN tot t USING (source)
    ),
    srcs AS (SELECT source FROM tot),
    prs AS (
        SELECT a.source AS src_a, b.source AS src_b
        FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    grid AS (
        SELECT pr.src_a, pr.src_b, v.token,
               COALESCE(pa.p, 0) AS pa, COALESCE(pb.p, 0) AS pb
        FROM prs pr
        CROSS JOIN (SELECT DISTINCT token FROM cnt) v
        LEFT JOIN p pa ON pa.source = pr.src_a AND pa.token = v.token
        LEFT JOIN p pb ON pb.source = pr.src_b AND pb.token = v.token
        WHERE pa.p IS NOT NULL OR pb.p IS NOT NULL
    )
    SELECT src_a, src_b, COUNT(*) AS n_union_tokens,
           ROUND(SUM(
               0.5 * (CASE WHEN pa > 0
                           THEN pa * ln(pa / ((pa + pb) / 2)) ELSE 0 END)
             + 0.5 * (CASE WHEN pb > 0
                           THEN pb * ln(pb / ((pa + pb) / 2)) ELSE 0 END)
           ), 4) AS jsd_nats
    FROM grid
    GROUP BY src_a, src_b
    """,
)
def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise JENSEN-SHANNON divergence between source token
    distributions — the symmetric, bounded [0, ln 2] corpus-mix
    diagnostic: which sources are lexically interchangeable and which
    contribute genuinely different text (the measurement behind
    `mix_weighted_sources` / `mix_temperature_sampling` weight
    choices; complements `kl_divergence_drift`, which compares value
    HISTOGRAMS of one stream over time).  Probabilities are exact
    count ratios; the Σ p·ln(p/m) reduction is 4-dp rounded
    (`entropy_by_source`'s float convention: per-term values are
    identical, reduction-order ulps sit far below the grid).

    Scale (100 TB): per-source token counts are map-side combinable;
    the pair grid is |vocab| × |source pairs| with the Heaps-bounded
    vocab on the big side and everything else broadcast — no shuffle
    of the corpus after the first count."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(tokens()).alias(
            "token"
        ),
    )
    cnt = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.groupBy("source").agg(F.sum("n").alias("total"))
    p = cnt.join(F.broadcast(tot), "source").select(
        "source", "token", (F.col("n") * F.lit(1.0) / F.col("total")).alias("p")
    )
    srcs = tot.select("source")
    prs = (
        srcs.alias("a")
        .crossJoin(srcs.alias("b"))
        .filter(F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
    )
    vocab = cnt.select("token").distinct()
    grid = vocab.crossJoin(F.broadcast(prs))
    pa = p.select(
        F.col("source").alias("src_a"), "token", F.col("p").alias("pa")
    )
    pb = p.select(
        F.col("source").alias("src_b"), "token", F.col("p").alias("pb")
    )
    g = (
        grid.join(pa, ["src_a", "token"], "left")
        .join(pb, ["src_b", "token"], "left")
        .filter(F.col("pa").isNotNull() | F.col("pb").isNotNull())
        .select(
            "src_a",
            "src_b",
            F.coalesce("pa", F.lit(0.0)).alias("pa"),
            F.coalesce("pb", F.lit(0.0)).alias("pb"),
        )
    )
    m = (F.col("pa") + F.col("pb")) / F.lit(2)
    term = F.lit(0.5) * (
        F.when(F.col("pa") > 0, F.col("pa") * F.log(F.col("pa") / m)).otherwise(
            F.lit(0.0)
        )
    ) + F.lit(0.5) * (
        F.when(F.col("pb") > 0, F.col("pb") * F.log(F.col("pb") / m)).otherwise(
            F.lit(0.0)
        )
    )
    return g.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("n_union_tokens"),
        F.round(F.sum(term), 4).alias("jsd_nats"),
    )


# ---------------------------------------------- packing_efficiency_report

@register(
    "packing_efficiency_report",
    oracle="""
    WITH t AS (
        SELECT doc_id, source,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS n_tokens
        FROM documents
    ),
    o AS (
        SELECT doc_id, source, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS off
        FROM t
    ),
    p AS (
        SELECT source, n_tokens,
               (off + n_tokens - 1) // 256 - off // 256 + 1 AS n_chunks
        FROM o
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST((SUM(n_tokens) + 255) // 256 AS BIGINT) AS n_chunks_used,
           CAST(COUNT(*) FILTER (n_chunks > 1) AS BIGINT) AS n_split_docs,
           ROUND(SUM(n_tokens) * 1.0
                 / (((SUM(n_tokens) + 255) // 256) * 256), 4) AS fill_rate
    FROM p GROUP BY source
    """,
)
def packing_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACKING EFFICIENCY report — the dataloader-facing summary
    over `pack_sequences_budget`'s contiguous 256-token chunk layout:
    per source, how many chunks the stream occupies, the fill rate of
    that chunk budget (1.0 − padding waste), and how many documents
    straddle a chunk boundary (each split doc costs the trainer a
    truncated attention span or a cross-chunk mask).  This is the
    number a training-data owner actually tunes packing against.
    Composes the registered packing operator's own plan; pure integer
    layout arithmetic + one ROUND: hash mode.

    Scale (100 TB): one window over the per-source doc stream (the
    packing plan itself) + one combinable aggregate."""
    packed = pack_sequences_budget(spark, sf_dir)
    total = F.sum("n_tokens")
    chunks_used = F.floor((total + 255) / F.lit(256)).cast("bigint")
    return packed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        total.cast("bigint").alias("total_tokens"),
        chunks_used.alias("n_chunks_used"),
        F.count_if(F.col("n_chunks") > 1).cast("bigint").alias("n_split_docs"),
        F.round(
            total * F.lit(1.0) / (chunks_used * F.lit(256)), 4
        ).alias("fill_rate"),
    )


# ---------------------------------------------- source_quality_matrix

@register(
    "source_quality_matrix",
    oracle="""
    WITH tks AS (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), w -> w <> '') AS ws,
               length(text)
                 - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
                 AS n_sym,
               length(text) AS n_chars
        FROM documents
    ),
    rules_pass AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   len(ws) AS n_words,
                   ROUND(len(list_aggregate(ws, 'string_agg', ''))
                         * 1.0 / len(ws), 4) AS mean_wlen,
                   ROUND(n_sym * 1.0 / GREATEST(n_chars, 1), 4)
                       AS sym_ratio,
                   len(list_filter(list_distinct(ws),
                       w -> w IN ('the', 'a', 'of', 'to', 'in'))) AS n_stop
            FROM tks WHERE len(ws) > 0)
        WHERE n_words >= 20 AND mean_wlen BETWEEN 3 AND 10
          AND sym_ratio <= 0.1 AND n_stop >= 2
    ),
    pos AS (
        SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        FROM (SELECT doc_id, ws,
                     unnest(generate_series(1, len(ws) - 1)) AS i
              FROM tks WHERE len(ws) >= 2)
    ),
    tr AS (
        SELECT w1, w2, COUNT(*) AS c2
        FROM pos WHERE doc_id % 10 < 8 GROUP BY 1, 2
    ),
    un AS (SELECT w1, SUM(c2) AS c1 FROM tr GROUP BY w1),
    v AS (SELECT COUNT(*) AS vsz FROM un),
    scored AS (
        SELECT p.doc_id,
               -log2((COALESCE(tr.c2, 0) + 1) * 1.0
                     / (COALESCE(un.c1, 0) + v.vsz)) AS bits
        FROM pos p
        LEFT JOIN tr ON tr.w1 = p.w1 AND tr.w2 = p.w2
        LEFT JOIN un ON un.w1 = p.w1
        CROSS JOIN v
    ),
    ppl AS (
        SELECT doc_id,
               ROUND(SUM(bits) / COUNT(*), 4) > 4.9 AS dropped
        FROM scored GROUP BY doc_id
    ),
    nrm AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   AS nh
        FROM documents
    ),
    gmin AS (SELECT nh, MIN(doc_id) AS canon FROM nrm GROUP BY nh),
    exact AS (
        SELECT nrm.doc_id FROM nrm JOIN gmin USING (nh)
        WHERE nrm.doc_id <> gmin.canon
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) FILTER (r.doc_id IS NOT NULL) AS BIGINT)
               AS n_rules_pass,
           ROUND(COUNT(*) FILTER (r.doc_id IS NOT NULL) * 1.0
                 / COUNT(*), 4) AS rules_pass_rate,
           CAST(COUNT(*) FILTER (p.doc_id IS NOT NULL) AS BIGINT)
               AS n_ppl_scored,
           CAST(COUNT(*) FILTER (p.dropped) AS BIGINT) AS n_ppl_drop,
           ROUND(COUNT(*) FILTER (p.dropped) * 1.0
                 / GREATEST(COUNT(*) FILTER (p.doc_id IS NOT NULL), 1),
                 4) AS ppl_drop_rate,
           CAST(COUNT(*) FILTER (e.doc_id IS NOT NULL) AS BIGINT)
               AS n_exact_dup,
           ROUND(COUNT(*) FILTER (e.doc_id IS NOT NULL) * 1.0
                 / COUNT(*), 4) AS exact_dup_rate
    FROM documents d
    LEFT JOIN rules_pass r ON r.doc_id = d.doc_id
    LEFT JOIN ppl p ON p.doc_id = d.doc_id
    LEFT JOIN exact e ON e.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def source_quality_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source CORPUS HEALTH MATRIX — the marginal-rate
    dashboard next to `corpus_curation_funnel_rules`' precedence fates:
    for every source, how many docs pass the Gopher rules, how many the
    perplexity filter would drop, and how many are normalized exact
    dups — each signal counted INDEPENDENTLY (a doc can fail several),
    which is what you read when deciding which source to fix versus
    which to drop.  Counts and count-ratios only (no averaging of
    rounded values — grid-aligned means can land exactly on ROUND
    ties, the `target_encoding_loo` lesson): hash mode.

    Scale (100 TB): three linear signals joined per doc then one
    per-source combinable aggregate — strictly cheaper than the
    funnel, which additionally orders the verdicts."""
    d = load(spark, sf_dir, "documents")
    rules = (
        quality_gopher_rules(spark, sf_dir)
        .filter(F.col("passes"))
        .select("doc_id", F.lit(True).alias("rules_ok"))
    )
    ppl = quality_perplexity_filter(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("scored"), "dropped"
    )
    exact = (
        dedup_exact_normalized(spark, sf_dir)
        .filter(F.col("is_dup"))
        .select("doc_id", F.lit(True).alias("is_exact_dup"))
    )
    j = (
        d.select("doc_id", "source")
        .join(rules, "doc_id", "left")
        .join(ppl, "doc_id", "left")
        .join(exact, "doc_id", "left")
    )
    n_rules = F.count_if(F.col("rules_ok"))
    n_scored = F.count_if(F.col("scored"))
    n_drop = F.count_if(F.col("dropped"))
    n_dup = F.count_if(F.col("is_exact_dup"))
    n = F.count(F.lit(1))
    return j.groupBy("source").agg(
        n.alias("n_docs"),
        n_rules.cast("bigint").alias("n_rules_pass"),
        F.round(n_rules * F.lit(1.0) / n, 4).alias("rules_pass_rate"),
        n_scored.cast("bigint").alias("n_ppl_scored"),
        n_drop.cast("bigint").alias("n_ppl_drop"),
        F.round(
            n_drop * F.lit(1.0) / F.greatest(n_scored, F.lit(1)), 4
        ).alias("ppl_drop_rate"),
        n_dup.cast("bigint").alias("n_exact_dup"),
        F.round(n_dup * F.lit(1.0) / n, 4).alias("exact_dup_rate"),
    )


@register(
    "pmi_collocations",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ),
    uni AS (
        SELECT u.tok AS w, COUNT(*) AS c
        FROM t, LATERAL unnest(toks) AS u(tok)
        GROUP BY u.tok
    ),
    bi AS (
        SELECT toks[pos] AS w1, toks[pos + 1] AS w2, COUNT(*) AS c_ab
        FROM (
            SELECT doc_id, toks, unnest(range(1, len(toks))) AS pos
            FROM t WHERE len(toks) >= 2
        )
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT (SELECT SUM(c) FROM uni) AS n_uni,
               (SELECT SUM(c_ab) FROM bi) AS n_bi
    )
    SELECT w1, w2, c_ab,
           ROUND(ln((c_ab * 1.0 / n_bi)
                    / ((ua.c * 1.0 / n_uni) * (ub.c * 1.0 / n_uni))), 4)
               AS pmi
    FROM bi JOIN uni ua ON bi.w1 = ua.w
            JOIN uni ub ON bi.w2 = ub.w
            CROSS JOIN tot
    WHERE c_ab >= 5
    ORDER BY pmi DESC, w1, w2
    LIMIT 20
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINTWISE MUTUAL INFORMATION collocations: the top-20 adjacent
    token pairs whose co-occurrence most exceeds chance —
    ``pmi = ln(P(a,b) / (P(a)·P(b)))`` with a min-support floor
    (c_ab >= 5) so rare-pair noise can't dominate.  This is the
    collocation-mining step a tokenizer/vocab pipeline runs to decide
    which adjacent pairs deserve merged vocab entries, and the natural
    companion to `ngram_lm_bigram_probs` (conditional probabilities)
    and `tokenizer_bpe_train_merges` (frequency-greedy merges): PMI
    ranks by association strength, not raw frequency.

    Determinism across engines: the ORDER BY key is the ROUNDED pmi
    (4 dp) with a (w1, w2) lexical tiebreak in BOTH engines, so a
    1-ulp float difference in the unrounded ln() can never swap the
    top-20 cut.

    Scale (100 TB): bigram extraction is row-local (element_at over the
    token array, no self-join); unigram and bigram counts are
    map-side-combinable aggregates; the totals are two scalar
    broadcasts; the unigram joins hit the Heaps-bounded vocab (AQE
    broadcasts it); top-20 is TakeOrderedAndProject — no global
    sort materialization."""
    d = load(spark, sf_dir, "documents")
    toks = tokens()
    base = d.select("doc_id", toks.alias("t")).withColumn("n", F.size("t"))
    uni = (
        base.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = F.expr(
        "transform(sequence(1, n - 1), i ->"
        " struct(element_at(t, i) as w1, element_at(t, i + 1) as w2))"
    )
    bi = (
        base.filter(F.col("n") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    tot = uni.agg(F.sum("c").alias("n_uni")).crossJoin(
        # total bigram count must include sub-floor pairs, so recompute
        # from doc lengths: sum(max(n-1, 0)) — identical to the oracle's
        # SUM over the unfloored bi CTE.
        base.agg(
            F.sum(F.greatest(F.col("n") - 1, F.lit(0))).alias("n_bi")
        )
    )
    ua = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    pmi = F.log(
        (F.col("c_ab") * F.lit(1.0) / F.col("n_bi"))
        / (
            (F.col("c_a") * F.lit(1.0) / F.col("n_uni"))
            * (F.col("c_b") * F.lit(1.0) / F.col("n_uni"))
        )
    )
    return (
        bi.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c_ab", F.round(pmi, 4).alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


@register(
    "vocab_oov_rate",
    oracle="""
    WITH occ AS (
        SELECT doc_id, u.tok AS token
        FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ), LATERAL unnest(toks) AS u(tok)
    ),
    vocab AS (
        SELECT token FROM (
            SELECT token, COUNT(DISTINCT doc_id) AS df
            FROM occ GROUP BY token
            ORDER BY df DESC, token
            LIMIT 100
        )
    )
    SELECT o.doc_id,
           COUNT(*) AS n_toks,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           ROUND(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS oov_rate
    FROM occ o LEFT JOIN vocab v ON o.token = v.token
    GROUP BY o.doc_id
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUT-OF-VOCABULARY rate per document against a deterministic
    top-100-by-document-frequency vocabulary (ties broken by token
    text) — the tokenizer-health metric a corpus pipeline tracks: a
    rising OOV rate against a frozen vocab means the incoming data
    drifted away from what the tokenizer was built on.  Complements
    `token_count_bpe` (counts under a fixed tokenizer) and
    `vocab_top_tokens` (builds the ranking this op freezes).

    Scale (100 TB): document frequency is one map-side-combinable
    distinct-aggregate over the Heaps-bounded vocab; the top-100 cut is
    TakeOrderedAndProject; the per-doc membership test joins
    occurrences against a 100-row broadcast (never a shuffle); the
    final per-doc rollup is the one doc_id-keyed exchange."""
    d = load(spark, sf_dir, "documents")
    occ = d.select(
        "doc_id",
        F.explode(tokens()).alias("token"),
    )
    vocab = (
        occ.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("df"), "token")
        .limit(100)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        occ.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
                * F.lit(1.0)
                / F.count(F.lit(1)),
                4,
            ).alias("oov_rate"),
        )
    )


@register(
    "sample_reservoir_per_key",
    oracle="""
    SELECT user_id, event_id, rk FROM (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST('0x' || substr(
                       md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT),
                            event_id) AS rk
        FROM events
    ) WHERE rk <= 5
    """,
)
def sample_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-KEY BOUNDED UNIFORM SAMPLE — exactly min(5, n) events per
    user, chosen by ranking on a deterministic hash of the event id
    (portable md5 60-bit family, event_id tiebreak).  This is the
    scalable replacement for a classic streaming reservoir: because
    the hash rank is a pure function of the ROW, the selection is
    order-independent, idempotent across reruns/retries, and MERGEABLE
    — two partial top-5-by-hash sets union to the true top-5, which a
    sequential reservoir (state = seen-count) cannot do without
    coordination.  Complements `stratified_sample_exact` (exact
    per-stratum counts via full sort) and `sample_hash_bernoulli`
    (unbounded per-key output): this is the "at most k per key" cap a
    training-mix builder uses to stop heavy users dominating.

    Scale (100 TB): one shuffle on user_id; within each key the window
    keeps a running top-k — for skewed keys the same hash-rank
    semantics can be computed as a partial-aggregable min-k monoid
    (collect top-5 per partition, merge), so no key ever needs its
    full event list in one task."""
    ev = load(spark, sf_dir, "events")
    hrank = md5_int(F.col("event_id").cast("string"))
    w = Window.partitionBy("user_id").orderBy(hrank, "event_id")
    return (
        ev.select("user_id", "event_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 5)
    )


@register(
    "sample_weighted_priority",
    oracle="""
    WITH k AS (
        SELECT doc_id, n_chars,
               ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) + 1) / 1152921504606846976.0)
               / n_chars AS key
        FROM documents
        WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, ROUND(key, 8) AS priority_key
    FROM k
    ORDER BY ROUND(key, 8) DESC, doc_id
    LIMIT 50
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED PRIORITY SAMPLE (public Efraimidis–Spirakis A-ES): a
    weight-proportional sample of 50 docs (weight = n_chars) chosen by
    the largest ``u^(1/w)`` priority keys — equivalently the largest
    ``ln(u)/w`` — with u a deterministic hash-uniform in (0, 1]
    (portable md5 60-bit + 1, scaled by 2^60).  One pass, no global
    weight total needed, and the selection is a top-k MONOID: partial
    top-50 sets from independent shards merge to the true top-50,
    which is what makes weighted sampling feasible on a 1000-executor
    scan where a sequential weighted reservoir cannot be parallelized.
    Complements `sample_hash_bernoulli` (unweighted, unbounded),
    `sample_reservoir_per_key` (uniform per-key cap) and
    `mix_temperature_sampling` (source-level reweighting).

    Determinism across engines: ordering uses the ROUNDED key (8 dp)
    with a doc_id tiebreak in BOTH engines — rounded collisions
    resolve identically, and a 1-ulp ln() divergence would need to
    straddle a 0.5e-8 rounding boundary to matter (~1e-8 per key).

    Scale (100 TB): key computation is row-local in the scan
    projection; top-50 is TakeOrderedAndProject (per-partition heaps +
    a 50-row driver merge, no global sort)."""
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (md5_int(F.col("doc_id").cast("string")) + 1) / F.lit(
        1152921504606846976.0
    )
    key = F.round(F.log(u) / F.col("n_chars"), 8)
    return (
        d.select("doc_id", "n_chars", key.alias("priority_key"))
        .orderBy(F.desc("priority_key"), "doc_id")
        .limit(50)
    )


@register(
    "doc_length_log2_histogram",
    oracle="""
    WITH n AS (
        SELECT len(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS n_toks
        FROM documents
    ),
    b AS (
        SELECT CAST(floor(log2(n_toks)) AS BIGINT) AS bin, n_toks
        FROM n WHERE n_toks >= 1
    ),
    g AS (
        SELECT bin, COUNT(*) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS n_tokens
        FROM b GROUP BY bin
    )
    SELECT bin,
           CAST(2 ** bin AS BIGINT) AS lo_toks,
           CAST(2 ** (bin + 1) - 1 AS BIGINT) AS hi_toks,
           n_docs,
           n_tokens,
           ROUND(n_tokens * 1.0 / SUM(n_tokens) OVER (), 4) AS pct_tokens,
           ROUND(SUM(n_tokens) OVER (ORDER BY bin)
                     * 1.0 / SUM(n_tokens) OVER (), 4) AS cum_pct_tokens
    FROM g
    """,
)
def doc_length_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-LENGTH PLANNING HISTOGRAM: documents and tokens per
    power-of-two length bin, with each bin's share of the total token
    mass and the cumulative share below it — the distribution a
    training-data owner reads before choosing `pack_sequences_budget`'s
    context budget (what fraction of tokens lives in docs longer than
    the window and must be chunked by `doc_chunk_stride`?) and before
    sizing length-bucketed batch groups.

    floor(log2(n)) is exact in IEEE double for every bigint in range
    (powers of two are representable; non-powers cannot straddle an
    integer boundary), so the binning cannot diverge between engines.

    Scale (100 TB): token counts are row-local; one partial-aggregated
    groupBy to <= ~20 bins; the shares are windows over that tiny
    frame.  One scan, one exchange of a few dozen rows."""
    d = load(spark, sf_dir, "documents")
    n = d.select(
        F.size(tokens()).alias(
            "n_toks"
        )
    ).filter(F.col("n_toks") >= 1)
    g = (
        n.select(
            F.floor(F.log2("n_toks")).cast("bigint").alias("bin"), "n_toks"
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )
    )
    w_all = Window.partitionBy()
    w_cum = Window.orderBy("bin").rangeBetween(Window.unboundedPreceding, 0)
    return g.select(
        "bin",
        F.expr("shiftleft(1L, cast(bin as int))").alias("lo_toks"),
        F.expr("shiftleft(1L, cast(bin as int) + 1) - 1L").alias("hi_toks"),
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens") * F.lit(1.0) / F.sum("n_tokens").over(w_all), 4
        ).alias("pct_tokens"),
        F.round(
            F.sum("n_tokens").over(w_cum)
            * F.lit(1.0)
            / F.sum("n_tokens").over(w_all),
            4,
        ).alias("cum_pct_tokens"),
    )


@register(
    "mix_dedup_aware_weights",
    oracle="""
    WITH h AS (
        SELECT source, md5(text) AS th FROM documents
    ),
    per AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(COUNT(DISTINCT th) AS BIGINT) AS n_unique
        FROM h GROUP BY source
    )
    SELECT source, n_docs, n_unique,
           ROUND(1.0 - n_unique * 1.0 / n_docs, 4) AS dup_rate,
           ROUND(n_docs * 1.0 / SUM(n_docs) OVER (), 4) AS naive_share,
           ROUND(n_unique * 1.0 / SUM(n_unique) OVER (), 4)
               AS dedup_aware_weight,
           ROUND(n_unique * 1.0 / SUM(n_unique) OVER ()
                 - n_docs * 1.0 / SUM(n_docs) OVER (), 4) AS weight_shift
    FROM per
    """,
)
def mix_dedup_aware_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-AWARE SOURCE MIXING WEIGHTS: a source's sampling weight
    computed from its UNIQUE document mass (distinct exact-hash texts)
    instead of its raw row count — the correction `mix_weighted_sources`
    needs when sources carry very different duplication rates (a
    crawl-heavy source's raw size overstates its real contribution;
    weighting by raw counts over-samples its duplicates).  Emits per
    source the raw and unique counts, the dup rate, the naive share,
    the dedup-aware weight, and the shift between them — the number a
    data-mixture owner reviews before a training run.

    Scale (100 TB): distinct-per-source reduces to a (source, md5)
    partial-aggregated groupBy; the shares are windows over the ~|sources|
    row frame.  One scan, one data-sized exchange."""
    d = load(spark, sf_dir, "documents")
    per = (
        d.select("source", F.md5("text").alias("th"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("th").alias("n_unique"),
        )
    )
    w = Window.partitionBy()
    naive = F.col("n_docs") * F.lit(1.0) / F.sum("n_docs").over(w)
    aware = F.col("n_unique") * F.lit(1.0) / F.sum("n_unique").over(w)
    return per.select(
        "source",
        "n_docs",
        "n_unique",
        F.round(F.lit(1.0) - F.col("n_unique") * F.lit(1.0) / F.col("n_docs"), 4).alias("dup_rate"),
        F.round(naive, 4).alias("naive_share"),
        F.round(aware, 4).alias("dedup_aware_weight"),
        F.round(aware - naive, 4).alias("weight_shift"),
    )


@register(
    "tokenizer_unigram_seed_vocab",
    oracle="""
    WITH words AS (
        SELECT t AS word, COUNT(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        WHERE t <> ''
        GROUP BY t
    ),
    starts AS (
        SELECT word, freq, unnest(generate_series(1, length(word))) AS st
        FROM words
    ),
    grams AS (
        SELECT substr(word, st, l) AS gram, freq
        FROM starts CROSS JOIN (SELECT unnest([2, 3, 4]) AS l)
        WHERE st + l - 1 <= length(word)
    )
    SELECT gram,
           CAST(length(gram) AS INT) AS gram_len,
           CAST(SUM(freq) AS BIGINT) AS total_freq,
           CAST(SUM(freq) * length(gram) AS BIGINT) AS score
    FROM grams
    GROUP BY gram
    ORDER BY score DESC, gram ASC
    LIMIT 64
    """,
)
def tokenizer_unigram_seed_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIGRAM-LM TOKENIZER SEED VOCABULARY (the SentencePiece
    initialization): every character 2/3/4-gram occurrence inside every
    word, weighted by corpus word frequency, scored freq x len (longer
    substrings compress more per kept vocab slot), top-64 — the seed
    set a unigram-LM trainer prunes by EM, and the substring-frequency
    counterpart to the merge-based `tokenizer_bpe_train_merges` (BPE
    grows pairs bottom-up; unigram starts from frequent substrings and
    prunes).  (score DESC, gram ASC) is a total order, so the cut is
    engine-independent.

    Scale (100 TB): gram enumeration runs over the DISTINCT word
    vocabulary with its corpus frequency attached (the Heaps-bounded
    `_portable_minhash_df` move — never per occurrence); one
    partial-aggregated groupBy on the gram and a
    TakeOrderedAndProject(64) finish it."""
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(tokens()).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    grams = words.select(
        "freq",
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, length(word)), st -> "
                " filter(transform(array(2, 3, 4), l -> "
                "   case when st + l - 1 <= length(word)"
                "        then substring(word, st, l) end),"
                "   x -> x is not null)))"
            )
        ).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.sum("freq").alias("total_freq"),
            (F.sum("freq") * F.length(F.max("gram"))).alias("score"),
        )
        .select(
            "gram",
            F.length("gram").cast("int").alias("gram_len"),
            "total_freq",
            "score",
        )
        .orderBy(F.desc("score"), F.asc("gram"))
        .limit(64)
    )


@register(
    "sample_allocation_neyman",
    oracle="""
    WITH q AS (
        SELECT event_type,
               CAST(FLOOR(value * 1000000.0) AS BIGINT) AS vq
        FROM events
    ),
    per AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               SUM(CAST(vq AS HUGEINT)) AS s1,
               SUM(CAST(vq AS HUGEINT) * CAST(vq AS HUGEINT)) AS s2
        FROM q GROUP BY event_type
    ),
    m AS (
        SELECT event_type, n_rows,
               CAST(s1 AS DOUBLE) / n_rows / 1000000.0 AS mean,
               sqrt(greatest(CAST(s2 AS DOUBLE) / n_rows
                             - (CAST(s1 AS DOUBLE) / n_rows)
                               * (CAST(s1 AS DOUBLE) / n_rows), 0.0))
                   / 1000000.0 AS sd
        FROM per
    ),
    w AS (
        SELECT *, n_rows * CAST(FLOOR(sd * 1000000.0) AS BIGINT) AS wh
        FROM m
    )
    SELECT event_type, n_rows,
           ROUND(mean, 4) AS mean,
           ROUND(sd, 4) AS sd,
           ROUND(wh * 1.0 / SUM(wh) OVER (), 4) AS neyman_share,
           CAST(FLOOR(1000.0 * wh / SUM(wh) OVER ()) AS BIGINT) AS k_neyman,
           CAST(FLOOR(1000.0 * n_rows / SUM(n_rows) OVER ()) AS BIGINT)
               AS k_proportional
    FROM w
    """,
)
def sample_allocation_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN-OPTIMAL STRATIFIED SAMPLE ALLOCATION: for a budget of
    K=1000 sampled events stratified by event_type, the per-stratum
    allocation proportional to n_h·σ_h (minimum-variance allocation
    for estimating the overall mean) next to the naive proportional
    allocation — the planning query behind `stratified_sample_exact`:
    high-variance strata earn MORE than their row share, near-constant
    strata less, and the delta is exactly the sampling budget a
    variance-aware pipeline saves.

    Determinism: values quantize to int64 micro-units and the stratum
    moments are EXACT integer sums (decimal(38,0) — Σvq² overflows
    int64 at fixture scale already), so mean/σ are fixed-order double
    expressions; the allocation weights re-quantize σ to integer
    micro-units so the share denominator is an INTEGER sum — no
    partition-order float accumulation anywhere, and `floor` (not
    round-half) cuts the budget so no half-even/half-up divergence.

    Scale (100 TB): one partial-aggregated groupBy to |strata| rows;
    shares are windows over that tiny frame.  One scan."""
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("bigint").alias("vq"),
    )
    per = q.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("vq").cast("decimal(38,0)")).alias("s1"),
        F.sum(
            (F.col("vq").cast("decimal(38,0)") * F.col("vq")).cast(
                "decimal(38,0)"
            )
        ).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_rows") / F.lit(1000000.0)
    mu_q = F.col("s1").cast("double") / F.col("n_rows")
    sd = (
        F.sqrt(
            F.greatest(
                F.col("s2").cast("double") / F.col("n_rows") - mu_q * mu_q,
                F.lit(0.0),
            )
        )
        / F.lit(1000000.0)
    )
    w = per.select(
        "event_type",
        "n_rows",
        mean.alias("mean"),
        sd.alias("sd"),
        (
            F.col("n_rows")
            * F.floor(sd * F.lit(1000000.0)).cast("bigint")
        ).alias("wh"),
    )
    win = Window.partitionBy()
    share = F.col("wh") * F.lit(1.0) / F.sum("wh").over(win)
    prop = F.col("n_rows") * F.lit(1.0) / F.sum("n_rows").over(win)
    return w.select(
        "event_type",
        "n_rows",
        F.round("mean", 4).alias("mean"),
        F.round("sd", 4).alias("sd"),
        F.round(share, 4).alias("neyman_share"),
        F.floor(F.lit(1000.0) * share).cast("bigint").alias("k_neyman"),
        F.floor(F.lit(1000.0) * prop).cast("bigint").alias(
            "k_proportional"
        ),
    )


# --------------------------------------------- ngram_lm_kneser_ney

@register(
    "ngram_lm_kneser_ney",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents
    ),
    pos AS (
        SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
        FROM toks WHERE len(ts) >= 2
    ),
    bi AS (
        SELECT ts[i] AS w1, ts[i + 1] AS w2, COUNT(*) AS n_pair
        FROM pos GROUP BY 1, 2
    ),
    ctx AS (
        SELECT w1, SUM(n_pair) AS n_w1, COUNT(*) AS n1_fw
        FROM bi GROUP BY w1
    ),
    cont AS (SELECT w2, COUNT(*) AS n1_bw FROM bi GROUP BY w2),
    tot AS (SELECT COUNT(*) AS b_types FROM bi)
    SELECT bi.w1, bi.w2, bi.n_pair,
           ROUND(CAST(bi.n_pair AS DOUBLE) / ctx.n_w1, 6) AS p_mle,
           ROUND((CAST(bi.n_pair AS DOUBLE) - 0.75) / ctx.n_w1
                 + 0.75 * CAST(ctx.n1_fw AS DOUBLE) / ctx.n_w1
                   * (CAST(cont.n1_bw AS DOUBLE) / tot.b_types), 6) AS p_kn
    FROM bi
    JOIN ctx USING (w1)
    JOIN cont USING (w2)
    CROSS JOIN tot
    WHERE bi.n_pair >= 3
    """,
)
def ngram_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERPOLATED KNESER-NEY bigram probabilities (Kneser & Ney 1995,
    the smoothing that made n-gram LMs competitive and still the
    baseline perplexity scorer for corpus quality filtering):
    P_KN(w2|w1) = (c(w1,w2) − d)/c(w1·) + d·N1+(w1·)/c(w1·) · P_cont(w2)
    with discount d = 0.75 and the CONTINUATION probability
    P_cont(w2) = N1+(·w2)/|bigram types| — "how many contexts does w2
    complete", the correction that stops high-count-but-single-context
    words (the "San Francisco" effect) from stealing probability mass.
    Emitted beside the MLE so the smoothing delta is visible per
    bigram; support-filtered at n_pair ≥ 3 like `ngram_lm_bigram_probs`
    (this op's unsmoothed sibling).

    Determinism: every statistic is an integer count off ONE bigram
    count table (c, row-counts per w1, per w2, and the global type
    count); d = 0.75 is exactly representable, so p_kn is a fixed-order
    double expression over exact integers — identical in both engines.

    Scale (100 TB): bigram extraction is row-local; counts collapse
    map-side to |bigram vocab| (Heaps-bounded); BOTH marginal tables
    and the type total derive from the already-aggregated bigram table
    (no second corpus pass); the w1 join is co-partitioned with the
    bigram shuffle and the w2 join moves only the vocab-sized tables;
    the 1-row type total broadcasts."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        tokens().alias("ts")
    ).filter(F.size("ts") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ts) - 1),"
                " i -> struct(ts[i - 1] AS w1, ts[i] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bi = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    ctx = bi.groupBy("w1").agg(
        F.sum("n_pair").alias("n_w1"), F.count(F.lit(1)).alias("n1_fw")
    )
    cont = bi.groupBy("w2").agg(F.count(F.lit(1)).alias("n1_bw"))
    tot = bi.agg(F.count(F.lit(1)).alias("b_types"))
    p_mle = F.col("n_pair").cast("double") / F.col("n_w1")
    p_kn = (
        (F.col("n_pair").cast("double") - F.lit(0.75)) / F.col("n_w1")
        + F.lit(0.75)
        * F.col("n1_fw").cast("double")
        / F.col("n_w1")
        * (F.col("n1_bw").cast("double") / F.col("b_types"))
    )
    return (
        bi.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n_pair") >= 3)
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(p_mle, 6).alias("p_mle"),
            F.round(p_kn, 6).alias("p_kn"),
        )
    )


# ------------------------------------------- pareto_skyline_quality_cost

@register(
    "pareto_skyline_quality_cost",
    oracle="""
    WITH m AS (
        SELECT doc_id, source,
               len(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS n_toks,
               len(list_distinct(list_filter(string_split(text, ' '),
                   t -> t <> ''))) AS n_distinct
        FROM documents
    ),
    q AS (
        SELECT doc_id, source, n_toks,
               (1000000 * n_distinct) // n_toks AS uniq_ppm
        FROM m WHERE n_toks >= 1
    ),
    w AS (
        SELECT doc_id, source, n_toks, uniq_ppm,
               MAX(uniq_ppm) OVER (ORDER BY n_toks
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS m_lt,
               MAX(uniq_ppm) OVER (PARTITION BY n_toks) AS m_eq
        FROM q
    )
    SELECT doc_id, source, n_toks, uniq_ppm
    FROM w
    WHERE uniq_ppm = m_eq AND (m_lt IS NULL OR uniq_ppm > m_lt)
    """,
)
def pareto_skyline_quality_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto frontier) of documents on (quality UP, token cost
    DOWN) — the selection question a budget-constrained curator actually
    asks: which docs are not strictly beaten by a doc that is both
    higher-quality AND cheaper?  Quality proxy = unique-token ratio in
    exact parts-per-million; cost = whitespace token count.  Dominance
    is the standard skyline definition (≥ on both axes, > on at least
    one), so duplicate (cost, quality) points are BOTH on the frontier.

    The 2-D skyline needs no pairwise join: sort by cost, then a point
    is on the frontier iff its quality (a) exceeds the running max over
    all STRICTLY cheaper points and (b) equals the max within its own
    cost — two window functions replace the O(n²) NOT-EXISTS self-join.

    Determinism: quality is integer floor-division ppm (exact in both
    engines); no doubles anywhere.

    Scale (100 TB): a naive global-order window is one partition.  This
    op runs the same two windows FIRST inside 64 hash groups (map-side
    skyline prune — a locally dominated point cannot be globally
    non-dominated, so the prune is lossless), then globally over the
    survivors, whose count is bounded by 64 × |frontier of a group| —
    frontier sizes are ~log n for independent dimensions, so the global
    pass sees a vanishing fraction of the corpus."""
    d = load(spark, sf_dir, "documents")
    toks = tokens()
    q = d.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_toks"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    ).filter(F.col("n_toks") >= 1)
    q = q.select(
        "doc_id",
        "source",
        "n_toks",
        F.expr("(1000000 * n_distinct) div n_toks").alias("uniq_ppm"),
    )

    def skyline(df: DataFrame, *group: str) -> DataFrame:
        w_lt = (
            Window.partitionBy(*group)
            .orderBy("n_toks")
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        w_eq = Window.partitionBy(*group, "n_toks")
        return (
            df.withColumn("m_lt", F.max("uniq_ppm").over(w_lt))
            .withColumn("m_eq", F.max("uniq_ppm").over(w_eq))
            .filter(
                (F.col("uniq_ppm") == F.col("m_eq"))
                & (
                    F.col("m_lt").isNull()
                    | (F.col("uniq_ppm") > F.col("m_lt"))
                )
            )
            .drop("m_lt", "m_eq")
        )

    local = skyline(q.withColumn("g", F.pmod("doc_id", F.lit(64))), "g")
    return skyline(local.drop("g"))


# ------------------------------------------- curriculum_interleave_order

@register(
    "curriculum_interleave_order",
    oracle="""
    WITH m AS (
        SELECT doc_id, source,
               len(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS n_toks,
               len(list_distinct(list_filter(string_split(text, ' '),
                   t -> t <> ''))) AS n_distinct
        FROM documents
    ),
    q AS (
        SELECT doc_id, source,
               (1000000 * n_distinct) // n_toks AS uniq_ppm
        FROM m WHERE n_toks >= 1
    ),
    r AS (
        SELECT doc_id, source, uniq_ppm,
               ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY uniq_ppm DESC, doc_id) AS rn
        FROM q
    ),
    top AS (SELECT * FROM r WHERE rn <= 25)
    SELECT ROW_NUMBER() OVER (ORDER BY rn, source, doc_id) AS pos,
           doc_id, source, rn, uniq_ppm
    FROM top
    """,
)
def curriculum_interleave_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM INTERLEAVE: emit the training order a quality-first,
    source-balanced dataloader would consume — each source's docs are
    ranked by quality (unique-token ppm, tiebreak doc_id), then ranks
    are interleaved round-robin across sources so the stream opens with
    every source's best doc instead of draining the best SOURCE first.
    Top 25 per source; `pos` is the global curriculum position.

    Determinism: integer quality + total ORDER BY (rn, source, doc_id)
    — every window has a unique sort key (SURVEY §7.4 tiebreak rule).

    Scale (100 TB): the per-source ranking window is partitioned by
    source (distributed; a skewed source is one sorted partition, and
    rank-25 truncation is a running top-k, not a full sort in theory —
    Spark's window sorts the partition, which is the price of rank).
    The GLOBAL position window runs only on the 25 × |sources| slice,
    so the single-partition global sort is bounded, not corpus-sized."""
    d = load(spark, sf_dir, "documents")
    toks = tokens()
    q = (
        d.select(
            "doc_id",
            "source",
            F.size(toks).alias("n_toks"),
            F.size(F.array_distinct(toks)).alias("n_distinct"),
        )
        .filter(F.col("n_toks") >= 1)
        .select(
            "doc_id",
            "source",
            F.expr("(1000000 * n_distinct) div n_toks").alias("uniq_ppm"),
        )
    )
    w_src = Window.partitionBy("source").orderBy(
        F.col("uniq_ppm").desc(), "doc_id"
    )
    top = q.withColumn("rn", F.row_number().over(w_src)).filter(
        F.col("rn") <= 25
    )
    w_pos = Window.orderBy("rn", "source", "doc_id")
    return top.select(
        F.row_number().over(w_pos).alias("pos"),
        "doc_id",
        "source",
        "rn",
        "uniq_ppm",
    )


# ---------------------------------------------- token_budget_epoch_plan

@register(
    "token_budget_epoch_plan",
    oracle="""
    WITH c AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(len(list_filter(string_split(text, ' '),
                   t -> t <> ''))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    t AS (
        SELECT SUM(n_tokens) AS total, SUM(sqrt(n_tokens)) AS z FROM c
    )
    SELECT source, n_docs, n_tokens,
           ROUND(n_tokens * 1.0 / t.total, 4) AS share_raw,
           ROUND(sqrt(n_tokens) / t.z, 4) AS share_target,
           ROUND((sqrt(n_tokens) / t.z) * 4.0 * t.total / n_tokens, 4)
               AS epochs,
           ROUND((sqrt(n_tokens) / t.z) * 4.0 * t.total / n_tokens, 4)
               > 1.0 AS oversampled
    FROM c CROSS JOIN t
    """,
)
def token_budget_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET EPOCH PLAN: given a training budget of 4× the corpus
    token count and temperature-flattened target shares (α = 0.5, the
    `mix_temperature_sampling` weighting), compute per source the epoch
    (repeat) factor a dataloader must apply: epochs_s = B·w_s /
    tokens_s.  This is the static plan behind "repeat small
    high-quality sources, subsample the head crawl" — the op that turns
    a mixture POLICY into per-source dataloader repeat factors, with
    the oversampled flag marking sources that will be seen more than
    once per run.

    Determinism: token counts are exact integers; sqrt is one
    correctly-rounded IEEE op; the |sources|-row scalar sums land
    behind ROUND(·,4), and the flag compares the ROUNDED value so it
    cannot diverge when the rounds agree (repo float recipe §7.4).

    Scale (100 TB): token counting is row-local and the groupBy
    collapses map-side to |sources| rows; the budget scalars are one
    broadcast row.  The corpus is read exactly once."""
    d = load(spark, sf_dir, "documents")
    toks = tokens()
    # lineage cut: the |sources|-row count frame feeds BOTH the output
    # and the budget scalars — without the checkpoint Catalyst re-derives
    # it from the corpus in each branch (two full scans for one table)
    c = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).cast("bigint").alias("n_tokens"),
    ).localCheckpoint()
    t = c.agg(
        F.sum("n_tokens").alias("total"),
        F.sum(F.sqrt("n_tokens")).alias("z"),
    )
    share_raw = F.col("n_tokens") * F.lit(1.0) / F.col("total")
    share_target = F.sqrt("n_tokens") / F.col("z")
    epochs = F.round(
        share_target * F.lit(4.0) * F.col("total") / F.col("n_tokens"), 4
    )
    return c.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(share_raw, 4).alias("share_raw"),
        F.round(share_target, 4).alias("share_target"),
        epochs.alias("epochs"),
        (epochs > F.lit(1.0)).alias("oversampled"),
    )


# ------------------------------------------------- bm25_top_terms_source

@register(
    "bm25_top_terms_source",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(list_filter(string_split(text, ' '), t -> t <> ''))
                   AS token
        FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
        SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, source, token, COUNT(*) AS tf
        FROM toks GROUP BY 1, 2, 3
    ),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    scored AS (
        SELECT tf.source, tf.token,
               SUM(CAST(FLOOR(
                   ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
                   * 100000000.0) AS BIGINT)) AS bm25_scaled,
               COUNT(*) AS n_docs_term
        FROM tf
        JOIN df USING (token)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
        GROUP BY tf.source, tf.token
    )
    SELECT source, token,
           ROUND(bm25_scaled / 100000000.0, 4) AS bm25, n_docs_term, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY bm25_scaled DESC, token) AS rn
          FROM scored) t
    WHERE rn <= 10
    """,
)
def bm25_top_terms_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TERM SALIENCE per source (Robertson-Sparck Jones, the
    Okapi BM25 weighting; k1 = 1.2, b = 0.75, Lucene's ln(1 + (N-df
    +0.5)/(df+0.5)) idf): top-10 terms per source by summed BM25 mass
    — what distinguishes a source's vocabulary once term frequency is
    saturation-damped and length-normalized, the upgrade over raw
    `tfidf_top_terms` (linear tf, no doc-length correction) for
    source-profiling and retrieval-based decontamination queries.

    Determinism: HARDER than tfidf_top_terms's recipe — the
    per-(doc,term) score is one fixed-order double expression over
    exact integer tf/df/dl stats (constants 2.2 = k1+1, 0.25 = 1-b
    exactly representable), then QUANTIZED to floor(x·10⁸) int64
    BEFORE the cross-doc sum, so the (source, term) aggregation is
    exact integer addition — order-independent at any group size —
    and ranks order by the integer with a token tiebreak.

    Scale (100 TB): tf/df/dl are map-side-combinable token rollups;
    the df join moves vocabulary-sized tables, the dl join is keyed by
    doc on the already-aggregated tf table, the 1-row corpus stats
    broadcast, and top-10-per-source is a bounded window — no global
    sort, no corpus re-scan (tf feeds everything)."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.explode(tokens()).alias(
            "token"
        ),
    )
    tf = toks.groupBy("doc_id", "source", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # Materialize tf once: it feeds THREE consumers (dl, df, scored) and
    # without the cut the corpus scan + explode + (doc,token) aggregate
    # re-derive for each (interleaved A/B e2e min-of-5:
    # sf0.1 1.38->1.18 s, sf1 10.03->7.13 s).  |distinct(doc,token)|
    # rows — the postings table a real engine stores anyway.
    # Storage level stays the default: DISK_ONLY here costs +37–39%
    # executor CPU at sf0.1 AND sf1 (interleaved A/B: sf1 cpu 29.0→39.7 s,
    # wall 10.2→11.4 s) because tf is read by THREE consumers and the
    # serialize/deserialize round trip taxes every read; MEMORY_AND_DISK
    # eviction keeps the heap bounded under pressure, and the 100 TB-safe
    # form for a postings table this hot is partitioned parquet staging
    # (the funnel's instrument), not a slower block level. eager=False:
    # dl's eager checkpoint job right below aggregates over every tf
    # partition, so the lazy tf checkpoint materializes inside that job —
    # the postings lineage runs once, storing tf blocks and dl in the same
    # pass (the former eager form paid a separate tf job plus a cached
    # re-read for dl).
    tf = tf.localCheckpoint(eager=False)
    # doc lengths + corpus stats derive from tf, not a second corpus pass
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")).localCheckpoint()
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    # df = plain COUNT, not COUNT(DISTINCT doc_id):
    # tf is KEYED by (doc_id, source, token) with source functionally
    # dependent on doc_id (both project from one documents row, doc_id
    # is the fixture PK), so (doc_id, token) is unique and the two are
    # provably equal — but count_distinct plans an extra full
    # (token, doc_id)-keyed aggregation pass over the postings.
    # Interleaved A/B at sf1-zipf (2M postings): executor CPU
    # 24.0→20.1 s (−16%), wall 6.3→5.7 s, identical 200 rows;
    # hash-green at sf0.01.
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    score = (
        idf
        * F.col("tf")
        * F.lit(2.2)
        / (
            F.col("tf")
            + F.lit(1.2)
            * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(df, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("source", "token")
        .agg(
            # quantize the per-(doc,term) double BEFORE summing: the
            # per-row expression is fixed-order (identical in both
            # engines), so its floor(x*1e8) int64 sums exactly and
            # order-independently — no cross-row double accumulation
            F.sum(F.floor(score * F.lit(100000000.0)).cast("bigint")).alias(
                "bm25_scaled"
            ),
            F.count(F.lit(1)).alias("n_docs_term"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("bm25_scaled"), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select(
            "source",
            "token",
            F.round(F.col("bm25_scaled") / F.lit(100000000.0), 4).alias(
                "bm25"
            ),
            "n_docs_term",
            "rn",
        )
    )


# ---------------------------------------------------- keyphrase_rake_top

#: RAKE stopword set — the phrase delimiters (kept tiny and fixed so
#: the oracle can inline the same list).
_RAKE_STOPS = (
    "the", "a", "of", "to", "in", "and", "is", "for", "on", "with",
)


@register(
    "keyphrase_rake_top",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), t -> t <> '') AS ws
        FROM documents
    ),
    pos AS (
        SELECT doc_id, source, ws,
               unnest(generate_series(1, len(ws))) AS i
        FROM toks WHERE len(ws) >= 1
    ),
    words AS (
        SELECT doc_id, source, ws[i] AS w, i,
               ws[i] IN {_RAKE_STOPS!r} AS is_stop
        FROM pos
    ),
    marked AS (
        SELECT doc_id, source, w, i,
               SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY i) AS pid,
               is_stop
        FROM words
    ),
    occ AS (
        SELECT doc_id, source, pid, i, w FROM marked WHERE NOT is_stop
    ),
    phrases AS (
        SELECT doc_id, source, pid,
               string_agg(w, ' ' ORDER BY i) AS phrase,
               CAST(COUNT(*) AS BIGINT) AS plen
        FROM occ GROUP BY doc_id, source, pid
    ),
    wstats AS (
        SELECT o.w,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(p.plen) AS BIGINT) AS degree
        FROM occ o JOIN phrases p USING (doc_id, pid)
        GROUP BY o.w
    ),
    scored AS (
        SELECT o.doc_id, o.source, o.pid,
               CAST(SUM(CAST(FLOOR(ws.degree * 100000000.0 / ws.freq)
                    AS BIGINT)) AS BIGINT) AS score_scaled
        FROM occ o JOIN wstats ws ON ws.w = o.w
        GROUP BY o.doc_id, o.source, o.pid
    ),
    uniq AS (
        SELECT p.source, p.phrase,
               CAST(COUNT(*) AS BIGINT) AS n_occur,
               MAX(s.score_scaled) AS score_scaled,
               MAX(p.plen) AS plen
        FROM phrases p JOIN scored s USING (doc_id, pid)
        WHERE p.plen >= 2
        GROUP BY p.source, p.phrase
    )
    SELECT source, phrase, plen, n_occur,
           ROUND(score_scaled / 100000000.0, 4) AS rake_score, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY score_scaled DESC, phrase) AS rn
          FROM uniq) t
    WHERE rn <= 5
    """,
)
def keyphrase_rake_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010, Rapid Automatic
    Keyword Extraction): split each doc into candidate phrases at
    stopword boundaries, score each word by degree(w)/freq(w) (degree
    = summed length of the phrases it appears in — rewards words that
    co-occur inside longer phrases), score a phrase by the sum of its
    member word scores, and emit the top-5 multi-word phrases per
    source — the document-collection keyphrase profile beside
    `bm25_top_terms_source` (single tokens) and `pmi_collocations`
    (bigram association).

    Determinism: freq/degree are exact integers; each word score is
    quantized floor(1e8·degree/freq) BEFORE phrase summation (the BM25
    move), phrase strings are built with an explicit ORDER BY position
    inside the aggregation, and ranks tiebreak on the phrase.

    Scale (100 TB): phrase segmentation is a per-doc window over word
    positions (partitioned by doc — fully distributed), and the corpus
    is read ONCE: the phrase table (with its ordered word arrays) is
    checkpointed and every later stage — vocab-collapsed word stats,
    the vocab-keyed score join, the unique-phrase rollup and the
    bounded top-5 window — derives from it (plan contract: 0 parquet
    scans in the tail).  No corpus-wide sort, no pair blowup."""
    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        "source",
        F.posexplode(tokens()).alias("i", "w"),
    ).withColumn("is_stop", F.col("w").isin(*_RAKE_STOPS))
    w_pid = Window.partitionBy("doc_id").orderBy("i")
    occ = (
        words.withColumn(
            "pid", F.sum(F.col("is_stop").cast("int")).over(w_pid)
        )
        .filter(~F.col("is_stop"))
        .select("doc_id", "source", "pid", "i", "w")
    )
    # ONE corpus pass builds the phrase table (words kept as an ordered
    # array); the checkpoint lets word stats, scores and the final
    # rollup all derive from this much smaller frame instead of
    # re-deriving the corpus-sized occurrence lineage per branch
    phrases = (
        occ.groupBy("doc_id", "source", "pid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "w"))),
                lambda s: s.w,
            ).alias("ws_arr"),
            F.count(F.lit(1)).alias("plen"),
        )
        .withColumn("phrase", F.array_join("ws_arr", " "))
        .localCheckpoint()
    )
    exploded = phrases.select(
        "doc_id", "pid", "plen", F.explode("ws_arr").alias("w")
    )
    wstats = exploded.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("degree"),
    )
    sq = F.floor(
        F.col("degree") * F.lit(100000000.0) / F.col("freq")
    ).cast("bigint")
    scored = (
        exploded.join(wstats, "w")
        .groupBy("doc_id", "pid")
        .agg(F.sum(sq).alias("score_scaled"))
    )
    uniq = (
        phrases.filter(F.col("plen") >= 2)
        .join(scored, ["doc_id", "pid"])
        .groupBy("source", "phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occur"),
            F.max("score_scaled").alias("score_scaled"),
            F.max("plen").alias("plen"),
        )
    )
    w_rnk = Window.partitionBy("source").orderBy(
        F.desc("score_scaled"), "phrase"
    )
    return (
        uniq.withColumn("rn", F.row_number().over(w_rnk))
        .filter(F.col("rn") <= 5)
        .select(
            "source",
            "phrase",
            "plen",
            "n_occur",
            F.round(F.col("score_scaled") / F.lit(100000000.0), 4).alias(
                "rake_score"
            ),
            "rn",
        )
    )


# ------------------------------------------------------ pmi_skip_bigrams

@register(
    "pmi_skip_bigrams",
    oracle="""
    WITH toks AS (
        SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents
    ),
    pos AS (
        SELECT ts, unnest(generate_series(3, len(ts))) AS i
        FROM toks WHERE len(ts) >= 3
    ),
    pairs AS (
        SELECT ts[i - 2] AS w1, ts[i] AS w2, COUNT(*) AS n_pair
        FROM pos GROUP BY 1, 2
    ),
    l AS (SELECT w1, SUM(n_pair) AS n_l FROM pairs GROUP BY w1),
    r AS (SELECT w2, SUM(n_pair) AS n_r FROM pairs GROUP BY w2),
    tot AS (SELECT SUM(n_pair) AS n FROM pairs),
    scored AS (
        SELECT p.w1, p.w2, p.n_pair,
               ROUND(ln(CAST(tot.n AS DOUBLE) * p.n_pair
                        / (l.n_l * CAST(r.n_r AS DOUBLE))), 4) AS pmi
        FROM pairs p
        JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tot
        WHERE p.n_pair >= 5
    )
    SELECT w1, w2, n_pair, pmi, rn
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS rn
          FROM scored) t
    WHERE rn <= 20
    """,
)
def pmi_skip_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKIP-BIGRAM PMI — pointwise mutual information of token pairs
    at distance EXACTLY 2 (one token skipped): the non-adjacent
    association `pmi_collocations` (adjacent bigrams) cannot see —
    "either _ or", "from _ to" templates, and the word2vec-window
    co-occurrence signal.  Top-20 pairs with support ≥ 5.

    Determinism: counts exact; PMI is one fixed-order double
    expression ROUNDED BEFORE ranking (the pmi_collocations trick —
    a 1-ulp ln() difference cannot reorder the cut), tiebreak
    (w1, w2).

    Scale (100 TB): skip-pair extraction is row-local; the pair table
    is Heaps-bounded (vocab²-capped but support-filtered); marginals
    derive from the aggregated pair table — no second corpus pass —
    and the 1-row total broadcasts."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        tokens().alias("ts")
    ).filter(F.size("ts") >= 3)
    pairs = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(2, size(ts) - 1),"
                    " i -> struct(ts[i - 2] AS w1, ts[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    lm = pairs.groupBy("w1").agg(F.sum("n_pair").alias("n_l"))
    rm = pairs.groupBy("w2").agg(F.sum("n_pair").alias("n_r"))
    tot = pairs.agg(F.sum("n_pair").alias("n"))
    pmi = F.round(
        F.log(
            F.col("n").cast("double")
            * F.col("n_pair")
            / (F.col("n_l") * F.col("n_r").cast("double"))
        ),
        4,
    )
    scored = (
        pairs.join(lm, "w1")
        .join(rm, "w2")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n_pair") >= 5)
        .select("w1", "w2", "n_pair", pmi.alias("pmi"))
    )
    w_rnk = Window.orderBy(F.desc("pmi"), "w1", "w2")
    return (
        scored.withColumn("rn", F.row_number().over(w_rnk))
        .filter(F.col("rn") <= 20)
    )


# ------------------------------------------- quantile_normalize_by_type

@register(
    "quantile_normalize_by_type",
    oracle="""
    WITH v AS (
        SELECT event_type AS src,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c,
               event_id
        FROM events
    ),
    pooled AS (
        SELECT v_c, ROW_NUMBER() OVER (ORDER BY v_c, event_id) AS r
        FROM v
    ),
    n_all AS (SELECT COUNT(*) AS n FROM v),
    per AS (
        SELECT src, v_c,
               ROW_NUMBER() OVER (PARTITION BY src
                   ORDER BY v_c, event_id) AS r,
               COUNT(*) OVER (PARTITION BY src) AS n
        FROM v
    ),
    mapped AS (
        SELECT per.src, per.v_c,
               ((per.r - 1) * 10) // per.n + 1 AS decile,
               ((2 * per.r - 1) * n_all.n + per.n) // (2 * per.n) AS tgt
        FROM per CROSS JOIN n_all
    ),
    norm AS (
        SELECT m.src, m.decile, m.v_c, p.v_c AS nv_c
        FROM mapped m JOIN pooled p ON p.r = m.tgt
    )
    SELECT src, decile,
           ROUND(AVG(v_c) / 100.0, 2) AS raw_mean,
           ROUND(AVG(nv_c) / 100.0, 2) AS norm_mean,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM norm GROUP BY src, decile
    """,
)
def quantile_normalize_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE NORMALIZATION across sources (the bioinformatics /
    feature-prep transform): each source's value distribution is
    mapped ONTO the pooled reference distribution by rank — the r-th
    of n values in a source becomes the pooled value at position
    round(((r-1/2)/n)·N), so after the transform every source has the
    SAME distribution and only the ordering information survives.
    Emitted as a per-(source, decile) before/after mean table — the
    aligned norm_mean columns across sources are the proof the
    transform worked.

    The interesting part at scale is the GLOBAL rank: a naive
    ROW_NUMBER() OVER (ORDER BY v) is a single-partition window over
    the corpus.  Here every rank — pooled AND per-source — is computed
    DISTRIBUTED via bucket-prefix decomposition: bucket counts
    collapse map-side to a tiny frame, a cumulative window over THAT
    frame yields each bucket's global offset, and row_number runs
    partitioned BY BUCKET — global total order, no global window.
    Deciles come from the rank arithmetically (((r-1)·10) div n + 1),
    avoiding NTILE's engine-specific remainder placement.

    Determinism: values as exact cents; ranks are integers under a
    total (v, event_id) order; the mapping index is integer floor
    arithmetic; means divide exact integer sums behind ROUND(·,2).

    Scale (100 TB): two bucket-keyed shuffles (pooled + per-source
    ranks), one rank-keyed join against the pooled table, map-side
    decile rollup.  Nothing single-partition anywhere."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        F.col("event_type").alias("src"),
        (dec("value") * 100).cast("bigint").alias("v_c"),
        "event_id",
    )
    bkt = F.expr("v_c div 65536")

    def global_rank(df: DataFrame, *part: str) -> DataFrame:
        """row_number over (*part) ordered by (v_c, event_id), computed
        without a single-partition window: per-bucket offsets from a
        tiny cumulative frame + within-bucket row_number."""
        d = df.withColumn("bkt", bkt)
        counts = d.groupBy(*part, "bkt").agg(F.count(F.lit(1)).alias("c"))
        w_off = (
            Window.partitionBy(*part)
            .orderBy("bkt")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offs = counts.select(
            *part,
            "bkt",
            F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("off"),
        )
        w_in = Window.partitionBy(*part, "bkt").orderBy("v_c", "event_id")
        return d.join(offs, [*part, "bkt"]).withColumn(
            "r", F.col("off") + F.row_number().over(w_in)
        )

    pooled = global_rank(v.select("v_c", "event_id")).select(
        F.col("v_c").alias("nv_c"), F.col("r").alias("tgt")
    )
    n_all = v.agg(F.count(F.lit(1)).alias("n_pool"))
    per_n = v.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    per = (
        global_rank(v, "src")
        .join(F.broadcast(per_n), "src")
        .crossJoin(F.broadcast(n_all))
        .select(
            "src",
            "v_c",
            (F.expr("((r - 1) * 10) div n") + 1).alias("decile"),
            F.expr("((2 * r - 1) * n_pool + n) div (2 * n)").alias("tgt"),
        )
    )
    norm = per.join(pooled, "tgt")
    return norm.groupBy("src", "decile").agg(
        F.round(F.avg("v_c") / F.lit(100.0), 2).alias("raw_mean"),
        F.round(F.avg("nv_c") / F.lit(100.0), 2).alias("norm_mean"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------- fim_split_plan

@register(
    "fim_split_plan",
    oracle="""
    WITH elig AS (
        SELECT doc_id, source, n_chars,
               CAST(concat('0x', substr(md5('fimc:' || doc_id), 1, 15))
                    AS BIGINT) % 2 AS fim_coin,
               CAST(concat('0x', substr(md5('fim1:' || doc_id), 1, 15))
                    AS BIGINT) % 1000 AS h1,
               CAST(concat('0x', substr(md5('fim2:' || doc_id), 1, 15))
                    AS BIGINT) % 1000 AS h2
        FROM documents WHERE n_chars >= 32
    ),
    split AS (
        SELECT source, fim_coin,
               CAST(FLOOR(CAST(n_chars * LEAST(h1, h2) AS DOUBLE)
                          / 1000.0) AS BIGINT) AS p1,
               CAST(FLOOR(CAST(n_chars * GREATEST(h1, h2) AS DOUBLE)
                          / 1000.0) AS BIGINT) AS p2,
               n_chars
        FROM elig
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN fim_coin = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fim,
           CAST(SUM(CASE WHEN fim_coin = 0 THEN p1 ELSE 0 END) AS BIGINT)
               AS sum_prefix,
           CAST(SUM(CASE WHEN fim_coin = 0 THEN p2 - p1 ELSE 0 END)
                AS BIGINT) AS sum_middle,
           CAST(SUM(CASE WHEN fim_coin = 0 THEN n_chars - p2 ELSE 0 END)
                AS BIGINT) AS sum_suffix,
           ROUND(SUM(CASE WHEN fim_coin = 0 THEN p2 - p1 ELSE 0 END)
                 * 1.0
                 / SUM(CASE WHEN fim_coin = 0 THEN n_chars ELSE 0 END),
                 4) AS middle_share
    FROM split GROUP BY source
    """,
)
def fim_split_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILL-IN-THE-MIDDLE SPLIT PLANNING: for each eligible document
    (>= 32 chars), a deterministic coin selects ~50% for FIM
    transformation and two hash fractions place the prefix|middle|
    suffix cut points — the preprocessing plan behind FIM training
    objectives (Bayer et al.-style infilling), emitted as per-source
    length budgets so the tokenizer stage can pre-size its batches.
    The split is PLANNED (offsets + audit), not materialized — at
    100 TB you write offsets, not three copies of the corpus.

    Determinism: both the selection coin and the cut fractions come
    from the salted md5 family (`fimc:`/`fim1:`/`fim2:` — decorrelated
    from every other md5 use), so the plan is engine-exact and
    re-runnable; cut points are exact integer floors; all sums exact.

    Scale (100 TB): entirely row-local until the per-source rollup —
    one map-side-combinable shuffle of |sources| rows."""
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") >= 32)

    def coin(salt: str, mod: int) -> F.Column:
        return F.pmod(
            md5_int(F.concat(F.lit(salt + ":"), F.col("doc_id"))), F.lit(mod)
        )

    elig = d.select(
        "source",
        "n_chars",
        coin("fimc", 2).alias("fim_coin"),
        coin("fim1", 1000).alias("h1"),
        coin("fim2", 1000).alias("h2"),
    )
    split = elig.select(
        "source",
        "fim_coin",
        "n_chars",
        F.floor(
            (F.col("n_chars") * F.least("h1", "h2")).cast("double")
            / F.lit(1000.0)
        )
        .cast("bigint")
        .alias("p1"),
        F.floor(
            (F.col("n_chars") * F.greatest("h1", "h2")).cast("double")
            / F.lit(1000.0)
        )
        .cast("bigint")
        .alias("p2"),
    )
    is_fim = F.col("fim_coin") == 0
    return split.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(is_fim, 1).otherwise(0)).cast("bigint").alias("n_fim"),
        F.sum(F.when(is_fim, F.col("p1")).otherwise(0))
        .cast("bigint")
        .alias("sum_prefix"),
        F.sum(F.when(is_fim, F.col("p2") - F.col("p1")).otherwise(0))
        .cast("bigint")
        .alias("sum_middle"),
        F.sum(F.when(is_fim, F.col("n_chars") - F.col("p2")).otherwise(0))
        .cast("bigint")
        .alias("sum_suffix"),
        F.round(
            F.sum(F.when(is_fim, F.col("p2") - F.col("p1")).otherwise(0))
            * F.lit(1.0)
            / F.sum(F.when(is_fim, F.col("n_chars")).otherwise(0)),
            4,
        ).alias("middle_share"),
    )


# ----------------------------------------------- ngram_lm_witten_bell

@register(
    "ngram_lm_witten_bell",
    oracle="""
    WITH toks AS (
        SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents
    ),
    pairs AS (
        SELECT ts[i] AS w1, ts[i + 1] AS w2
        FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i
              FROM toks WHERE len(ts) >= 2)
    ),
    bi AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair
        FROM pairs GROUP BY w1, w2
    ),
    lhs AS (
        SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS t1
        FROM bi GROUP BY w1
    ),
    uni AS (
        SELECT w2, CAST(SUM(n_pair) AS BIGINT) AS c2 FROM bi GROUP BY w2
    ),
    tot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS nn FROM bi)
    SELECT bi.w1, bi.w2, bi.n_pair, lhs.t1,
           ROUND((bi.n_pair + lhs.t1 * (CAST(uni.c2 AS DOUBLE) / tot.nn))
                 / (lhs.c1 + lhs.t1), 6) AS p_wb
    FROM bi
    JOIN lhs ON bi.w1 = lhs.w1
    JOIN uni ON bi.w2 = uni.w2
    CROSS JOIN tot
    WHERE bi.n_pair >= 3
    """,
)
def ngram_lm_witten_bell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITTEN-BELL INTERPOLATED BIGRAM LM: P(w2|w1) = (c(w1,w2) +
    T(w1) * P_uni(w2)) / (c(w1) + T(w1)), where T(w1) is the number
    of distinct continuation types after w1 — the third smoothing
    family next to `ngram_lm_bigram_probs` (unsmoothed MLE) and
    `ngram_lm_kneser_ney` (absolute discounting): WB backs off
    exactly as much probability as the type/token ratio says the
    context is productive, the standard choice when the corpus is
    small relative to the vocabulary.  Same tokenization and the same
    support >= 3 reporting cut as its two siblings, so the three
    tables are directly comparable per bigram.

    Determinism: all counts exact int64 from one bigram pass (T and
    c both derive FROM the bigram table); one fixed-order double
    formula per surviving pair, rounded once.

    Scale (100 TB): bigram extraction is row-local; counts collapse
    map-side to |bigram vocab|; the w1- and w2-keyed stat joins are
    on aggregated frames (the bm25 lesson: joins on already-
    aggregated frames are cheap — don't widen the exploded stream to
    avoid them), and the scalar total broadcasts."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        tokens().alias("ts")
    ).filter(F.size("ts") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ts) - 1),"
                " i -> struct(ts[i - 1] AS w1, ts[i] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bi = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pair")
    )
    bi = bi.localCheckpoint(eager=True)
    lhs = bi.groupBy("w1").agg(
        F.sum("n_pair").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("t1"),
    )
    uni = bi.groupBy("w2").agg(F.sum("n_pair").cast("bigint").alias("c2"))
    tot = bi.agg(F.sum("n_pair").cast("bigint").alias("nn"))
    return (
        bi.filter(F.col("n_pair") >= 3)
        .join(lhs, "w1")
        .join(uni, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_pair",
            "t1",
            F.round(
                (
                    F.col("n_pair")
                    + F.col("t1")
                    * (F.col("c2").cast("double") / F.col("nn"))
                )
                / (F.col("c1") + F.col("t1")),
                6,
            ).alias("p_wb"),
        )
    )


# --------------------------------------------------- rrf_rank_fusion

@register(
    "rrf_rank_fusion",
    oracle="""
    WITH sig AS (
        SELECT doc_id, n_chars AS s1,
               CAST(len(list_distinct(list_filter(string_split(text, ' '),
                    t -> t <> ''))) AS BIGINT) AS s2,
               CAST(len(list_filter(string_split(text, ' '),
                    t -> t <> '')) AS BIGINT) AS s3
        FROM documents
    ),
    t1 AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s1 DESC, doc_id) AS r1
        FROM sig ORDER BY s1 DESC, doc_id LIMIT 100
    ),
    t2 AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s2 DESC, doc_id) AS r2
        FROM sig ORDER BY s2 DESC, doc_id LIMIT 100
    ),
    t3 AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s3 DESC, doc_id) AS r3
        FROM sig ORDER BY s3 DESC, doc_id LIMIT 100
    ),
    fused AS (
        SELECT doc_id, r1, r2, r3,
               CAST(FLOOR((COALESCE(1.0 / (60 + r1), 0.0)
                           + COALESCE(1.0 / (60 + r2), 0.0)
                           + COALESCE(1.0 / (60 + r3), 0.0))
                          * 1000000000000.0) AS BIGINT) AS score_q
        FROM t1 FULL JOIN t2 USING (doc_id) FULL JOIN t3 USING (doc_id)
    )
    SELECT ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS fused_rank,
           doc_id, r1, r2, r3,
           ROUND(CAST(score_q AS DOUBLE) / 1000000000000.0, 6) AS rrf_score
    FROM fused
    ORDER BY score_q DESC, doc_id LIMIT 20
    """,
)
def rrf_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL RANK FUSION (k = 60) over three per-document quality
    rankings (char length, distinct-token count, token count): each
    signal nominates its top-100, a document scores
    sum(1/(60 + rank)) over the lists it appears in, and the fused
    top-20 is the ensemble — the standard list-fusion method (Cormack
    et al.'s RRF, the hybrid-retrieval default) applied to quality
    signals that individually disagree; missing-from-list contributes
    zero, exactly how RRF fuses bounded retrieval lists in practice.

    Determinism: each list is totally ordered (signal DESC, doc_id);
    the fused score is a fixed-order 3-term sum quantized to int64
    pico-units BEFORE the final ranking, so the top-20 cut is an
    integer comparison in both engines.

    Scale (100 TB): each nomination is a TakeOrderedAndProject top-100
    (bounded heap per partition, no global sort); everything after
    runs on <= 300 rows.  Fusing top-K lists — not globally ranking
    the corpus three times — is what makes RRF viable at scale."""
    d = load(spark, sf_dir, "documents")
    toks = tokens()
    sig = d.select(
        "doc_id",
        F.col("n_chars").alias("s1"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("s2"),
        F.size(toks).cast("bigint").alias("s3"),
    )
    sig = sig.localCheckpoint(eager=True)

    def top(col: str, rname: str) -> DataFrame:
        lim = sig.select("doc_id", col).orderBy(
            F.desc(col), "doc_id"
        ).limit(100)
        return lim.select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc(col), "doc_id"))
            .alias(rname),
        )

    t1, t2, t3 = top("s1", "r1"), top("s2", "r2"), top("s3", "r3")
    fused = (
        t1.join(t2, ["doc_id"], "full_outer")
        .join(t3, ["doc_id"], "full_outer")
        .select(
            "doc_id",
            "r1",
            "r2",
            "r3",
            F.floor(
                (
                    F.coalesce(
                        F.lit(1.0) / (F.lit(60) + F.col("r1")), F.lit(0.0)
                    )
                    + F.coalesce(
                        F.lit(1.0) / (F.lit(60) + F.col("r2")), F.lit(0.0)
                    )
                    + F.coalesce(
                        F.lit(1.0) / (F.lit(60) + F.col("r3")), F.lit(0.0)
                    )
                )
                * F.lit(1000000000000.0)
            )
            .cast("bigint")
            .alias("score_q"),
        )
    )
    top20 = fused.orderBy(F.desc("score_q"), "doc_id").limit(20)
    return top20.select(
        F.row_number()
        .over(Window.orderBy(F.desc("score_q"), "doc_id"))
        .alias("fused_rank"),
        "doc_id",
        "r1",
        "r2",
        "r3",
        F.round(
            F.col("score_q").cast("double") / F.lit(1000000000000.0), 6
        ).alias("rrf_score"),
    )


# ----------------------------------------------- vocab_coverage_curve

@register(
    "vocab_coverage_curve",
    oracle="""
    WITH vocab AS (
        SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        WHERE t <> ''
        GROUP BY t
    ),
    ranked AS (
        SELECT token, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rn,
               CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(SUM(cnt) OVER () AS BIGINT) AS total,
               COUNT(*) OVER () AS n_types
        FROM vocab
    ),
    sizes AS (SELECT unnest([100, 1000, 10000]) AS vocab_size)
    SELECT vocab_size,
           CAST(MAX(rn) AS BIGINT) AS n_types_used,
           MAX(total) AS total_tokens,
           MAX(n_types) AS n_types_total,
           ROUND(MAX(cum) * 1.0 / MAX(total), 4) AS coverage
    FROM ranked JOIN sizes ON ranked.rn <= sizes.vocab_size
    GROUP BY vocab_size
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-COVERAGE CURVE: what fraction of all token occurrences a
    frequency-ranked vocabulary of size 100 / 1k / 10k covers — THE
    sizing chart for `vocab_top_tokens` / tokenizer vocab budgets
    (the empirical integral of `zipf_fit_slope`'s power law: s≈1
    means 10x vocab buys ever-thinner coverage slices), and the
    direct estimator of `vocab_oov_rate` at candidate sizes.

    Determinism: counts exact; the rank order is total (count DESC,
    token); coverage is one rounded division per size off exact
    integer cumulative sums.

    Scale (100 TB): token counts collapse map-side to the
    Heaps-bounded vocab; the rank/cumsum window sorts the VOCAB
    (linlog in types, never rows), and the size probe is a 3-row
    broadcast join."""
    d = load(spark, sf_dir, "documents")
    vocab = (
        d.select(
            F.explode(tokens()).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), "token")
    nw = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = vocab.select(
        F.row_number().over(w).alias("rn"),
        F.sum("cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum"),
        F.sum("cnt").over(nw).cast("bigint").alias("total"),
        F.count(F.lit(1)).over(nw).alias("n_types"),
    )
    sizes = spark.createDataFrame(
        [(100,), (1000,), (10000,)], "vocab_size int"
    )
    return (
        ranked.join(
            F.broadcast(sizes), F.col("rn") <= F.col("vocab_size")
        )
        .groupBy("vocab_size")
        .agg(
            F.max("rn").cast("bigint").alias("n_types_used"),
            F.max("total").alias("total_tokens"),
            F.max("n_types").alias("n_types_total"),
            F.round(
                F.max("cum") * F.lit(1.0) / F.max("total"), 4
            ).alias("coverage"),
        )
    )


# ------------------------------------------ tokenizer_maxmatch_segment

@register(
    "tokenizer_maxmatch_segment",
    oracle="""
    WITH RECURSIVE wsc AS (
        SELECT source, t AS w, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT source, unnest(string_split(text, ' ')) AS t
              FROM documents)
        WHERE t <> ''
        GROUP BY source, t
    ),
    wc AS (SELECT w, CAST(SUM(cnt) AS BIGINT) AS cnt FROM wsc GROUP BY w),
    g2 AS (
        SELECT substr(w, i, 2) AS g, CAST(SUM(cnt) AS BIGINT) AS s
        FROM (SELECT w, cnt, unnest(generate_series(1, length(w) - 1)) AS i
              FROM wc WHERE length(w) >= 2)
        GROUP BY g ORDER BY s DESC, g LIMIT 100
    ),
    g3 AS (
        SELECT substr(w, i, 3) AS g, CAST(SUM(cnt) AS BIGINT) AS s
        FROM (SELECT w, cnt, unnest(generate_series(1, length(w) - 2)) AS i
              FROM wc WHERE length(w) >= 3)
        GROUP BY g ORDER BY s DESC, g LIMIT 100
    ),
    g4 AS (
        SELECT substr(w, i, 4) AS g, CAST(SUM(cnt) AS BIGINT) AS s
        FROM (SELECT w, cnt, unnest(generate_series(1, length(w) - 3)) AS i
              FROM wc WHERE length(w) >= 4)
        GROUP BY g ORDER BY s DESC, g LIMIT 100
    ),
    voc AS (
        SELECT (SELECT list(g) FROM g2) AS vl2,
               (SELECT list(g) FROM g3) AS vl3,
               (SELECT list(g) FROM g4) AS vl4
    ),
    seg(w, pos, n) AS (
        SELECT w, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM wc
        UNION ALL
        SELECT seg.w,
               seg.pos + CASE
                   WHEN list_contains(voc.vl4, substr(seg.w, seg.pos, 4))
                       THEN 4
                   WHEN list_contains(voc.vl3, substr(seg.w, seg.pos, 3))
                       THEN 3
                   WHEN list_contains(voc.vl2, substr(seg.w, seg.pos, 2))
                       THEN 2
                   ELSE 1 END,
               seg.n + 1
        FROM seg CROSS JOIN voc WHERE seg.pos <= length(seg.w)
    ),
    pieces AS (SELECT w, MAX(n) AS n_pieces FROM seg GROUP BY w)
    SELECT wsc.source,
           CAST(SUM(wsc.cnt) AS BIGINT) AS n_word_occ,
           CAST(SUM(wsc.cnt * p.n_pieces) AS BIGINT) AS n_pieces,
           ROUND(SUM(wsc.cnt * p.n_pieces) * 1.0 / SUM(wsc.cnt), 4)
               AS pieces_per_word
    FROM wsc JOIN pieces p ON wsc.w = p.w
    GROUP BY wsc.source
    """,
)
def tokenizer_maxmatch_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY LONGEST-MATCH (MaxMatch) SEGMENTATION — the WordPiece
    INFERENCE rule with a position-free vocabulary: at each position
    consume the longest matching piece (4 → 3 → 2 → single-char
    fallback) from a corpus-derived vocab (top-100 character n-grams
    per length, occurrence-weighted).  Completes the tokenizer family
    (BPE trains merges, unigram seeds a vocab by likelihood; MaxMatch
    is how WordPiece-style vocabs are APPLIED), and pieces-per-word is
    the fertility metric tokenizer evaluations report per source.

    Determinism: vocab lists are totally ordered (weight DESC, gram);
    the greedy scan is pure string matching — the DuckDB oracle runs
    the IDENTICAL recurrence as a recursive CTE over the distinct-word
    table, so the segmentation rule itself is hash-verified.

    Scale (100 TB): segmentation runs on the DISTINCT word vocabulary
    (Heaps-bounded — the tokenizer_bpe_apply precedent), as a pandas
    UDF over the broadcast 300-piece vocab; per-source totals come
    from joining piece counts back to the (source, word) count table —
    corpus rows are touched exactly once, in the counting pass."""
    import pandas as pd

    d = load(spark, sf_dir, "documents")
    wsc = (
        d.select(
            "source",
            F.explode(tokens()).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    wsc = wsc.localCheckpoint(eager=True)
    wc = wsc.groupBy("w").agg(F.sum("cnt").cast("bigint").alias("cnt"))

    def top_grams(n: int) -> list:
        g = (
            wc.filter(F.length("w") >= n)
            .select(
                F.explode(
                    F.expr(
                        f"transform(sequence(1, length(w) - {n - 1}),"
                        f" i -> substring(w, i, {n}))"
                    )
                ).alias("g"),
                "cnt",
            )
            .groupBy("g")
            .agg(F.sum("cnt").cast("bigint").alias("s"))
            .orderBy(F.desc("s"), "g")
            .limit(100)
        )
        # bounded collect: <=100 pieces per length (BPE merge-table
        # precedent — the vocab is driver-size by construction)
        return [r.g for r in g.collect()]

    v2, v3, v4 = set(top_grams(2)), set(top_grams(3)), set(top_grams(4))

    @F.pandas_udf("bigint")
    def n_pieces(ws: pd.Series) -> pd.Series:
        out = []
        for w in ws:
            pos, n, ln = 0, 0, len(w)
            while pos < ln:
                if w[pos : pos + 4] in v4:
                    pos += 4
                elif w[pos : pos + 3] in v3:
                    pos += 3
                elif w[pos : pos + 2] in v2:
                    pos += 2
                else:
                    pos += 1
                n += 1
            out.append(n)
        return pd.Series(out, dtype="int64")

    pieces = wc.select("w", n_pieces("w").alias("n_pieces"))
    return (
        wsc.join(pieces, "w")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_word_occ"),
            F.sum(F.col("cnt") * F.col("n_pieces"))
            .cast("bigint")
            .alias("n_pieces"),
            F.round(
                F.sum(F.col("cnt") * F.col("n_pieces"))
                * F.lit(1.0)
                / F.sum("cnt"),
                4,
            ).alias("pieces_per_word"),
        )
    )


# ------------------------------------------- kfold_assignment_balance

@register(
    "kfold_assignment_balance",
    oracle="""
    WITH f AS (
        SELECT CAST(concat('0x', substr(md5('fold:' || doc_id), 1, 15))
                    AS BIGINT) % 5 AS fold,
               lang
        FROM documents
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM f),
    lshare AS (
        SELECT lang, COUNT(*) * 1.0 / tot.n AS share_overall
        FROM f CROSS JOIN tot GROUP BY lang, tot.n
    ),
    folds AS (
        SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs FROM f
        GROUP BY fold
    ),
    fl AS (
        SELECT f.fold, f.lang, COUNT(*) AS n_fl
        FROM f GROUP BY f.fold, f.lang
    ),
    dev AS (
        SELECT fl.fold,
               MAX(CAST(FLOOR(ABS(fl.n_fl * 1.0 / folds.n_docs
                                  - lshare.share_overall)
                              * 1000000.0) AS BIGINT)) AS dev_q
        FROM fl
        JOIN folds ON folds.fold = fl.fold
        JOIN lshare ON lshare.lang = fl.lang
        GROUP BY fl.fold
    )
    SELECT folds.fold, folds.n_docs,
           ROUND(folds.n_docs * 1.0 / tot.n, 4) AS fold_share,
           ROUND(CAST(dev.dev_q AS DOUBLE) / 1000000.0, 4)
               AS max_lang_dev
    FROM folds JOIN dev ON dev.fold = folds.fold CROSS JOIN tot
    ORDER BY folds.fold
    """,
)
def kfold_assignment_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-FOLD ASSIGNMENT + BALANCE AUDIT (k = 5): deterministic
    hash-fold assignment (the salted md5 family — reproducible,
    id-pattern-proof, the `train_test_split` coin generalized to k
    folds) plus the audit that the folds are actually exchangeable:
    per-fold size share and the worst per-language composition
    deviation from the corpus-wide language mix.  A fold whose lang
    mix drifts is a biased validation set — this is the check
    cross-validation pipelines run before trusting fold variance.

    Determinism: fold coins engine-exact; shares are fixed-order
    ratios of exact counts; the language deviation is quantized to
    int64 micro-units BEFORE the per-fold MAX.

    Scale (100 TB): the assignment is row-local; all three aggregates
    are map-side-combinable collapses to (<=5 x |langs|) rows; the
    stitches are broadcast-size joins."""
    d = load(spark, sf_dir, "documents")
    f = d.select(
        F.pmod(
            md5_int(F.concat(F.lit("fold:"), F.col("doc_id"))), F.lit(5)
        ).alias("fold"),
        "lang",
    )
    f = f.localCheckpoint(eager=True)
    tot = f.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    lshare = (
        f.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_l"))
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            (F.col("n_l") * F.lit(1.0) / F.col("n")).alias(
                "share_overall"
            ),
        )
    )
    folds = f.groupBy("fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    fl = f.groupBy("fold", "lang").agg(F.count(F.lit(1)).alias("n_fl"))
    dev = (
        fl.join(folds, "fold")
        .join(F.broadcast(lshare), "lang")
        .groupBy("fold")
        .agg(
            F.max(
                F.floor(
                    F.abs(
                        F.col("n_fl") * F.lit(1.0) / F.col("n_docs")
                        - F.col("share_overall")
                    )
                    * F.lit(1000000.0)
                ).cast("bigint")
            ).alias("dev_q")
        )
    )
    return (
        folds.join(dev, "fold")
        .crossJoin(F.broadcast(tot))
        .select(
            "fold",
            "n_docs",
            F.round(F.col("n_docs") * F.lit(1.0) / F.col("n"), 4).alias(
                "fold_share"
            ),
            F.round(
                F.col("dev_q").cast("double") / 1000000.0, 4
            ).alias("max_lang_dev"),
        )
        .orderBy("fold")
    )


# ------------------------------------------------- sample_fixed_k_hash

@register(
    "sample_fixed_k_hash",
    oracle="""
    SELECT o_orderkey,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price,
           md5(CAST(o_orderkey AS VARCHAR)) AS hkey
    FROM orders
    ORDER BY hkey
    LIMIT 100
    """,
)
def sample_fixed_k_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-k DETERMINISTIC SAMPLE via hash ranking: the 100 orders
    with the smallest md5(key) — the fixed-SIZE counterpart of
    `sample_hash_bernoulli` (fixed RATE): training pipelines that
    need "exactly 100k eval rows, stable across reruns and engines"
    order by a salted key hash and cut at k, which is uniform (md5
    is equidistributed), reproducible (no RNG state), and
    incremental (adding rows can only displace the largest hashes —
    the sample is a consistent bottom-k sketch, mergeable across
    partitions and days).

    Determinism: md5 hex strings compare identically on both
    engines; o_orderkey is unique so the order is total.

    Scale (100 TB): compiles to TakeOrderedAndProject — each task
    keeps a 100-row bounded heap over its partition and the driver
    merges per-partition heaps; NO global sort, NO full shuffle
    (plan-asserted in tests/test_plans.py)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.col("o_totalprice")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("price"),
            F.md5(F.col("o_orderkey").cast("string")).alias("hkey"),
        )
        .orderBy("hkey")
        .limit(100)
    )


# -------------------------------------------- decision_stump_exact_split

@register(
    "decision_stump_exact_split",
    oracle="""
    WITH pts AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS pos
        FROM events
    ),
    freq AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS n_v,
               CAST(SUM(pos) AS BIGINT) AS pos_v
        FROM pts GROUP BY v
    ),
    cum AS (
        SELECT v,
               SUM(n_v) OVER (ORDER BY v) AS n_l,
               SUM(pos_v) OVER (ORDER BY v) AS pos_l,
               SUM(n_v) OVER () AS nn,
               SUM(pos_v) OVER () AS pp
        FROM freq
    ),
    gain AS (
        SELECT v,
               CAST(n_l AS BIGINT) AS n_l,
               CAST(pos_l AS BIGINT) AS pos_l,
               CAST(nn - n_l AS BIGINT) AS n_r,
               CAST(pp - pos_l AS BIGINT) AS pos_r,
               CAST(FLOOR((
                 (1.0 - (CAST(pp AS DOUBLE)/nn)*(CAST(pp AS DOUBLE)/nn)
                      - (1.0*(nn-pp)/nn)*(1.0*(nn-pp)/nn))
                 - (CAST(n_l AS DOUBLE)/nn)
                   * (1.0 - (CAST(pos_l AS DOUBLE)/n_l)
                            *(CAST(pos_l AS DOUBLE)/n_l)
                        - (1.0*(n_l-pos_l)/n_l)*(1.0*(n_l-pos_l)/n_l))
                 - (CAST(nn-n_l AS DOUBLE)/nn)
                   * (1.0 - (1.0*(pp-pos_l)/(nn-n_l))
                            *(1.0*(pp-pos_l)/(nn-n_l))
                        - (1.0*((nn-n_l)-(pp-pos_l))/(nn-n_l))
                            *(1.0*((nn-n_l)-(pp-pos_l))/(nn-n_l)))
               ) * 1000000000.0) AS BIGINT) AS gain_q
        FROM cum WHERE n_l < nn
    )
    SELECT ROUND(v / 100.0, 2) AS threshold,
           ROUND(gain_q / 1000000000.0, 6) AS gini_gain,
           n_l AS n_left, pos_l AS pos_left,
           n_r AS n_right, pos_r AS pos_right
    FROM gain
    ORDER BY gain_q DESC, v
    LIMIT 1
    """,
)
def decision_stump_exact_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION STUMP, EXACT BEST SPLIT: the single-feature tree node
    (predict purchase from event value) evaluated at EVERY possible
    threshold — the histogram-split primitive inside every gradient-
    boosting/random-forest trainer, distributed the way XGBoost's
    exact mode does it: one frequency collapse per feature value, one
    cumulative-sum window, gain arithmetic per candidate, global
    argmax.  No row ever sees a candidate it doesn't define.

    Determinism: counts are exact integers; each candidate's Gini
    gain is a fixed IEEE tree on identical integers, floor-quantized
    to nano-units so the ARGMAX (gain DESC, then smallest threshold)
    is an integer comparison — two near-tied candidates cannot flip
    across engines.

    Scale (100 TB): the value-frequency table is Heaps/domain-bounded
    (cents domain), the window is one cumsum over |distinct| rows,
    and the argmax is a TakeOrderedAndProject — the corpus is
    touched once.  K features run K independent copies of the same
    collapse (one pass with a feature-id explode)."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("pos"),
    )
    freq = pts.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v"),
        F.sum("pos").cast("bigint").alias("pos_v"),
    )
    wc = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wa = Window.partitionBy()
    cum = freq.select(
        "v",
        F.sum("n_v").over(wc).alias("n_l"),
        F.sum("pos_v").over(wc).alias("pos_l"),
        F.sum("n_v").over(wa).alias("nn"),
        F.sum("pos_v").over(wa).alias("pp"),
    )
    nn = F.col("nn").cast("double")
    pp = F.col("pp").cast("double")
    n_l = F.col("n_l").cast("double")
    pos_l = F.col("pos_l").cast("double")
    n_r = nn - n_l
    pos_r = pp - pos_l
    parent = (
        F.lit(1.0) - (pp / nn) * (pp / nn)
        - ((nn - pp) / nn) * ((nn - pp) / nn)
    )
    g_l = (
        F.lit(1.0) - (pos_l / n_l) * (pos_l / n_l)
        - ((n_l - pos_l) / n_l) * ((n_l - pos_l) / n_l)
    )
    g_r = (
        F.lit(1.0) - (pos_r / n_r) * (pos_r / n_r)
        - ((n_r - pos_r) / n_r) * ((n_r - pos_r) / n_r)
    )
    gain_q = F.floor(
        (parent - (n_l / nn) * g_l - (n_r / nn) * g_r)
        * F.lit(1000000000.0)
    ).cast("bigint")
    gain = cum.filter(F.col("n_l") < F.col("nn")).select(
        "v",
        F.col("n_l").cast("bigint").alias("n_left"),
        F.col("pos_l").cast("bigint").alias("pos_left"),
        (F.col("nn") - F.col("n_l")).cast("bigint").alias("n_right"),
        (F.col("pp") - F.col("pos_l")).cast("bigint").alias("pos_right"),
        gain_q.alias("gain_q"),
    )
    return (
        gain.orderBy(F.desc("gain_q"), "v")
        .limit(1)
        .select(
            F.round(F.col("v") / 100.0, 2).alias("threshold"),
            F.round(F.col("gain_q") / F.lit(1000000000.0), 6).alias(
                "gini_gain"
            ),
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
        )
    )


# ----------------------------------------------------- span_corruption_plan

@register(
    "span_corruption_plan",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, len(t) AS n_tokens,
               unnest(generate_series(1, len(t))) AS i
        FROM tok WHERE len(t) >= 1
    ),
    coin AS (
        SELECT doc_id, n_tokens, i,
               CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                              || ':' || CAST(i AS VARCHAR)), 1, 15))
                          AS BIGINT) % 100 < 15
                    THEN 1 ELSE 0 END AS m
        FROM pos
    ),
    runs AS (
        SELECT doc_id, n_tokens, i, m,
               LAG(m, 1, 0) OVER (PARTITION BY doc_id ORDER BY i) AS pm
        FROM coin
    )
    SELECT doc_id,
           CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(m) AS BIGINT) AS n_masked,
           CAST(SUM(CASE WHEN m = 1 AND pm = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_spans,
           ROUND(CAST(SUM(m) AS DOUBLE) / MAX(n_tokens), 4)
               AS mask_ratio
    FROM runs GROUP BY doc_id ORDER BY doc_id
    """,
)
def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-STYLE SPAN-CORRUPTION PLAN (public: Raffel et al. 2020): a
    deterministic ~15% token mask per document (portable md5 coin on
    (doc_id, position)), with contiguous masked runs collapsing into
    SENTINEL SPANS — per doc the plan reports token count, masked
    count, span count and mask ratio, which is exactly what a
    denoising-pretraining data loader needs to size sentinel vocab
    and target lengths BEFORE materializing corrupted text.

    Determinism: the coin is the house portable-md5 family
    (`common.md5_int(...) % 100 < 15`) — identical bits on both
    engines; span starts counted via a per-doc LAG (mask=1, prev=0).

    Scale (100 TB): positions explode corpus-linearly; the only
    window is PARTITIONED by doc_id over in-doc positions (bounded by
    doc length); one doc-keyed rollup.  No global ordering anywhere."""
    d = load(spark, sf_dir, "documents")
    toks = tokens()
    base = d.select("doc_id", toks.alias("t")).filter(F.size("t") >= 1)
    pos = base.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        F.explode(F.expr("sequence(1, size(t))")).alias("i"),
    )
    coin = pos.withColumn(
        "m",
        F.when(
            md5_int(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("i").cast("string"),
                )
            )
            % 100
            < 15,
            1,
        ).otherwise(0),
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    runs = coin.withColumn("pm", F.lag("m", 1, 0).over(w))
    return (
        runs.groupBy("doc_id")
        .agg(
            F.max("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("m").cast("bigint").alias("n_masked"),
            F.sum(
                F.when((F.col("m") == 1) & (F.col("pm") == 0), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_spans"),
            F.round(
                F.sum("m").cast("double") / F.max("n_tokens"), 4
            ).alias("mask_ratio"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------ lang_rebalance_plan

@register(
    "lang_rebalance_plan",
    oracle="""
    WITH c AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM documents GROUP BY lang
    ),
    t AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM c
    )
    SELECT c.lang, c.n_docs, c.n_chars,
           ROUND(CAST(c.n_docs AS DOUBLE) / t.total, 6) AS share,
           ROUND(LEAST(CAST(t.total AS DOUBLE) / t.k / c.n_docs, 3.0),
                 6) AS resample_factor,
           CAST(FLOOR(LEAST(CAST(t.total AS DOUBLE) / t.k / c.n_docs,
                            3.0) * c.n_docs) AS BIGINT)
               AS expected_docs
    FROM c CROSS JOIN t ORDER BY c.lang
    """,
)
def lang_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANGUAGE REBALANCING PLAN toward a uniform target mix: per
    language the corpus share and the capped resampling factor
    (target_share/actual_share, upsampling capped at 3x — the
    repetition-budget rule from public multilingual-pretraining
    practice, e.g. Conneau et al. 2020's alpha-smoothed sampling) plus
    the expected post-resample doc count — the planning table a
    multilingual data mix is built from (`mix_weighted_sources` plans
    BY SOURCE with given weights; this DERIVES the weights from the
    imbalance itself).

    Determinism: counts exact int64; factor/share through one fixed
    tree each (LEAST caps before FLOOR), ROUND(.,6).

    Scale (100 TB): one map-side collapse to |langs| rows."""
    d = load(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    t = c.agg(
        F.sum("n_docs").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    j = c.crossJoin(F.broadcast(t))
    factor = F.least(
        F.col("total").cast("double") / F.col("k") / F.col("n_docs"),
        F.lit(3.0),
    )
    return j.select(
        "lang",
        "n_docs",
        "n_chars",
        F.round(F.col("n_docs").cast("double") / F.col("total"), 6).alias(
            "share"
        ),
        F.round(factor, 6).alias("resample_factor"),
        F.floor(factor * F.col("n_docs")).cast("bigint").alias(
            "expected_docs"
        ),
    ).orderBy("lang")


# -------------------------------------------- dup_cluster_size_histogram

@register(
    "dup_cluster_size_histogram",
    oracle="""
    WITH h AS (
        SELECT md5(text) AS k, CAST(COUNT(*) AS BIGINT) AS sz
        FROM documents GROUP BY md5(text)
    )
    SELECT CAST(LENGTH(printf('%b', sz)) - 1 AS BIGINT)
               AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz - 1) AS BIGINT) AS n_removable
    FROM h GROUP BY LENGTH(printf('%b', sz)) - 1
    ORDER BY log2_bucket
    """,
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-DUPLICATE CLUSTER-SIZE HISTOGRAM in log2 buckets: how
    duplication mass distributes across cluster sizes (many pairs vs
    few mega-clusters) and how many docs dedup would REMOVE per bucket
    — the corpus-shape diagnostic read before choosing between
    pair-based and CC-based dedup (`dedup_hash_exact` lists survivors;
    this reports the distribution; the LSH lesson — one 2.6k-doc
    mega-cluster made pair listing quadratic — is exactly what this
    histogram detects in advance).

    Determinism: md5 text keys (portable family), exact counts;
    floor(log2) via bit-length strings, never floating log (the
    degree_distribution_log2 idiom).

    Scale (100 TB): one hash groupBy collapse + a <= 40-bucket
    rollup."""
    d = load(spark, sf_dir, "documents")
    h = d.groupBy(F.md5("text").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return (
        h.groupBy(
            (F.length(F.expr("bin(sz)")) - 1)
            .cast("bigint")
            .alias("log2_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("sz").cast("bigint").alias("n_docs"),
            F.sum(F.col("sz") - 1).cast("bigint").alias("n_removable"),
        )
        .orderBy("log2_bucket")
    )


# ----------------------------------------------------------- quality_c4_rules

@register(
    "quality_c4_rules",
    oracle="""
    WITH f AS (
        SELECT source,
               CASE WHEN right(text, 1) IN ('.', '!', '?', '"')
                    THEN 1 ELSE 0 END AS r_term,
               CASE WHEN len(string_split(text, '. ')) >= 3
                    THEN 1 ELSE 0 END AS r_sent,
               CASE WHEN len(list_filter(string_split(text, ' '),
                                         t -> t <> '')) >= 5
                    THEN 1 ELSE 0 END AS r_words,
               CASE WHEN strpos(text, '{') = 0 THEN 1 ELSE 0 END
                   AS r_nobrace,
               CASE WHEN strpos(lower(text), 'javascript') = 0
                    THEN 1 ELSE 0 END AS r_nojs
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(r_term) AS BIGINT) AS pass_terminal_punct,
           CAST(SUM(r_sent) AS BIGINT) AS pass_min_sentences,
           CAST(SUM(r_words) AS BIGINT) AS pass_min_words,
           CAST(SUM(r_nobrace) AS BIGINT) AS pass_no_brace,
           CAST(SUM(r_nojs) AS BIGINT) AS pass_no_js,
           CAST(SUM(r_term * r_sent * r_words * r_nobrace * r_nojs)
                AS BIGINT) AS pass_all,
           ROUND(SUM(r_term * r_sent * r_words * r_nobrace * r_nojs)
                 * 1.0 / COUNT(*), 4) AS pass_rate
    FROM f GROUP BY source ORDER BY source
    """,
)
def quality_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-STYLE RULE FILTERING (Raffel et al. 2020) with a per-source,
    per-rule audit — the web-corpus heuristic bundle that complements
    `quality_gopher_rules` (Gopher's are length/symbol statistics,
    C4's are FORM rules): terminal punctuation, >= 3 sentences, >= 5
    words, no curly brace (code/template tell), no 'javascript'
    (boilerplate tell).  Document-level adaptation of C4's per-line
    rules (the fixture has no line structure); thresholds
    fixture-calibrated like the gopher op.

    Determinism: every rule is an exact 0/1 on string predicates both
    engines evaluate identically (right(), strpos/instr, split
    length); pass_all is the integer product; one ratio behind
    ROUND(4).

    Scale (100 TB): entirely row-local rules + one per-source rollup
    — the cheap-rules-first funnel stage, embarrassingly parallel."""
    d = load(spark, sf_dir, "documents")
    ws = tokens()
    f = d.select(
        "source",
        F.when(
            F.expr("right(text, 1)").isin(".", "!", "?", '"'), 1
        )
        .otherwise(0)
        .alias("r_term"),
        F.when(F.size(F.split("text", "\\. ", -1)) >= 3, 1)
        .otherwise(0)
        .alias("r_sent"),
        F.when(F.size(ws) >= 5, 1).otherwise(0).alias("r_words"),
        F.when(F.expr("instr(text, '{')") == 0, 1)
        .otherwise(0)
        .alias("r_nobrace"),
        F.when(F.expr("instr(lower(text), 'javascript')") == 0, 1)
        .otherwise(0)
        .alias("r_nojs"),
    )
    pass_all = (
        F.col("r_term")
        * F.col("r_sent")
        * F.col("r_words")
        * F.col("r_nobrace")
        * F.col("r_nojs")
    )
    return (
        f.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("r_term").cast("bigint").alias("pass_terminal_punct"),
            F.sum("r_sent").cast("bigint").alias("pass_min_sentences"),
            F.sum("r_words").cast("bigint").alias("pass_min_words"),
            F.sum("r_nobrace").cast("bigint").alias("pass_no_brace"),
            F.sum("r_nojs").cast("bigint").alias("pass_no_js"),
            F.sum(pass_all).cast("bigint").alias("pass_all"),
            F.round(
                F.sum(pass_all) * F.lit(1.0) / F.count(F.lit(1)), 4
            ).alias("pass_rate"),
        )
        .orderBy("source")
    )


# -------------------------------------------------- ngram_lm_stupid_backoff

@register(
    "ngram_lm_stupid_backoff",
    oracle="""
    WITH toks AS (
        SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents
    ),
    uni AS (
        SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY t
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM uni),
    top5 AS (SELECT w, n FROM uni ORDER BY n DESC, w LIMIT 5),
    pos AS (
        SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i
        FROM toks WHERE len(ts) >= 2
    ),
    bi AS (
        SELECT ts[i] AS w1, ts[i + 1] AS w2,
               CAST(COUNT(*) AS BIGINT) AS n_pair
        FROM pos GROUP BY 1, 2
    ),
    probe AS (
        SELECT a.w AS w1, a.n AS n_w1, b.w AS w2, b.n AS n_w2
        FROM top5 a CROSS JOIN top5 b
    )
    SELECT p.w1, p.w2,
           CAST(COALESCE(bi.n_pair, 0) AS BIGINT) AS n_pair,
           CASE WHEN COALESCE(bi.n_pair, 0) > 0 THEN 'bigram'
                ELSE 'backoff' END AS path,
           ROUND(CASE WHEN COALESCE(bi.n_pair, 0) > 0
                      THEN CAST(bi.n_pair AS DOUBLE) / p.n_w1
                      ELSE 0.4 * CAST(p.n_w2 AS DOUBLE) / tot.nn END,
                 6) AS sb_score
    FROM probe p
    LEFT JOIN bi ON bi.w1 = p.w1 AND bi.w2 = p.w2
    CROSS JOIN tot
    ORDER BY p.w1, p.w2
    """,
)
def ngram_lm_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STUPID BACKOFF bigram scoring (Brants et al. 2007 — the
    web-scale LM smoothing that made Kneser-Ney optional at count
    scale): S(w2|w1) = n(w1,w2)/n(w1) when the bigram is attested,
    else 0.4 * n(w2)/N — no discounting, no normalization, which is
    exactly why it distributes trivially.  Scored over the 5x5 probe
    grid of the top-5 unigrams (count-desc, token tiebreak), so both
    the attested and the BACKOFF path are exercised and graded.

    Completes the smoothing family: `ngram_lm_bigram_probs` (MLE),
    `_witten_bell`, `_kneser_ney` (discounting), stupid backoff
    (score, not probability).

    Determinism: all counts exact int64; the score is one shared
    two-branch formula behind ROUND(6); the probe grid is
    deterministic by the exact-int tiebreak.

    Scale (100 TB): bigram/unigram tables collapse map-side to vocab
    size; the probe is a 25-row broadcast joined against the bigram
    table — the scoring path is a lookup join, the Brants design
    point."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        tokens().alias("ts")
    )
    uni = (
        toks.select(F.explode("ts").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = uni.agg(F.sum("n").cast("bigint").alias("nn"))
    top5 = uni.orderBy(F.col("n").desc(), "w").limit(5)
    bi = (
        toks.filter(F.size("ts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 1),"
                    " i -> struct(ts[i - 1] AS w1, ts[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
    )
    a = top5.select(F.col("w").alias("w1"), F.col("n").alias("n_w1"))
    b = top5.select(F.col("w").alias("w2"), F.col("n").alias("n_w2"))
    probe = a.crossJoin(b)
    j = (
        probe.join(F.broadcast(bi.join(F.broadcast(a), "w1", "semi")
                               .join(F.broadcast(b), "w2", "semi")),
                   ["w1", "w2"], "left")
        .crossJoin(F.broadcast(tot))
    )
    np = F.coalesce("n_pair", F.lit(0)).cast("bigint")
    score = F.when(
        np > 0, F.col("n_pair").cast("double") / F.col("n_w1")
    ).otherwise(
        F.lit(0.4) * F.col("n_w2").cast("double") / F.col("nn")
    )
    return (
        j.select(
            "w1",
            "w2",
            np.alias("n_pair"),
            F.when(np > 0, "bigram").otherwise("backoff").alias("path"),
            F.round(score, 6).alias("sb_score"),
        )
        .orderBy("w1", "w2")
    )


# ----------------------------------------------- fertility_chars_per_token

@register(
    "fertility_chars_per_token",
    oracle="""
    WITH t AS (
        SELECT lang, source,
               CAST(len(list_filter(string_split(text, ' '),
                                    x -> x <> '')) AS BIGINT) AS n_ws,
               CAST(list_sum(list_transform(
                        list_filter(string_split(text, ' '),
                                    x -> x <> ''),
                        x -> (length(x) + 3) // 4)) AS BIGINT) AS n_bpe,
               CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars
        FROM documents
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
           ROUND(SUM(n_chars) * 1.0 / SUM(n_ws), 4)
               AS chars_per_ws_token,
           ROUND(SUM(n_bpe) * 1.0 / SUM(n_ws), 4) AS fertility
    FROM t WHERE n_ws > 0
    GROUP BY lang, source ORDER BY lang, source
    """,
)
def fertility_chars_per_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY by (lang, source): BPE-ish tokens per
    whitespace word plus chars-per-word — the tokenizer-efficiency
    audit every multilingual training plan runs (high-fertility
    languages consume budget faster per word; the signal behind
    per-language token budgeting in `lang_rebalance_plan` and
    `token_budget_epoch_plan`).  Uses `token_count_bpe`'s exact
    integer ceil(len/4) per-word estimate so both engines agree
    without a real tokenizer.

    Determinism: integer sums; two exact ratios behind ROUND(4).

    Scale (100 TB): row-local token arithmetic + one combinable
    (lang, source) rollup — scan-speed, no shuffle beyond the
    #groups exchange."""
    d = load(spark, sf_dir, "documents")
    ws = tokens()
    t = d.select(
        "lang",
        "source",
        F.size(ws).cast("bigint").alias("n_ws"),
        F.aggregate(
            F.transform(ws, lambda x: (F.length(x) + 3).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + F.floor(x / 4),
        )
        .cast("bigint")
        .alias("n_bpe"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("bigint")
        .alias("n_chars"),
    ).filter(F.col("n_ws") > 0)
    return (
        t.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars"),
            F.sum("n_ws").cast("bigint").alias("ws_tokens"),
            F.sum("n_bpe").cast("bigint").alias("bpe_tokens"),
            F.round(
                F.sum("n_chars") * F.lit(1.0) / F.sum("n_ws"), 4
            ).alias("chars_per_ws_token"),
            F.round(
                F.sum("n_bpe") * F.lit(1.0) / F.sum("n_ws"), 4
            ).alias("fertility"),
        )
        .orderBy("lang", "source")
    )


# --------------------------------------------------- upsample_repeat_plan

@register(
    "upsample_repeat_plan",
    oracle="""
    WITH w AS (
        SELECT doc_id, source,
               1.0 + (CAST(substring(source, 4, 10) AS BIGINT) % 5)
                     / 2.0 AS epochs,
               CAST((CAST(substring(source, 4, 10) AS BIGINT) % 5)
                    AS BIGINT) AS half_steps
        FROM documents
    ),
    plan AS (
        SELECT doc_id, source, epochs,
               CAST(1 + half_steps // 2 AS BIGINT) AS base_repeats,
               CASE WHEN half_steps % 2 = 1
                         AND (doc_id % 7919) % 1000
                             < (half_steps % 2) * 500
                    THEN 1 ELSE 0 END AS extra
        FROM w
    )
    SELECT source,
           ROUND(MAX(epochs), 1) AS epochs_target,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(base_repeats + extra) AS BIGINT) AS n_emitted,
           ROUND(SUM(base_repeats + extra) * 1.0 / COUNT(*), 4)
               AS achieved_epochs
    FROM plan GROUP BY source ORDER BY source
    """,
)
def upsample_repeat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRACTIONAL-EPOCH UPSAMPLING PLAN: each source gets a target
    epoch count 1.0..3.0 in half steps (config-derived here from the
    source id); every doc repeats floor(epochs) times plus ONE more
    copy for a deterministic doc_id-hash fraction of docs — the
    repeat-expansion complement to `mix_weighted_sources`
    (downsampling) and the mechanism `token_budget_epoch_plan` prices:
    fractional epochs without RNG, reproducible across runs.

    Determinism: the extra-copy decision is (doc_id % 7919) % 1000 <
    frac*1000 — pure integer modulo, identical in both engines; the
    audit is exact integer sums behind ROUND(4).

    Scale (100 TB): the keep/repeat decision is row-local; the audit
    is one per-source rollup.  The actual expansion (not graded
    here) is an `explode(sequence(1, repeats))` — row-local fan, no
    shuffle."""
    d = load(spark, sf_dir, "documents")
    half_steps = (
        F.substring("source", 4, 10).cast("bigint") % 5
    ).alias("half_steps")
    w = d.select(
        "doc_id",
        "source",
        (F.lit(1.0) + half_steps / 2.0).alias("epochs"),
        half_steps,
    )
    base = (F.lit(1) + F.floor(F.col("half_steps") / 2)).cast("bigint")
    extra = F.when(
        (F.col("half_steps") % 2 == 1)
        & (
            (F.col("doc_id") % 7919) % 1000
            < (F.col("half_steps") % 2) * 500
        ),
        1,
    ).otherwise(0)
    plan = w.select(
        "source",
        "epochs",
        base.alias("base_repeats"),
        extra.alias("extra"),
    )
    return (
        plan.groupBy("source")
        .agg(
            F.round(F.max("epochs"), 1).alias("epochs_target"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("base_repeats") + F.col("extra"))
            .cast("bigint")
            .alias("n_emitted"),
            F.round(
                F.sum(F.col("base_repeats") + F.col("extra"))
                * F.lit(1.0)
                / F.count(F.lit(1)),
                4,
            ).alias("achieved_epochs"),
        )
        .orderBy("source")
    )


# --------------------------------------------------- weighted_jaccard_idf

@register(
    "weighted_jaccard_idf",
    oracle="""
    WITH d AS (
        SELECT doc_id, source, text FROM documents
        WHERE doc_id < 150 AND length(text) >= 3
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM d),
    grams AS (
        SELECT doc_id, source, unnest(list_distinct(g.l)) AS gram
        FROM d, LATERAL (SELECT list_transform(
                 range(1, length(text) - 1),
                 i -> substring(text, CAST(i AS INT), 3)) AS l) g
    ),
    df AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df
           FROM grams GROUP BY gram),
    w AS (
        SELECT g.doc_id, g.source, g.gram,
               CAST(FLOOR(LN(CAST(nn.n_docs AS DOUBLE) / df.df)
                          * 1000000.0) AS BIGINT) AS idf_q
        FROM grams g JOIN df USING (gram) CROSS JOIN nn
    ),
    tot AS (SELECT doc_id, CAST(SUM(idf_q) AS BIGINT) AS wsum
            FROM w GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(SUM(a.idf_q) AS BIGINT) AS shared_w
        FROM w a JOIN w b
          ON a.gram = b.gram AND a.source = b.source
             AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.a_id, s.b_id,
           ROUND(CAST(s.shared_w AS DOUBLE)
                 / (ta.wsum + tb.wsum - s.shared_w), 4) AS w_jac
    FROM shared s
    JOIN tot ta ON ta.doc_id = s.a_id
    JOIN tot tb ON tb.doc_id = s.b_id
    WHERE CAST(s.shared_w AS DOUBLE)
          / (ta.wsum + tb.wsum - s.shared_w) >= 0.5
    ORDER BY s.a_id, s.b_id
    """,
)
def weighted_jaccard_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-WEIGHTED trigram Jaccard near-duplicates: J_w(A,B) =
    sum_{t in A^B} idf(t) / sum_{t in AvB} idf(t) — the
    rarity-weighted refinement of `ngram_jaccard` (Chum et al. 2008's
    weighted set similarity, the basis of weighted MinHash): two docs
    sharing RARE trigrams are near-dups; sharing only stopword-ish
    trigrams is background similarity plain Jaccard over-counts.
    Same source-blocked candidate space as the unweighted op, so the
    two are directly comparable.

    Determinism: idf floor-quantizes to micro int64 from identical
    (N, df) integer inputs, so all weight sums are exact; one ratio
    behind ROUND(4) with the threshold applied to the same
    expression in both engines.

    Scale (100 TB): df and per-doc weight totals collapse map-side;
    the pair join is bounded by the blocking key exactly like
    `ngram_jaccard` (production swaps in LSH buckets); the idf join
    is on the Heaps-bounded gram vocabulary."""
    d = load(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < _NGRAM_MAX_DOC) & (F.length("text") >= 3)
    )
    nn = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    grams = d.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, length(text) - 2),"
                    " i -> substring(text, i, 3))"
                )
            )
        ).alias("gram"),
    )
    # Materialize the sample-bounded gram table once (same move as
    # `ngram_jaccard`): it feeds the df aggregate and the weighted
    # table's gram side, and the weighted table itself fans into three
    # consumers below.
    grams = grams.localCheckpoint(eager=True)
    df = grams.groupBy("gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    w = (
        grams.join(df, "gram")
        .crossJoin(F.broadcast(nn))
        .select(
            "doc_id",
            "source",
            "gram",
            F.floor(
                F.log(
                    F.col("n_docs").cast("double") / F.col("df")
                )
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("idf_q"),
        )
    )
    # Materialize the weighted gram table: `w` embeds the gram⋈df join
    # and feeds the per-doc totals AND both self-join sides — without
    # the cut that join lineage executes three times.
    w = w.localCheckpoint(eager=True)
    tot = w.groupBy("doc_id").agg(
        F.sum("idf_q").cast("bigint").alias("wsum")
    )
    a, b = w.alias("a"), w.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
        )
        .agg(F.sum("a.idf_q").cast("bigint").alias("shared_w"))
    )
    ta = tot.select(F.col("doc_id").alias("a_id"), F.col("wsum").alias("wa"))
    tb = tot.select(F.col("doc_id").alias("b_id"), F.col("wsum").alias("wb"))
    wj = F.col("shared_w").cast("double") / (
        F.col("wa") + F.col("wb") - F.col("shared_w")
    )
    return (
        shared.join(ta, "a_id")
        .join(tb, "b_id")
        .filter(wj >= 0.5)
        .select("a_id", "b_id", F.round(wj, 4).alias("w_jac"))
        .orderBy("a_id", "b_id")
    )


# ------------------------------------------------ length_bucket_batching_plan

@register(
    "length_bucket_batching_plan",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               CAST(LEN(list_filter(string_split(text, ' '),
                                    t -> t <> '')) AS BIGINT) AS n_tok
        FROM documents
    ),
    b AS (
        SELECT LENGTH(printf('%b', n_tok + 1)) - 1 AS bkt, n_tok
        FROM d WHERE n_tok > 0
    ),
    g AS (
        SELECT bkt, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS tok_actual
        FROM b GROUP BY bkt
    )
    SELECT bkt,
           CAST(POW(2, bkt + 1) - 1 AS BIGINT) AS bucket_cap,
           n_docs,
           CAST((n_docs + 31) // 32 AS BIGINT) AS n_batches,
           tok_actual,
           CAST(((n_docs + 31) // 32) * 32 * (POW(2, bkt + 1) - 1)
                AS BIGINT) AS tok_padded,
           ROUND(1.0 - tok_actual
                 / (((n_docs + 31) // 32) * 32.0 * (POW(2, bkt + 1) - 1)),
                 4) AS pad_waste
    FROM g ORDER BY bkt
    """,
)
def length_bucket_batching_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH-BUCKETED BATCHING PLAN: docs binned by floor(log2(token
    count + 1)), batches of 32 padded to the bucket cap (2^(b+1)−1,
    the bucket's max possible length) — the plan a training loader
    executes to avoid padding short docs to the global max, with
    `pad_waste` quantifying what bucketing still leaves on the table
    (motivating `pack_sequences_budget`'s tighter packing when waste
    is high).

    Determinism: log2 buckets via the exact `length(bin(n))-1` idiom;
    batch counts are integer ceil-division; pow(2, k) of small ints is
    exact in both engines; one final waste division, ROUND(.,4).

    Scale (100 TB): one corpus pass collapsing map-side to ≤ ~20
    bucket registers."""
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(tokens()).cast("bigint")
    b = d.select(n_tok.alias("n_tok")).where(F.col("n_tok") > 0).select(
        (F.length(F.bin(F.col("n_tok") + 1)) - 1).alias("bkt"), "n_tok"
    )
    g = b.groupBy("bkt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tok_actual"),
    )
    cap = (F.pow(F.lit(2), F.col("bkt") + 1) - 1).cast("bigint")
    n_batches = F.expr("(n_docs + 31) DIV 32")
    tok_padded = (
        n_batches * 32 * (F.pow(F.lit(2), F.col("bkt") + 1) - 1)
    ).cast("bigint")
    return g.select(
        "bkt",
        cap.alias("bucket_cap"),
        "n_docs",
        n_batches.cast("bigint").alias("n_batches"),
        "tok_actual",
        tok_padded.alias("tok_padded"),
        F.round(
            F.lit(1.0)
            - F.col("tok_actual")
            / (
                F.expr("(n_docs + 31) DIV 32")
                * F.lit(32.0)
                * (F.pow(F.lit(2), F.col("bkt") + 1) - 1)
            ),
            4,
        ).alias("pad_waste"),
    ).orderBy("bkt")


# ---------------------------------------------------- sentence_split_stats

@register(
    "sentence_split_stats",
    oracle="""
    WITH d AS (
        SELECT doc_id, source,
               CAST(LEN(list_filter(string_split_regex(text, '[.!?]'),
                                    s -> TRIM(s) <> '')) AS BIGINT)
                   AS n_sent,
               CAST(LEN(list_filter(string_split(text, ' '),
                                    t -> t <> '')) AS BIGINT) AS n_words
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_sent) AS BIGINT) AS total_sentences,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           ROUND(SUM(n_sent) * 1.0 / COUNT(*), 4) AS avg_sentences_per_doc,
           ROUND(SUM(n_words) * 1.0 / NULLIF(SUM(n_sent), 0), 4)
               AS avg_words_per_sentence
    FROM d GROUP BY source ORDER BY source
    """,
)
def sentence_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SENTENCE SEGMENTATION STATS per source: sentences = non-blank
    spans between [.!?] terminators, words = whitespace tokens —
    the words-per-sentence profile that separates prose (12–25) from
    boilerplate/listings (extremes on either side), feeding the same
    quality stack as `quality_gopher_rules` (which thresholds
    per-doc; this reports the per-source distribution the thresholds
    are tuned against).

    Determinism: both engines regex-split on the identical character
    class and TRIM-filter blanks; all counts are exact integers; two
    final divisions, NULLIF-guarded, ROUND(.,4).

    Scale (100 TB): row-local splitting; ONE map-side collapse to
    |sources| rows."""
    d = load(spark, sf_dir, "documents")
    n_sent = F.size(
        F.filter(
            F.split("text", r"[.!?]"), lambda s: F.trim(s) != ""
        )
    ).cast("bigint")
    n_words = F.size(tokens()).cast("bigint")
    s = d.select(
        "source", n_sent.alias("n_sent"), n_words.alias("n_words")
    )
    return (
        s.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_sent").cast("bigint").alias("total_sentences"),
            F.sum("n_words").cast("bigint").alias("total_words"),
            F.round(
                F.sum("n_sent") * F.lit(1.0) / F.count(F.lit(1)), 4
            ).alias("avg_sentences_per_doc"),
            F.round(
                F.sum("n_words")
                * F.lit(1.0)
                / F.nullif(F.sum("n_sent"), F.lit(0)),
                4,
            ).alias("avg_words_per_sentence"),
        )
        .orderBy("source")
    )


# -------------------------------------------------- rouge2_adjacent_recall

@register(
    "rouge2_adjacent_recall",
    oracle="""
    WITH tok AS (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), t -> t <> '') AS t
        FROM documents
    ),
    big AS (
        SELECT doc_id, source, t[i] || ' ' || t[i + 1] AS gram
        FROM (SELECT doc_id, source, t,
                     unnest(generate_series(1, len(t) - 1)) AS i
              FROM tok WHERE len(t) >= 2)
    ),
    bg AS (SELECT DISTINCT doc_id, source, gram FROM big),
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
            FROM bg GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS ref_id, b.doc_id AS cand_id,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM bg a
        JOIN bg b ON b.source = a.source
                 AND b.doc_id = a.doc_id + 1 AND b.gram = a.gram
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.ref_id, p.cand_id, p.n_shared,
           ca.n AS ref_bigrams, cb.n AS cand_bigrams,
           ROUND(p.n_shared * 1.0 / ca.n, 4) AS rouge2_recall,
           ROUND(p.n_shared * 1.0 / cb.n, 4) AS rouge2_precision,
           ROUND(2.0 * p.n_shared / (ca.n + cb.n), 4) AS rouge2_f1
    FROM pairs p
    JOIN cnt ca ON ca.doc_id = p.ref_id
    JOIN cnt cb ON cb.doc_id = p.cand_id
    WHERE p.n_shared * 10 >= ca.n
    ORDER BY ref_id
    """,
)
def rouge2_adjacent_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 (distinct-bigram overlap) scored over the deterministic
    ADJACENT-ID pairing (doc i is reference, doc i+1 in the same
    source is candidate), reporting recall/precision/F1 for pairs
    with ≥10% reference recall — the summarization-eval metric
    harness, exercised on a pairing that needs no gold alignment
    table (the fixture's planted near-dups sit at adjacent ids often
    enough to surface real overlap).  A real eval run swaps the
    pairing join for its (reference, candidate) table; the metric
    tail is unchanged.

    Determinism: distinct-bigram sets and overlap counts are exact
    integers; the ≥10% filter cross-multiplies (n_shared·10 ≥ n_ref)
    instead of dividing; three render divisions, ROUND(.,4).

    Scale (100 TB): bigram streams join on (source, doc_id+1, gram) —
    an equi-join whose build side is the bigram stream itself, NOT a
    pair cross-product; adjacency bounds candidates to one per doc."""
    d = load(spark, sf_dir, "documents")
    toks = tokens()
    base = d.select("doc_id", "source", toks.alias("t")).where(
        F.size("t") >= 2
    )
    bg = base.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> concat(t[i], ' ', t[i + 1]))"
                )
            )
        ).alias("gram"),
    )
    cnt = bg.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = bg.select(
        F.col("doc_id").alias("ref_id"), "source", "gram"
    )
    b = bg.select(
        (F.col("doc_id") - 1).alias("ref_id"),
        F.col("doc_id").alias("cand_id"),
        "source",
        "gram",
    )
    pairs = (
        a.join(b, ["ref_id", "source", "gram"])
        .groupBy("ref_id", "cand_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    ca = cnt.select(
        F.col("doc_id").alias("ref_id"), F.col("n").alias("ref_bigrams")
    )
    cb = cnt.select(
        F.col("doc_id").alias("cand_id"),
        F.col("n").alias("cand_bigrams"),
    )
    return (
        pairs.join(ca, "ref_id")
        .join(cb, "cand_id")
        .where(F.col("n_shared") * 10 >= F.col("ref_bigrams"))
        .select(
            "ref_id",
            "cand_id",
            "n_shared",
            "ref_bigrams",
            "cand_bigrams",
            F.round(
                F.col("n_shared") * F.lit(1.0) / F.col("ref_bigrams"), 4
            ).alias("rouge2_recall"),
            F.round(
                F.col("n_shared") * F.lit(1.0) / F.col("cand_bigrams"), 4
            ).alias("rouge2_precision"),
            F.round(
                F.lit(2.0)
                * F.col("n_shared")
                / (F.col("ref_bigrams") + F.col("cand_bigrams")),
                4,
            ).alias("rouge2_f1"),
        )
        .orderBy("ref_id")
    )


# --------------------------------------------------- char_ngram_profile

@register(
    "char_ngram_profile",
    oracle="""
    WITH pfx AS (
        SELECT lang, SUBSTR(text, 1, 64) AS p
        FROM documents WHERE LENGTH(text) >= 3
    ),
    g AS (
        SELECT lang, SUBSTR(p, i, 3) AS gram
        FROM (SELECT lang, p, unnest(generate_series(1, LENGTH(p) - 2))
                  AS i
              FROM pfx)
    ),
    c AS (
        SELECT lang, gram, CAST(COUNT(*) AS BIGINT) AS c
        FROM g GROUP BY lang, gram
    ),
    r AS (
        SELECT lang, gram, c,
               ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY c DESC, gram) AS rk
        FROM c
    )
    SELECT lang, rk, gram, c
    FROM r WHERE rk <= 20 ORDER BY lang, rk
    """,
)
def char_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-TRIGRAM PROFILE per language: top-20 char 3-grams
    over each document's first 64 characters — the reference profile
    a Cavnar–Trenkle-style language identifier ranks against
    (`lang_id_ngram` consumes exactly this kind of table; this op
    BUILDS it from labeled data).  Profiling the prefix, not the full
    text, is the standard sampling move: trigram distributions
    stabilize within tens of characters, and it caps the explode fan
    at 62 rows/doc regardless of document length.

    Determinism: byte-identical SUBSTR windows in both engines (ASCII
    fixture); counts exact; top-20 per lang via ROW_NUMBER ordered
    (c DESC, gram) — a total order, tie-safe at the cut.

    Scale (100 TB): explode fan ≤ 62/doc (prefix-capped); counts
    collapse map-side to the trigram vocabulary per lang; the top-20
    window runs over that Heaps-bounded table."""
    d = load(spark, sf_dir, "documents").where(F.length("text") >= 3)
    pfx = d.select("lang", F.substring("text", 1, 64).alias("p"))
    g = pfx.select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(p) - 2),"
                " i -> substring(p, i, 3))"
            )
        ).alias("gram"),
    )
    c = g.groupBy("lang", "gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("gram"))
    return (
        c.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 20)
        .select("lang", "rk", "gram", "c")
        .orderBy("lang", "rk")
    )


# ----------------------------------------------- stopword_density_quality

_STOPWORDS = (
    "the,a,an,and,or,but,of,to,in,on,for,with,at,by,from,as,is,was,are,"
    "be,it,that,this,not,has"
)


@register(
    "stopword_density_quality",
    oracle=f"""
    WITH d AS (
        SELECT source,
               list_filter(string_split(text, ' '), t -> t <> '') AS t
        FROM documents
    ),
    m AS (
        SELECT source,
               CAST(LEN(t) AS BIGINT) AS n_tok,
               CAST(LEN(list_filter(t, x -> list_contains(
                   string_split('{_STOPWORDS}', ','), x))) AS BIGINT)
                   AS n_stop
        FROM d WHERE LEN(t) > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_stop) AS BIGINT) AS total_stopwords,
           ROUND(SUM(n_stop) * 1.0 / SUM(n_tok), 6) AS stopword_density,
           CAST(SUM(CASE WHEN n_stop * 10 < n_tok THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_stopword_docs,
           ROUND(SUM(CASE WHEN n_stop * 10 < n_tok THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS low_stopword_share
    FROM m GROUP BY source ORDER BY source
    """,
)
def stopword_density_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STOPWORD-DENSITY QUALITY SIGNAL per source: the share of tokens
    drawn from a fixed 25-word English function-word list, plus the
    share of docs under 10% density — prose carries ~30–50% function
    words, so a low-density source is listings/code/boilerplate, the
    exact C4-era screen (`quality_c4_rules` applies a related rule
    per doc; this profiles sources so the floor can be set).

    Determinism: the stoplist is a shared literal; membership counts
    all occurrences (not distinct) as exact integers; the 10%
    threshold cross-multiplies (n_stop·10 < n_tok); two render
    divisions, ROUND.

    Scale (100 TB): row-local membership filtering against a 25-entry
    literal array; ONE map-side collapse to |sources| rows."""
    d = load(spark, sf_dir, "documents")
    stop_arr = "array(" + ",".join(
        f"'{w}'" for w in _STOPWORDS.split(",")
    ) + ")"
    toks = tokens()
    m = d.select(
        "source",
        F.size(toks).cast("bigint").alias("n_tok"),
        F.size(F.filter(toks, lambda x: F.array_contains(F.expr(stop_arr), x)))
        .cast("bigint")
        .alias("n_stop"),
    ).where(F.col("n_tok") > 0)
    low = F.when(F.col("n_stop") * 10 < F.col("n_tok"), 1).otherwise(0)
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.sum("n_stop").cast("bigint").alias("total_stopwords"),
            F.round(
                F.sum("n_stop") * F.lit(1.0) / F.sum("n_tok"), 6
            ).alias("stopword_density"),
            F.sum(low).cast("bigint").alias("n_low_stopword_docs"),
            F.round(
                F.sum(low) * F.lit(1.0) / F.count(F.lit(1)), 4
            ).alias("low_stopword_share"),
        )
        .orderBy("source")
    )


# ------------------------------------------------- readability_fk_score

@register(
    "readability_fk_score",
    oracle="""
    WITH d AS (
        SELECT source,
               CAST(LEN(list_filter(string_split(text, ' '),
                                    t -> t <> '')) AS BIGINT) AS n_words,
               CAST(GREATEST(LEN(list_filter(
                        string_split_regex(text, '[.!?]'),
                        s -> TRIM(s) <> '')), 1) AS BIGINT) AS n_sent,
               CAST(LEN(regexp_extract_all(LOWER(text), '[aeiouy]+'))
                    AS BIGINT) AS n_syll
        FROM documents
    ),
    m AS (
        SELECT source, n_words, n_sent, n_syll FROM d WHERE n_words > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_sent) AS BIGINT) AS total_sentences,
           CAST(SUM(n_syll) AS BIGINT) AS total_syllables,
           ROUND(0.39 * (CAST(SUM(n_words) AS DOUBLE) / SUM(n_sent))
                 + 11.8 * (CAST(SUM(n_syll) AS DOUBLE) / SUM(n_words))
                 - 15.59, 4) AS fk_grade
    FROM m GROUP BY source ORDER BY source
    """,
)
def readability_fk_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLESCH–KINCAID GRADE LEVEL per source with the standard
    vowel-group syllable proxy (maximal [aeiouy]+ runs): 0.39·(words/
    sentence) + 11.8·(syllables/word) − 15.59 — the readability
    number content-quality dashboards track next to
    `quality_score`'s blend; sources drifting to extreme grades are
    OCR junk (high) or listings (low).  Sentence counts floor at 1 so
    terminator-free docs still score.

    Determinism: word/sentence/syllable counts are exact integers
    from identical regex semantics in both engines; the FK tree
    evaluates once per source from exact sums, ROUND(.,4).

    Scale (100 TB): row-local regex counting; ONE map-side collapse
    to |sources| 4-register rows."""
    d = load(spark, sf_dir, "documents")
    n_words = F.size(tokens()).cast("bigint")
    n_sent = F.greatest(
        F.size(
            F.filter(
                F.split("text", r"[.!?]"), lambda s: F.trim(s) != ""
            )
        ),
        F.lit(1),
    ).cast("bigint")
    n_syll = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    ).cast("bigint")
    m = d.select(
        "source",
        n_words.alias("n_words"),
        n_sent.alias("n_sent"),
        n_syll.alias("n_syll"),
    ).where(F.col("n_words") > 0)
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
            F.sum("n_sent").cast("bigint").alias("total_sentences"),
            F.sum("n_syll").cast("bigint").alias("total_syllables"),
            F.round(
                F.lit(0.39)
                * (F.sum("n_words").cast("double") / F.sum("n_sent"))
                + F.lit(11.8)
                * (F.sum("n_syll").cast("double") / F.sum("n_words"))
                - F.lit(15.59),
                4,
            ).alias("fk_grade"),
        )
        .orderBy("source")
    )
