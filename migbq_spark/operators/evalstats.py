"""Exact ML-evaluation metrics and nonparametric k-sample/paired tests
(§2.K extension batch) — the model-eval and experiment-analysis
queries a warehouse fed by migbq-style ingestion runs once labeled
outcomes land next to scores (public formulas: Fawcett 2006 "An
introduction to ROC analysis"; Davis & Goadrich 2006 PR/ROC; Murphy
1973 Brier decomposition; Cohen 1960 kappa; Matthews 1975; Kruskal &
Wallis 1952; McNemar 1947; Cochran 1950; Wilcoxon 1945; Mood 1950).

Design rules (house determinism idioms, SURVEY.md §6):
- every rank statistic comes from the value FREQUENCY table (rank
  arithmetic on counts — the corpus is never globally sorted), with
  strict-less counts from `_rank_prefix`, a hierarchical two-phase
  prefix with NO single-partition WindowExec (mann_whitney_u_value is
  the reference shape);
- cross-row/cross-group double sums are floor-quantized to int64
  micro/nano units BEFORE summing (order-insensitive);
- terminal doubles come from exact integers through ONE fixed IEEE
  expression tree written identically in the Spark plan and the DuckDB
  oracle, behind ROUND.

Scale notes (100 TB): every op collapses the corpus with one
map-side-combinable aggregation (groupBy on quantized cents values or
on user_id) before any join; joins after the collapse run on
value-domain- or user-bounded tables.  Int64 budgets are stated per op
where products of counts appear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from migbq_spark.catalog import load
from migbq_spark.registry import register

#: Quantize a dollars double to exact int64 cents (shared idiom).
_CENTS = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"


def _rank_prefix(freq: DataFrame, val: str, cols: list[str]) -> DataFrame:
    """Add, for each name in ``cols``, a column ``{name}_lt`` holding the
    exact int64 sum of that column over rows with strictly smaller
    ``val`` — the building block for midrank statistics.

    Hierarchical two-phase prefix (the mann_whitney_u_value shape):
    (1) within-bucket cumsum via a window PARTITIONED by the 256-unit
    range bucket, (2) within-super-bucket cumsum over bucket totals
    partitioned by the 1024-bucket super-bucket, (3) prefix over the
    <= |domain|/2^18 super-bucket totals via a broadcast theta-join
    aggregation.  No single-partition WindowExec anywhere; range (not
    hash) buckets preserve global order so the three levels compose.
    ``(val - pmod(val, w)) DIV w`` is exact floor division for any sign
    because the dividend is an exact multiple of w.
    """
    keep = freq.columns
    f = freq.withColumn(
        "_vb",
        F.expr(f"CAST(({val} - pmod({val}, 256)) DIV 256 AS BIGINT)"),
    )
    w1 = (
        Window.partitionBy("_vb")
        .orderBy(val)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    for c in cols:
        f = f.withColumn(
            f"_{c}_inb", F.coalesce(F.sum(c).over(w1), F.lit(0))
        )
    btot = f.groupBy("_vb").agg(
        *[F.sum(c).cast("bigint").alias(f"_{c}_b") for c in cols]
    )
    btot = btot.withColumn(
        "_sb", F.expr("CAST((_vb - pmod(_vb, 1024)) DIV 1024 AS BIGINT)")
    )
    w2 = (
        Window.partitionBy("_sb")
        .orderBy("_vb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bpre = btot
    for c in cols:
        bpre = bpre.withColumn(
            f"_{c}_insb", F.coalesce(F.sum(f"_{c}_b").over(w2), F.lit(0))
        )
    stot = btot.groupBy("_sb").agg(
        *[F.sum(f"_{c}_b").cast("bigint").alias(f"_{c}_s") for c in cols]
    )
    pre_sb = (
        stot.select(F.col("_sb").alias("_sb_l"))
        .join(F.broadcast(stot), F.col("_sb") < F.col("_sb_l"), "left")
        .groupBy("_sb_l")
        .agg(
            *[
                F.coalesce(F.sum(f"_{c}_s"), F.lit(0))
                .cast("bigint")
                .alias(f"_{c}_befs")
                for c in cols
            ]
        )
        .withColumnRenamed("_sb_l", "_sb")
    )
    bucket_pre = bpre.join(F.broadcast(pre_sb), "_sb").select(
        "_vb",
        *[
            (F.col(f"_{c}_insb") + F.col(f"_{c}_befs"))
            .cast("bigint")
            .alias(f"_{c}_pre")
            for c in cols
        ],
    )
    res = f.join(F.broadcast(bucket_pre), "_vb")
    for c in cols:
        res = res.withColumn(
            f"{c}_lt",
            (F.col(f"_{c}_inb") + F.col(f"_{c}_pre")).cast("bigint"),
        )
    return res.select(*keep, *[f"{c}_lt" for c in cols])


# ---------------------------------------------------------- roc_auc_exact

@register(
    "roc_auc_exact",
    oracle="""
    WITH s AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    freq AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(p) AS BIGINT) AS cp
        FROM s GROUP BY v
    ),
    rk AS (
        SELECT v, c, cp,
               COALESCE(SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS c_lt
        FROM freq
    ),
    tot AS (
        SELECT CAST(SUM(cp) AS BIGINT) AS np,
               CAST(SUM(c - cp) AS BIGINT) AS nn,
               CAST(SUM(cp * (2 * c_lt + c + 1)) AS BIGINT) AS r2p
        FROM rk
    )
    SELECT np AS n_pos, nn AS n_neg,
           CAST(r2p - np * (np + 1) AS BIGINT) AS u2_pos,
           ROUND(CAST(r2p - np * (np + 1) AS DOUBLE)
                 / (2.0 * np * nn), 6) AS auc,
           ROUND((CAST(r2p - np * (np + 1) AS DOUBLE)
                  - CAST(np AS DOUBLE) * nn)
                 / (CAST(np AS DOUBLE) * nn), 6) AS gini
    FROM tot
    """,
)
def roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of "value separates purchases from clicks" — AUC
    as the normalized Mann-Whitney U (Fawcett 2006 §7): AUC =
    P(score_pos > score_neg) + P(=)/2, computed from midranks over the
    cents-value frequency table, so ties are handled exactly and the
    corpus is never sorted.  2*R_pos = sum cp*(2*|{<v}| + c + 1) is an
    exact int64; AUC = (2R_pos - n_pos(n_pos+1)) / (2 n_pos n_neg) and
    the Gini coefficient 2*AUC-1 derive through one fixed double tree.

    Determinism: all rank arithmetic exact int64 (budget: 2R <=
    N(N+1), safe to N ~ 3e9); two ROUND(.,6) doubles.

    Scale (100 TB): one groupBy(v) collapse, `_rank_prefix` (no
    single-partition window), one scalar rollup."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = ev.select(
        F.expr(_CENTS).alias("v"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("p"),
    )
    freq = s.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("p").cast("bigint").alias("cp"),
    )
    rk = _rank_prefix(freq, "v", ["c"])
    tot = rk.agg(
        F.sum("cp").cast("bigint").alias("np"),
        F.sum(F.col("c") - F.col("cp")).cast("bigint").alias("nn"),
        F.sum(
            F.col("cp")
            * (F.lit(2) * F.col("c_lt") + F.col("c") + F.lit(1))
        )
        .cast("bigint")
        .alias("r2p"),
    )
    u2 = F.col("r2p") - F.col("np") * (F.col("np") + 1)
    u2d = u2.cast("double")
    npd = F.col("np").cast("double")
    return tot.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        u2.cast("bigint").alias("u2_pos"),
        F.round(u2d / (F.lit(2.0) * F.col("np") * F.col("nn")), 6).alias(
            "auc"
        ),
        F.round(
            (u2d - npd * F.col("nn")) / (npd * F.col("nn")), 6
        ).alias("gini"),
    )


# ------------------------------------------------------ pr_auc_trapezoid

@register(
    "pr_auc_trapezoid",
    oracle="""
    WITH s AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    freq AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(p) AS BIGINT) AS cp
        FROM s GROUP BY v
    ),
    rk AS (
        SELECT v, c, cp,
               COALESCE(SUM(c) OVER (ORDER BY v DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS c_gt,
               COALESCE(SUM(cp) OVER (ORDER BY v DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cp_gt
        FROM freq
    ),
    tot AS (
        SELECT CAST(SUM(cp) AS BIGINT) AS np,
               CAST(SUM(c - cp) AS BIGINT) AS nn,
               CAST(COUNT(*) AS BIGINT) AS n_blocks
        FROM freq
    ),
    terms AS (
        SELECT CAST(FLOOR(
                   ((CAST(cp_gt + cp AS DOUBLE) / tot.np
                     - CAST(cp_gt AS DOUBLE) / tot.np)
                    * (CAST(cp_gt + cp AS DOUBLE) / (c_gt + c)
                       + CASE WHEN c_gt = 0 THEN 1.0
                         ELSE CAST(cp_gt AS DOUBLE) / c_gt END)
                    / 2.0) * 1000000000.0) AS BIGINT) AS tq
        FROM rk CROSS JOIN tot
    )
    SELECT tot.np AS n_pos, tot.nn AS n_neg, tot.n_blocks,
           ROUND(CAST((SELECT SUM(tq) FROM terms) AS DOUBLE)
                 / 1000000000.0, 6) AS pr_auc
    FROM tot
    """,
)
def pr_auc_trapezoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PR-AUC by trapezoidal interpolation over distinct-score blocks
    (Davis & Goadrich 2006): scores descend block-by-block; at each
    block boundary recall = cum_pos/P and precision = cum_pos/cum_all
    are exact-integer ratios, and the curve area is the sum of
    trapezoids between consecutive boundaries (anchor point recall 0,
    precision 1).  Tie-safe by construction — a tie block contributes
    ONE trapezoid, never an arbitrary within-tie ordering.

    Determinism: cumulative counts exact int64 via `_rank_prefix` on
    the NEGATED value (strict-less on -v == strict-greater on v); each
    trapezoid is one fixed double tree floor-quantized to nano units
    before the order-insensitive int64 sum (budget: total area <= 1 ->
    sum <= 1e9).

    Scale (100 TB): identical shape to `roc_auc_exact` — one
    groupBy(v) collapse, hierarchical prefix, scalar rollup; the
    per-block term is arithmetic on the collapsed table."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = ev.select(
        F.expr(_CENTS).alias("v"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("p"),
    )
    freq = s.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("p").cast("bigint").alias("cp"),
    )
    rk = (
        _rank_prefix(
            freq.withColumn("nv", -F.col("v")), "nv", ["c", "cp"]
        )
        .withColumnRenamed("c_lt", "c_gt")
        .withColumnRenamed("cp_lt", "cp_gt")
    )
    tot = freq.agg(
        F.sum("cp").cast("bigint").alias("np"),
        F.sum(F.col("c") - F.col("cp")).cast("bigint").alias("nn"),
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
    )
    j = rk.crossJoin(F.broadcast(tot))
    cum_pos = (F.col("cp_gt") + F.col("cp")).cast("double")
    r_k = cum_pos / F.col("np")
    r_prev = F.col("cp_gt").cast("double") / F.col("np")
    p_k = cum_pos / (F.col("c_gt") + F.col("c"))
    p_prev = F.when(F.col("c_gt") == 0, F.lit(1.0)).otherwise(
        F.col("cp_gt").cast("double") / F.col("c_gt")
    )
    tq = F.floor(
        ((r_k - r_prev) * (p_k + p_prev) / F.lit(2.0))
        * F.lit(1000000000.0)
    ).cast("bigint")
    acc = j.agg(
        F.max("np").alias("n_pos"),
        F.max("nn").alias("n_neg"),
        F.max("n_blocks").alias("n_blocks"),
        F.sum(tq).cast("bigint").alias("tqs"),
    )
    return acc.select(
        "n_pos",
        "n_neg",
        "n_blocks",
        F.round(
            F.col("tqs").cast("double") / F.lit(1000000000.0), 6
        ).alias("pr_auc"),
    )

# ----------------------------------------------- calibration_bins_report

@register(
    "calibration_bins_report",
    oracle="""
    WITH s AS (
        SELECT CAST(FLOOR((value / (value + 100.0)) * 1000000.0)
                    AS BIGINT) AS pm,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE event_type IN ('click', 'purchase')
    )
    SELECT CAST(pm // 100000 AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           ROUND(CAST(SUM(pm) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
               AS mean_p,
           ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS pos_rate,
           ROUND(CAST(SUM(pm) AS DOUBLE) / COUNT(*) / 1000000.0
                 - CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS calib_gap
    FROM s GROUP BY pm // 100000 ORDER BY bin
    """,
)
def calibration_bins_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELIABILITY-DIAGRAM TABLE (10 fixed-width probability bins) for
    the deterministic score p = value/(value+100) against the
    purchase outcome: per bin, mean predicted probability vs observed
    positive rate and their gap — the calibration audit run before
    trusting any model score as a probability (public: DeGroot &
    Fienberg 1983).  The score is a fixed rational of the value column
    (a stand-in for a model score column; the PLUMBING — binning,
    micro-quantized means, gap — is the operator).

    Determinism: p quantizes to micro units per row BEFORE any sum;
    the bin is derived from the SAME quantized int (pm DIV 1e5), so
    bin edges cannot disagree with the mean numerator; int64 budget
    sum(pm) <= 1e6 * N (safe to N ~ 9e12 rows).

    Scale (100 TB): single map-side-combinable groupBy over 10 keys —
    the cheapest shape in the registry."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = ev.select(
        F.floor(
            (F.col("value") / (F.col("value") + F.lit(100.0)))
            * F.lit(1000000.0)
        )
        .cast("bigint")
        .alias("pm"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    g = s.groupBy(
        F.expr("CAST(pm DIV 100000 AS BIGINT)").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum("pm").cast("bigint").alias("spm"),
    )
    mean_p = F.col("spm").cast("double") / F.col("n") / F.lit(1000000.0)
    pos_rate = F.col("n_pos").cast("double") / F.col("n")
    return g.select(
        "bin",
        "n",
        "n_pos",
        F.round(mean_p, 6).alias("mean_p"),
        F.round(pos_rate, 6).alias("pos_rate"),
        F.round(mean_p - pos_rate, 6).alias("calib_gap"),
    ).orderBy("bin")


# ------------------------------------------- brier_score_decomposition

@register(
    "brier_score_decomposition",
    oracle="""
    WITH s AS (
        SELECT CAST(FLOOR((value / (value + 100.0)) * 1000000.0)
                    AS BIGINT) AS pm,
               CAST(FLOOR(((value / (value + 100.0))
                           - CASE WHEN event_type = 'purchase'
                             THEN 1.0 ELSE 0.0 END)
                          * ((value / (value + 100.0))
                             - CASE WHEN event_type = 'purchase'
                               THEN 1.0 ELSE 0.0 END)
                          * 1000000000.0) AS BIGINT) AS bsq,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    bins AS (
        SELECT pm // 100000 AS bin, CAST(COUNT(*) AS BIGINT) AS nk,
               CAST(SUM(y) AS BIGINT) AS pk,
               CAST(SUM(pm) AS BIGINT) AS spm
        FROM s GROUP BY pm // 100000
    ),
    tot AS (
        SELECT CAST(SUM(nk) AS BIGINT) AS n,
               CAST(SUM(pk) AS BIGINT) AS p,
               CAST((SELECT SUM(bsq) FROM s) AS BIGINT) AS sbsq
        FROM bins
    ),
    parts AS (
        SELECT CAST(FLOOR(CAST(nk AS DOUBLE)
                   * (CAST(spm AS DOUBLE) / nk / 1000000.0
                      - CAST(pk AS DOUBLE) / nk)
                   * (CAST(spm AS DOUBLE) / nk / 1000000.0
                      - CAST(pk AS DOUBLE) / nk)
                   * 1000000000.0) AS BIGINT) AS relq,
               CAST(FLOOR(CAST(nk AS DOUBLE)
                   * (CAST(pk AS DOUBLE) / nk
                      - CAST(tot.p AS DOUBLE) / tot.n)
                   * (CAST(pk AS DOUBLE) / nk
                      - CAST(tot.p AS DOUBLE) / tot.n)
                   * 1000000000.0) AS BIGINT) AS resq
        FROM bins CROSS JOIN tot
    )
    SELECT tot.n,
           ROUND(CAST(tot.sbsq AS DOUBLE) / tot.n / 1000000000.0, 6)
               AS brier,
           ROUND(CAST((SELECT SUM(relq) FROM parts) AS DOUBLE)
                 / tot.n / 1000000000.0, 6) AS reliability,
           ROUND(CAST((SELECT SUM(resq) FROM parts) AS DOUBLE)
                 / tot.n / 1000000000.0, 6) AS resolution,
           ROUND(CAST(tot.p AS DOUBLE) / tot.n
                 * (1.0 - CAST(tot.p AS DOUBLE) / tot.n), 6)
               AS uncertainty
    FROM tot
    """,
)
def brier_score_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIER SCORE with the Murphy (1973) three-way decomposition
    (reliability - resolution + uncertainty) over the same score/bin
    construction as `calibration_bins_report`: the one-number summary
    plus WHERE the error comes from (mis-calibration vs lack of
    discrimination vs base-rate entropy).

    Determinism: the per-row (p-y)^2 term is nano-quantized BEFORE the
    corpus sum (budget 1e9*N -> safe to N ~ 9e9 rows; re-quantize
    coarser past that); the <= 10 per-bin reliability/resolution terms
    are nano-quantized before their cross-bin sums (the <=5-term-sum
    rule — engine order differs even at 10 terms); squares are
    explicit d*d, never POWER (1-ulp Math.pow divergence).

    Scale (100 TB): one corpus pass -> 10-row bin table; everything
    after is arithmetic on <= 10 rows."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    p = F.col("value") / (F.col("value") + F.lit(100.0))
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    yd = F.when(
        F.col("event_type") == "purchase", F.lit(1.0)
    ).otherwise(F.lit(0.0))
    s = ev.select(
        F.floor(p * F.lit(1000000.0)).cast("bigint").alias("pm"),
        F.floor((p - yd) * (p - yd) * F.lit(1000000000.0))
        .cast("bigint")
        .alias("bsq"),
        y.alias("y"),
    )
    bins = s.groupBy(F.expr("pm DIV 100000").alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nk"),
        F.sum("y").cast("bigint").alias("pk"),
        F.sum("pm").cast("bigint").alias("spm"),
    )
    tot = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("p"),
        F.sum("bsq").cast("bigint").alias("sbsq"),
    )
    jb = bins.crossJoin(F.broadcast(tot))
    pbar = F.col("spm").cast("double") / F.col("nk") / F.lit(1000000.0)
    obar_k = F.col("pk").cast("double") / F.col("nk")
    obar = F.col("p").cast("double") / F.col("n")
    relq = F.floor(
        F.col("nk").cast("double")
        * (pbar - obar_k)
        * (pbar - obar_k)
        * F.lit(1000000000.0)
    ).cast("bigint")
    resq = F.floor(
        F.col("nk").cast("double")
        * (obar_k - obar)
        * (obar_k - obar)
        * F.lit(1000000000.0)
    ).cast("bigint")
    parts = jb.agg(
        F.sum(relq).cast("bigint").alias("srel"),
        F.sum(resq).cast("bigint").alias("sres"),
    )
    out = tot.crossJoin(F.broadcast(parts))
    return out.select(
        "n",
        F.round(
            F.col("sbsq").cast("double")
            / F.col("n")
            / F.lit(1000000000.0),
            6,
        ).alias("brier"),
        F.round(
            F.col("srel").cast("double")
            / F.col("n")
            / F.lit(1000000000.0),
            6,
        ).alias("reliability"),
        F.round(
            F.col("sres").cast("double")
            / F.col("n")
            / F.lit(1000000000.0),
            6,
        ).alias("resolution"),
        F.round(obar * (F.lit(1.0) - obar), 6).alias("uncertainty"),
    )


# ----------------------------------------------- cohens_kappa_agreement

@register(
    "cohens_kappa_agreement",
    oracle="""
    WITH s AS (
        SELECT CASE WHEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT) < 5000 THEN 'low'
                    WHEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT) < 15000 THEN 'mid'
                    ELSE 'high' END AS ra,
               CASE WHEN event_type IN ('view', 'signup') THEN 'low'
                    WHEN event_type IN ('click', 'error') THEN 'mid'
                    ELSE 'high' END AS rb
        FROM events
    ),
    conf AS (
        SELECT ra, rb, CAST(COUNT(*) AS BIGINT) AS c
        FROM s GROUP BY ra, rb
    ),
    marg AS (
        SELECT t.n, t.diag, t.spc FROM (
            SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN ra = rb THEN c ELSE 0 END)
                        AS BIGINT) AS diag,
                   CAST((SELECT SUM(r.rc * cb.cc) FROM
                         (SELECT ra, SUM(c) AS rc FROM conf GROUP BY ra) r
                         JOIN (SELECT rb, SUM(c) AS cc FROM conf
                               GROUP BY rb) cb ON r.ra = cb.rb)
                        AS BIGINT) AS spc
            FROM conf) t
    )
    SELECT n,
           ROUND(CAST(diag AS DOUBLE) / n, 6) AS po,
           ROUND(CAST(spc AS DOUBLE) / n / n, 6) AS pe,
           ROUND((CAST(diag AS DOUBLE) / n
                  - CAST(spc AS DOUBLE) / n / n)
                 / (1.0 - CAST(spc AS DOUBLE) / n / n), 6) AS kappa
    FROM marg
    """,
)
def cohens_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA (1960) inter-rater agreement between two
    deterministic 3-class labelings of every event — rater A tiers the
    cents value (low < $50 <= mid < $150 <= high), rater B tiers the
    event type — i.e. chance-corrected agreement between a
    value-derived and a behavior-derived label (the label-vs-heuristic
    audit a training-data pipeline runs on weak labels).

    Determinism: confusion counts exact int64; expected agreement uses
    exact row-total x col-total products (budget sum(r*c) <= N^2 ->
    safe to N ~ 3e9 rows; past that compute pe per class in quantized
    doubles); po, pe, kappa through one fixed tree each, ROUND(.,6).

    Scale (100 TB): one groupBy over <= 9 confusion keys; margins
    derive FROM the cells (no second scan)."""
    ev = load(spark, sf_dir, "events")
    v = F.expr(_CENTS)
    s = ev.select(
        F.when(v < 5000, "low")
        .when(v < 15000, "mid")
        .otherwise("high")
        .alias("ra"),
        F.when(F.col("event_type").isin("view", "signup"), "low")
        .when(F.col("event_type").isin("click", "error"), "mid")
        .otherwise("high")
        .alias("rb"),
    )
    conf = s.groupBy("ra", "rb").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    conf = conf.localCheckpoint(eager=True)
    rt = conf.groupBy("ra").agg(F.sum("c").cast("bigint").alias("rc"))
    ct = conf.groupBy("rb").agg(F.sum("c").cast("bigint").alias("cc"))
    spc = (
        rt.join(F.broadcast(ct), rt["ra"] == ct["rb"])
        .agg(F.sum(F.col("rc") * F.col("cc")).cast("bigint").alias("spc"))
    )
    base = conf.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.when(F.col("ra") == F.col("rb"), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("diag"),
    )
    out = base.crossJoin(F.broadcast(spc))
    po = F.col("diag").cast("double") / F.col("n")
    pe = F.col("spc").cast("double") / F.col("n") / F.col("n")
    return out.select(
        "n",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


# ------------------------------------------------ mcc_binary_confusion

@register(
    "mcc_binary_confusion",
    oracle="""
    WITH s AS (
        SELECT CASE WHEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT) >= 5000 THEN 1 ELSE 0 END
                   AS pred,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    conf AS (
        SELECT CAST(SUM(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tn
        FROM s
    )
    SELECT tp, fp, fn, tn,
           ROUND(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6)
               AS accuracy,
           ROUND(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1,
           ROUND(CAST(tp * tn - fp * fn AS DOUBLE)
                 / SQRT(CAST(tp + fp AS DOUBLE) * (tp + fn)
                        * (tn + fp) * (tn + fn)), 6) AS mcc
    FROM conf
    """,
)
def mcc_binary_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTHEWS CORRELATION COEFFICIENT (1975) plus accuracy and F1
    from the 2x2 confusion of the threshold classifier "value >= $50
    predicts purchase" over the click/purchase arms — the
    class-imbalance-robust single-number eval (public: Chicco &
    Jurman 2020 argue MCC over F1/accuracy).

    Determinism: four exact int64 cells; the MCC numerator tp*tn-fp*fn
    stays integral (budget <= N^2/4 -> safe to N ~ 6e9 rows; past
    that, cast cells to double first); denominator is one SQRT of a
    fixed double product chain.

    Scale (100 TB): single conditional-count aggregation — one corpus
    pass, four counters."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    v = F.expr(_CENTS)
    s = ev.select(
        F.when(v >= 5000, 1).otherwise(0).alias("pred"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    conf = s.agg(
        F.sum(
            F.when((F.col("pred") == 1) & (F.col("y") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("tp"),
        F.sum(
            F.when((F.col("pred") == 1) & (F.col("y") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("fp"),
        F.sum(
            F.when((F.col("pred") == 0) & (F.col("y") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("fn"),
        F.sum(
            F.when((F.col("pred") == 0) & (F.col("y") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("tn"),
    )
    num = (F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("tp") + F.col("fp")).cast("double")
        * (F.col("tp") + F.col("fn"))
        * (F.col("tn") + F.col("fp"))
        * (F.col("tn") + F.col("fn"))
    )
    return conf.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(
            (F.col("tp") + F.col("tn")).cast("double")
            / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")),
            6,
        ).alias("accuracy"),
        F.round(
            F.lit(2.0)
            * F.col("tp")
            / (F.lit(2.0) * F.col("tp") + F.col("fp") + F.col("fn")),
            6,
        ).alias("f1"),
        F.round(num / den, 6).alias("mcc"),
    )


# ---------------------------------------------- kruskal_wallis_value

@register(
    "kruskal_wallis_value",
    oracle="""
    WITH s AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
               event_type AS g
        FROM events
    ),
    freq AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY v
    ),
    rk AS (
        SELECT v, c,
               COALESCE(SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS c_lt
        FROM freq
    ),
    gv AS (
        SELECT g, v, CAST(COUNT(*) AS BIGINT) AS cg
        FROM s GROUP BY g, v
    ),
    grp AS (
        SELECT gv.g, CAST(SUM(gv.cg) AS BIGINT) AS ng,
               CAST(SUM(gv.cg * (2 * rk.c_lt + rk.c + 1)) AS BIGINT)
                   AS r2g
        FROM gv JOIN rk USING (v) GROUP BY gv.g
    ),
    tot AS (
        SELECT CAST(SUM(ng) AS BIGINT) AS nn,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM grp
    ),
    hterms AS (
        SELECT CAST(FLOOR(
                   3.0 * CAST(r2g AS DOUBLE) * r2g
                   / (CAST(ng AS DOUBLE) * tot.nn * (tot.nn + 1.0))
                   * 1000000.0) AS BIGINT) AS tq
        FROM grp CROSS JOIN tot
    ),
    tie AS (
        SELECT CAST(FLOOR(
                   (CAST(c AS DOUBLE) * c * c - c)
                   / (CAST(tot.nn AS DOUBLE) * tot.nn * tot.nn - tot.nn)
                   * 1000000000000.0) AS BIGINT) AS sq
        FROM freq CROSS JOIN tot
    )
    SELECT tot.k AS k_groups, tot.nn AS n_total,
           ROUND(CAST((SELECT SUM(tq) FROM hterms) AS DOUBLE)
                 / 1000000.0 - 3.0 * (tot.nn + 1.0), 4) AS h_stat,
           ROUND(1.0 - CAST((SELECT SUM(sq) FROM tie) AS DOUBLE)
                       / 1000000000000.0, 8) AS tie_c,
           ROUND((CAST((SELECT SUM(tq) FROM hterms) AS DOUBLE)
                  / 1000000.0 - 3.0 * (tot.nn + 1.0))
                 / (1.0 - CAST((SELECT SUM(sq) FROM tie) AS DOUBLE)
                          / 1000000000000.0), 4) AS h_tie_adj
    FROM tot
    """,
)
def kruskal_wallis_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS H (1952) across ALL event-type arms — the
    k-sample generalization of `mann_whitney_u_value` and the
    nonparametric sibling of `anova_oneway_value`: H = 12/(N(N+1)) *
    sum R_g^2/n_g - 3(N+1) over midrank sums, with the tie correction
    C = 1 - sum(c^3-c)/(N^3-N) from the same frequency table.

    Determinism: 2*R_g = sum cg*(2*|{<v}| + c + 1) exact int64 (so
    12*(R_g)^2 = 3*(2R_g)^2); each per-group H term and per-value tie
    term is floor-quantized (micro / pico) before its cross-row sum;
    squares/cubes by explicit multiplication, never POWER.

    Scale (100 TB): one groupBy(v) + one groupBy(g,v) collapse (both
    map-side-combinable), `_rank_prefix` over the frequency table (no
    single-partition window), then a value-domain-bounded join and a
    k-row rollup.  Negative result (measured): deriving freq
    FROM the gv cells does NOT save the second corpus scan — exchange
    reuse never fires across the two consumer branches (18 planned
    scans, warm 1.76 -> 2.13 s sf0.1), and localCheckpointing the
    dimension-sized gv cells costs MORE end-to-end than the saved
    scan at fixture scales (5.26 s vs 1.76 s sf0.1; 3.31 vs 2.43 s
    sf1 — eager materialization + 18 ExistingRDD references).  The
    independent two-collapse shape stays; at true 100 TB the
    checkpoint trade flips and the swap is one line."""
    ev = load(spark, sf_dir, "events")
    s = ev.select(F.expr(_CENTS).alias("v"), F.col("event_type").alias("g"))
    freq = s.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    rk = _rank_prefix(freq, "v", ["c"])
    gv = s.groupBy("g", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cg")
    )
    grp = (
        gv.join(rk, "v")
        .groupBy("g")
        .agg(
            F.sum("cg").cast("bigint").alias("ng"),
            F.sum(
                F.col("cg")
                * (F.lit(2) * F.col("c_lt") + F.col("c") + F.lit(1))
            )
            .cast("bigint")
            .alias("r2g"),
        )
    )
    tot = grp.agg(
        F.sum("ng").cast("bigint").alias("nn"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    ht = grp.crossJoin(F.broadcast(tot)).select(
        F.floor(
            F.lit(3.0)
            * F.col("r2g").cast("double")
            * F.col("r2g")
            / (
                F.col("ng").cast("double")
                * F.col("nn")
                * (F.col("nn") + F.lit(1.0))
            )
            * F.lit(1000000.0)
        )
        .cast("bigint")
        .alias("tq")
    )
    tie = freq.crossJoin(F.broadcast(tot)).select(
        F.floor(
            (F.col("c").cast("double") * F.col("c") * F.col("c") - F.col("c"))
            / (
                F.col("nn").cast("double") * F.col("nn") * F.col("nn")
                - F.col("nn")
            )
            * F.lit(1000000000000.0)
        )
        .cast("bigint")
        .alias("sq")
    )
    hsum = ht.agg(F.sum("tq").cast("bigint").alias("tqs"))
    tsum = tie.agg(F.sum("sq").cast("bigint").alias("sqs"))
    out = tot.crossJoin(F.broadcast(hsum)).crossJoin(F.broadcast(tsum))
    h_raw = F.col("tqs").cast("double") / F.lit(1000000.0) - F.lit(3.0) * (
        F.col("nn") + F.lit(1.0)
    )
    c_tie = F.lit(1.0) - F.col("sqs").cast("double") / F.lit(
        1000000000000.0
    )
    return out.select(
        F.col("k").alias("k_groups"),
        F.col("nn").alias("n_total"),
        F.round(h_raw, 4).alias("h_stat"),
        F.round(c_tie, 8).alias("tie_c"),
        F.round(h_raw / c_tie, 4).alias("h_tie_adj"),
    )


# ----------------------------------------------------- mcnemar_test

@register(
    "mcnemar_test",
    oracle="""
    WITH u AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'click'
                        AND CAST(CAST(value AS DECIMAL(18,2)) * 100
                                 AS BIGINT) > 20000
                        THEN 1 ELSE 0 END) AS x1,
               MAX(CASE WHEN event_type = 'purchase'
                        AND CAST(CAST(value AS DECIMAL(18,2)) * 100
                                 AS BIGINT) > 20000
                        THEN 1 ELSE 0 END) AS x2
        FROM events GROUP BY user_id
    ),
    c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN x1 = 1 AND x2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n10,
               CAST(SUM(CASE WHEN x1 = 0 AND x2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n01,
               CAST(SUM(CASE WHEN x1 = 1 AND x2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n11,
               CAST(SUM(CASE WHEN x1 = 0 AND x2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n00
        FROM u
    )
    SELECT n_users, n10, n01, n11, n00,
           ROUND((ABS(CAST(n10 AS DOUBLE) - n01) - 1.0)
                 * (ABS(CAST(n10 AS DOUBLE) - n01) - 1.0)
                 / NULLIF(CAST(n10 AS DOUBLE) + n01, 0.0), 6)
               AS chi2_cc
    FROM c
    """,
)
def mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR'S TEST (1947, continuity-corrected) on the paired
    binary outcomes "user ever clicked" vs "user ever purchased": only
    the discordant cells n10/n01 carry signal — the within-subject
    design that `ab_test_welch`'s between-subject test cannot express.
    The paired bits are thresholded at > $200 (a "big click" / "big
    purchase") because on this data EVERY user has both raw types —
    untresholded pairing is degenerate (n10 = n01 = 0).

    Determinism: per-user booleans via MAX(CASE), four exact int64
    cells; chi2 = (|n10-n01|-1)^2/(n10+n01) through one fixed double
    tree with an explicit square (never POWER), ROUND(.,6); NULLIF
    guards the zero-discordance edge to NULL on BOTH engines (Spark
    ANSI would raise, DuckDB would emit inf).

    Scale (100 TB): one user-keyed map-side-combinable collapse, then
    a 4-counter rollup — no joins, no windows."""
    ev = load(spark, sf_dir, "events")
    big = F.expr(_CENTS) > 20000
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when((F.col("event_type") == "click") & big, 1).otherwise(0)
        ).alias("x1"),
        F.max(
            F.when((F.col("event_type") == "purchase") & big, 1).otherwise(
                0
            )
        ).alias("x2"),
    )
    c = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(
            F.when((F.col("x1") == 1) & (F.col("x2") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n10"),
        F.sum(
            F.when((F.col("x1") == 0) & (F.col("x2") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n01"),
        F.sum(
            F.when((F.col("x1") == 1) & (F.col("x2") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n11"),
        F.sum(
            F.when((F.col("x1") == 0) & (F.col("x2") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n00"),
    )
    d = F.abs(F.col("n10").cast("double") - F.col("n01")) - F.lit(1.0)
    return c.select(
        "n_users",
        "n10",
        "n01",
        "n11",
        "n00",
        F.round(
            d
            * d
            / F.nullif(
                F.col("n10").cast("double") + F.col("n01"), F.lit(0.0)
            ),
            6,
        ).alias("chi2_cc"),
    )


# ------------------------------------------------ cochran_q_usertype

@register(
    "cochran_q_usertype",
    oracle="""
    WITH u AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'view'
                        AND CAST(CAST(value AS DECIMAL(18,2)) * 100
                                 AS BIGINT) > 20000
                        THEN 1 ELSE 0 END) AS xv,
               MAX(CASE WHEN event_type = 'click'
                        AND CAST(CAST(value AS DECIMAL(18,2)) * 100
                                 AS BIGINT) > 20000
                        THEN 1 ELSE 0 END) AS xc,
               MAX(CASE WHEN event_type = 'purchase'
                        AND CAST(CAST(value AS DECIMAL(18,2)) * 100
                                 AS BIGINT) > 20000
                        THEN 1 ELSE 0 END) AS xp
        FROM events GROUP BY user_id
    ),
    c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(xv) AS BIGINT) AS gv,
               CAST(SUM(xc) AS BIGINT) AS gc,
               CAST(SUM(xp) AS BIGINT) AS gp,
               CAST(SUM((xv + xc + xp) * (xv + xc + xp)) AS BIGINT)
                   AS sl2
        FROM u
    )
    SELECT n_users, gv AS g_view, gc AS g_click, gp AS g_purchase,
           ROUND(CAST(2 * (3 * (gv * gv + gc * gc + gp * gp)
                           - (gv + gc + gp) * (gv + gc + gp))
                      AS DOUBLE)
                 / NULLIF(CAST(3 * (gv + gc + gp) - sl2 AS DOUBLE),
                          0.0), 6) AS q_stat
    FROM c
    """,
)
def cochran_q_usertype(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN'S Q (1950) across k=3 within-subject binary treatments
    (did the user ever view / click / purchase): Q = (k-1)[k*sum G^2 -
    T^2] / [k*T - sum L^2] — the k-treatment extension of
    `mcnemar_test` (k=2 reduces to it).  Bits are thresholded at >
    $200 like `mcnemar_test` (raw did-the-type bits are all-ones on
    this data, making the denominator exactly zero); NULLIF guards
    that degenerate case to NULL on both engines.

    Determinism: column totals G, grand total T, and row-total squares
    sum L^2 are exact int64 (budget: G^2 <= U^2 -> safe to U ~ 3e9
    users; past that cast to double first); Q through one fixed double
    ratio of integers, ROUND(.,6).

    Scale (100 TB): one user-keyed collapse carrying three MAX(CASE)
    bits, then a 5-counter rollup — no joins."""
    ev = load(spark, sf_dir, "events")
    big = F.expr(_CENTS) > 20000
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when((F.col("event_type") == "view") & big, 1).otherwise(0)
        ).alias("xv"),
        F.max(
            F.when((F.col("event_type") == "click") & big, 1).otherwise(0)
        ).alias("xc"),
        F.max(
            F.when((F.col("event_type") == "purchase") & big, 1).otherwise(
                0
            )
        ).alias("xp"),
    )
    ell = F.col("xv") + F.col("xc") + F.col("xp")
    c = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("xv").cast("bigint").alias("gv"),
        F.sum("xc").cast("bigint").alias("gc"),
        F.sum("xp").cast("bigint").alias("gp"),
        F.sum(ell * ell).cast("bigint").alias("sl2"),
    )
    t = F.col("gv") + F.col("gc") + F.col("gp")
    sg2 = (
        F.col("gv") * F.col("gv")
        + F.col("gc") * F.col("gc")
        + F.col("gp") * F.col("gp")
    )
    return c.select(
        "n_users",
        F.col("gv").alias("g_view"),
        F.col("gc").alias("g_click"),
        F.col("gp").alias("g_purchase"),
        F.round(
            (F.lit(2) * (F.lit(3) * sg2 - t * t)).cast("double")
            / F.nullif(
                (F.lit(3) * t - F.col("sl2")).cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("q_stat"),
    )


# --------------------------------------- wilcoxon_signed_rank_paired

@register(
    "wilcoxon_signed_rank_paired",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'click'
                        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT) ELSE 0 END) AS BIGINT)
                   AS sc,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                        END) AS BIGINT) AS ncl,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT) ELSE 0 END) AS BIGINT)
                   AS sp,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                        ELSE 0 END) AS BIGINT) AS npu
        FROM events GROUP BY user_id
    ),
    d AS (
        SELECT sc - sp AS dv FROM u
        WHERE ncl > 0 AND npu > 0 AND sc - sp <> 0
    ),
    freq AS (
        SELECT ABS(dv) AS ad, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN dv > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS cpos
        FROM d GROUP BY ABS(dv)
    ),
    rk AS (
        SELECT ad, c, cpos,
               COALESCE(SUM(c) OVER (ORDER BY ad
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS c_lt
        FROM freq
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(cpos) AS BIGINT) AS n_pos,
               CAST(SUM(cpos * (2 * c_lt + c + 1)) AS BIGINT) AS w2p
        FROM rk
    )
    SELECT n AS n_pairs, n_pos, CAST(n - n_pos AS BIGINT) AS n_neg,
           w2p AS w2_pos,
           ROUND((CAST(w2p AS DOUBLE) / 2.0
                  - CAST(n AS DOUBLE) * (n + 1.0) / 4.0)
                 / SQRT(CAST(n AS DOUBLE) * (n + 1.0)
                        * (2.0 * n + 1.0) / 24.0), 4) AS z_approx
    FROM tot
    """,
)
def wilcoxon_signed_rank_paired(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WILCOXON SIGNED-RANK TEST (1945) on the paired per-user
    difference d = (total click cents) - (total purchase cents),
    restricted to users with BOTH arms and d != 0 (standard
    zero-exclusion): W+ = sum of midranks of |d| where d > 0, z from
    the exact null moments — the paired counterpart of
    `mann_whitney_u_value`.

    Determinism: per-user sums exact cents int64; midranks from the
    |d| frequency table via `_rank_prefix` (2W+ = sum cpos*(2*|{<|d|}|
    + c + 1) exact); z through one fixed double tree, ROUND(.,4).

    Scale (100 TB): user-keyed collapse -> |users|-bounded diff table
    -> groupBy(|d|) collapse -> hierarchical prefix (|d| is
    near-unique, which is exactly the unbounded-domain case the
    bucketed prefix exists for) -> scalar rollup."""
    ev = load(spark, sf_dir, "events")
    cents = F.expr(_CENTS)
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "click", cents).otherwise(0)
        )
        .cast("bigint")
        .alias("sc"),
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("ncl"),
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(0)
        )
        .cast("bigint")
        .alias("sp"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("npu"),
    )
    d = u.filter(
        (F.col("ncl") > 0)
        & (F.col("npu") > 0)
        & (F.col("sc") - F.col("sp") != 0)
    ).select((F.col("sc") - F.col("sp")).alias("dv"))
    freq = d.groupBy(F.abs(F.col("dv")).alias("ad")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum(F.when(F.col("dv") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("cpos"),
    )
    rk = _rank_prefix(freq, "ad", ["c"])
    tot = rk.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum("cpos").cast("bigint").alias("n_pos"),
        F.sum(
            F.col("cpos")
            * (F.lit(2) * F.col("c_lt") + F.col("c") + F.lit(1))
        )
        .cast("bigint")
        .alias("w2p"),
    )
    nd = F.col("n").cast("double")
    return tot.select(
        F.col("n").alias("n_pairs"),
        "n_pos",
        (F.col("n") - F.col("n_pos")).cast("bigint").alias("n_neg"),
        F.col("w2p").alias("w2_pos"),
        F.round(
            (
                F.col("w2p").cast("double") / F.lit(2.0)
                - nd * (F.col("n") + F.lit(1.0)) / F.lit(4.0)
            )
            / F.sqrt(
                nd
                * (F.col("n") + F.lit(1.0))
                * (F.lit(2.0) * F.col("n") + F.lit(1.0))
                / F.lit(24.0)
            ),
            4,
        ).alias("z_approx"),
    )


# --------------------------------------------------- mood_median_test

@register(
    "mood_median_test",
    oracle="""
    WITH s AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
               event_type AS g
        FROM events
    ),
    freq AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY v
    ),
    rk AS (
        SELECT v, c,
               COALESCE(SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS c_lt
        FROM freq
    ),
    nt AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM freq),
    med AS (
        SELECT MIN(v) AS m FROM rk CROSS JOIN nt
        WHERE rk.c_lt + rk.c >= (nt.nn + 1) // 2
    ),
    cells AS (
        SELECT s.g, CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(CASE WHEN s.v > med.m THEN 1 ELSE 0 END)
                    AS BIGINT) AS oa
        FROM s CROSS JOIN med GROUP BY s.g
    ),
    tots AS (
        SELECT CAST(SUM(ng) AS BIGINT) AS nn,
               CAST(SUM(oa) AS BIGINT) AS ta,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM cells
    ),
    terms AS (
        SELECT CAST(FLOOR(
                   (CAST(oa AS DOUBLE)
                    - CAST(ng AS DOUBLE) * tots.ta / tots.nn)
                   * (CAST(oa AS DOUBLE)
                      - CAST(ng AS DOUBLE) * tots.ta / tots.nn)
                   / (CAST(ng AS DOUBLE) * tots.ta / tots.nn)
                   * 1000000.0) AS BIGINT)
                   + CAST(FLOOR(
                   (CAST(ng - oa AS DOUBLE)
                    - CAST(ng AS DOUBLE) * (tots.nn - tots.ta) / tots.nn)
                   * (CAST(ng - oa AS DOUBLE)
                      - CAST(ng AS DOUBLE) * (tots.nn - tots.ta)
                        / tots.nn)
                   / (CAST(ng AS DOUBLE) * (tots.nn - tots.ta) / tots.nn)
                   * 1000000.0) AS BIGINT) AS tq
        FROM cells CROSS JOIN tots
    )
    SELECT tots.k AS k_groups, tots.nn AS n_total,
           (SELECT m FROM med) AS median_cents,
           tots.ta AS n_above_total,
           ROUND(CAST((SELECT SUM(tq) FROM terms) AS DOUBLE)
                 / 1000000.0, 4) AS chi2
    FROM tots
    """,
)
def mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOOD'S MEDIAN TEST (1950) across event-type arms: exact grand
    median from the cents frequency table (smallest v whose cumulative
    count reaches the lower-median index — NO interpolation, so the
    split point is an exact integer both engines agree on), then a
    2xk chi-square on above-median vs at-or-below counts.

    Determinism: median and all cell counts exact int64; each of the
    2k expected-vs-observed terms floor-quantized to micro units
    before the cross-cell sum; explicit squares.

    Scale (100 TB): groupBy(v) collapse + `_rank_prefix`; the median
    is a filter-then-MIN over the collapsed table (no sort); arm
    cells come from one more map-side-combinable pass with the median
    as a broadcast scalar."""
    ev = load(spark, sf_dir, "events")
    s = ev.select(F.expr(_CENTS).alias("v"), F.col("event_type").alias("g"))
    freq = s.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    rk = _rank_prefix(freq, "v", ["c"])
    nt = freq.agg(F.sum("c").cast("bigint").alias("nn"))
    med = (
        rk.crossJoin(F.broadcast(nt))
        .filter(
            F.col("c_lt") + F.col("c")
            >= F.expr("CAST((nn + 1) DIV 2 AS BIGINT)")
        )
        .agg(F.min("v").alias("m"))
    )
    cells = s.crossJoin(F.broadcast(med)).groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum(F.when(F.col("v") > F.col("m"), 1).otherwise(0))
        .cast("bigint")
        .alias("oa"),
    )
    tots = cells.agg(
        F.sum("ng").cast("bigint").alias("nn"),
        F.sum("oa").cast("bigint").alias("ta"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    jc = cells.crossJoin(F.broadcast(tots))
    ea = F.col("ng").cast("double") * F.col("ta") / F.col("nn")
    eb = (
        F.col("ng").cast("double")
        * (F.col("nn") - F.col("ta"))
        / F.col("nn")
    )
    oa_d = F.col("oa").cast("double")
    ob_d = (F.col("ng") - F.col("oa")).cast("double")
    tq = (
        F.floor((oa_d - ea) * (oa_d - ea) / ea * F.lit(1000000.0)).cast(
            "bigint"
        )
        + F.floor((ob_d - eb) * (ob_d - eb) / eb * F.lit(1000000.0)).cast(
            "bigint"
        )
    )
    terms = jc.agg(F.sum(tq).cast("bigint").alias("tqs"))
    out = (
        tots.crossJoin(F.broadcast(med)).crossJoin(F.broadcast(terms))
    )
    return out.select(
        F.col("k").alias("k_groups"),
        F.col("nn").alias("n_total"),
        F.col("m").alias("median_cents"),
        F.col("ta").alias("n_above_total"),
        F.round(
            F.col("tqs").cast("double") / F.lit(1000000.0), 4
        ).alias("chi2"),
    )


# ------------------------------------------------------ sign_test_paired

@register(
    "sign_test_paired",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'click'
                        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT) ELSE 0 END) AS BIGINT)
                   AS sc,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                        END) AS BIGINT) AS ncl,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT) ELSE 0 END) AS BIGINT)
                   AS sp,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                        ELSE 0 END) AS BIGINT) AS npu
        FROM events GROUP BY user_id
    ),
    p AS (
        SELECT CAST(SUM(CASE WHEN sc > sp THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos,
               CAST(SUM(CASE WHEN sc < sp THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_neg,
               CAST(SUM(CASE WHEN sc = sp THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero
        FROM u WHERE ncl > 0 AND npu > 0
    )
    SELECT CAST(n_pos + n_neg AS BIGINT) AS n_pairs_nonzero,
           n_pos, n_neg, n_zero,
           ROUND((ABS(CAST(n_pos AS DOUBLE) - n_neg) - 1.0)
                 / SQRT(CAST(n_pos AS DOUBLE) + n_neg), 6) AS z_cc
    FROM p
    """,
)
def sign_test_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIRED SIGN TEST (continuity-corrected normal approximation)
    on the same per-user click-vs-purchase cents pairing as
    `wilcoxon_signed_rank_paired`, using ONLY the signs — the
    assumption-free fallback when even rank symmetry is doubted
    (public: Dixon & Mood 1946).

    Determinism: three exact int64 sign counters; z =
    (|n_pos-n_neg|-1)/sqrt(n_pos+n_neg) through one fixed tree,
    ROUND(.,6).

    Scale (100 TB): one user-keyed collapse, one 3-counter rollup."""
    ev = load(spark, sf_dir, "events")
    cents = F.expr(_CENTS)
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "click", cents).otherwise(0)
        )
        .cast("bigint")
        .alias("sc"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("ncl"),
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(0)
        )
        .cast("bigint")
        .alias("sp"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("npu"),
    )
    p = u.filter((F.col("ncl") > 0) & (F.col("npu") > 0)).agg(
        F.sum(F.when(F.col("sc") > F.col("sp"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("sc") < F.col("sp"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_neg"),
        F.sum(F.when(F.col("sc") == F.col("sp"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
    )
    return p.select(
        (F.col("n_pos") + F.col("n_neg"))
        .cast("bigint")
        .alias("n_pairs_nonzero"),
        "n_pos",
        "n_neg",
        "n_zero",
        F.round(
            (
                F.abs(F.col("n_pos").cast("double") - F.col("n_neg"))
                - F.lit(1.0)
            )
            / F.sqrt(F.col("n_pos").cast("double") + F.col("n_neg")),
            6,
        ).alias("z_cc"),
    )


# ------------------------------------------------------ welch_anova_value

@register(
    "welch_anova_value",
    oracle="""
    WITH s AS (
        SELECT event_type AS g,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        FROM events
    ),
    m AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM s GROUP BY g
    ),
    t AS (
        SELECT g, n, sx, sxx,
               CAST(SUM(n) OVER () AS BIGINT) AS nn,
               CAST(COUNT(*) OVER () AS BIGINT) AS k,
               CAST(FLOOR(CAST(n AS DOUBLE)
                   / ((CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * sx / n) / (n - 1.0))
                   * 1000000.0) AS BIGINT) AS wq,
               CAST(FLOOR(CAST(n AS DOUBLE)
                   / ((CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * sx / n) / (n - 1.0))
                   * (CAST(sx AS DOUBLE) / n)
                   * 1000000.0) AS BIGINT) AS wmq
        FROM m
    ),
    w AS (
        SELECT t.*,
               CAST(SUM(wq) OVER () AS BIGINT) AS wqs,
               CAST(SUM(wmq) OVER () AS BIGINT) AS wmqs
        FROM t
    ),
    terms AS (
        SELECT k, nn, wqs,
               CAST(FLOOR(CAST(wq AS DOUBLE) / 1000000.0
                   * (CAST(sx AS DOUBLE) / n
                      - CAST(wmqs AS DOUBLE) / wqs)
                   * (CAST(sx AS DOUBLE) / n
                      - CAST(wmqs AS DOUBLE) / wqs)
                   * 1000000.0) AS BIGINT) AS aq,
               CAST(FLOOR((1.0 - CAST(wq AS DOUBLE) / wqs)
                   * (1.0 - CAST(wq AS DOUBLE) / wqs)
                   / (n - 1.0) * 1000000000.0) AS BIGINT) AS bq
        FROM w
    ),
    agg AS (
        SELECT MAX(k) AS k, MAX(nn) AS nn,
               CAST(SUM(aq) AS BIGINT) AS aqs,
               CAST(SUM(bq) AS BIGINT) AS bqs
        FROM terms
    )
    SELECT k AS k_groups, nn AS n_total,
           ROUND((CAST(aqs AS DOUBLE) / 1000000.0 / (k - 1.0))
                 / (1.0 + 2.0 * (k - 2.0) / (k * k - 1.0)
                          * (CAST(bqs AS DOUBLE) / 1000000000.0)), 4)
               AS f_welch,
           ROUND((k * k - 1.0)
                 / (3.0 * (CAST(bqs AS DOUBLE) / 1000000000.0)), 2)
               AS df2_welch
    FROM agg
    """,
)
def welch_anova_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH'S HETEROSCEDASTIC ONE-WAY ANOVA (Welch 1951) across
    event-type arms — the k-sample test that stays valid when
    `brown_forsythe_test` REJECTS variance homogeneity (where
    `anova_oneway_value`'s pooled variance is wrong): groups weighted
    by n_g/s2_g, F* against the Welch-Satterthwaite df.

    Determinism: per-group moments exact cents int64 (budget: x^2 <=
    3.1e9 -> sum safe to ~3e9 rows/group); the cross-group weight,
    weighted-mean, and correction sums are floor-quantized
    (micro/nano) so their engine order can't matter; the weighted
    grand mean is the RATIO OF QUANTIZED SUMS (documented bias <
    1e-6, identical on both engines by construction).

    Scale (100 TB): one map-side moments pass to k rows; everything
    after is arithmetic on k rows."""
    ev = load(spark, sf_dir, "events")
    s = ev.select(
        F.col("event_type").alias("g"), F.expr(_CENTS).alias("x")
    )
    m = s.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    tot = m.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    var_g = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    ) / (F.col("n") - F.lit(1.0))
    w_g = F.col("n").cast("double") / var_g
    mean_g = F.col("sx").cast("double") / F.col("n")
    t = m.select(
        "g",
        "n",
        "sx",
        "sxx",
        F.floor(w_g * F.lit(1000000.0)).cast("bigint").alias("wq"),
        F.floor(w_g * mean_g * F.lit(1000000.0))
        .cast("bigint")
        .alias("wmq"),
    )
    ws = t.agg(
        F.sum("wq").cast("bigint").alias("wqs"),
        F.sum("wmq").cast("bigint").alias("wmqs"),
    )
    j = t.crossJoin(F.broadcast(ws))
    xw = F.col("wmqs").cast("double") / F.col("wqs")
    aq = F.floor(
        F.col("wq").cast("double")
        / F.lit(1000000.0)
        * (mean_g - xw)
        * (mean_g - xw)
        * F.lit(1000000.0)
    ).cast("bigint")
    bq = F.floor(
        (F.lit(1.0) - F.col("wq").cast("double") / F.col("wqs"))
        * (F.lit(1.0) - F.col("wq").cast("double") / F.col("wqs"))
        / (F.col("n") - F.lit(1.0))
        * F.lit(1000000000.0)
    ).cast("bigint")
    agg = j.agg(
        F.sum(aq).cast("bigint").alias("aqs"),
        F.sum(bq).cast("bigint").alias("bqs"),
    )
    out = tot.crossJoin(F.broadcast(agg))
    kd = F.col("k").cast("double")
    bsum = F.col("bqs").cast("double") / F.lit(1000000000.0)
    return out.select(
        F.col("k").alias("k_groups"),
        F.col("nn").alias("n_total"),
        F.round(
            (
                F.col("aqs").cast("double")
                / F.lit(1000000.0)
                / (kd - F.lit(1.0))
            )
            / (
                F.lit(1.0)
                + F.lit(2.0)
                * (kd - F.lit(2.0))
                / (kd * kd - F.lit(1.0))
                * bsum
            ),
            4,
        ).alias("f_welch"),
        F.round(
            (kd * kd - F.lit(1.0)) / (F.lit(3.0) * bsum), 2
        ).alias("df2_welch"),
    )


# ----------------------------------------------------- jackknife_loo_ratio

@register(
    "jackknife_loo_ratio",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                        ELSE 0 END) AS BIGINT) AS p
        FROM events GROUP BY 1
    ),
    t AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(p) AS BIGINT) AS pp,
               CAST(COUNT(*) AS BIGINT) AS g
        FROM d
    ),
    loo AS (
        SELECT CAST(FLOOR(CAST(t.pp - d.p AS DOUBLE) / (t.nn - d.n)
                          * 1000000000.0) AS BIGINT) AS rq
        FROM d CROSS JOIN t
    ),
    m AS (
        SELECT CAST(SUM(rq) AS BIGINT) AS rqs FROM loo
    ),
    v AS (
        SELECT CAST(SUM(
                   CAST(FLOOR((CAST(rq AS DOUBLE) / 1000000000.0
                               - CAST(m.rqs AS DOUBLE) / 1000000000.0
                                 / (SELECT g FROM t))
                              * (CAST(rq AS DOUBLE) / 1000000000.0
                                 - CAST(m.rqs AS DOUBLE) / 1000000000.0
                                   / (SELECT g FROM t))
                              * 1000000000000.0) AS BIGINT))
                    AS BIGINT) AS vqs
        FROM loo CROSS JOIN m
    )
    SELECT t.g AS g_days,
           ROUND(CAST(t.pp AS DOUBLE) / t.nn, 8) AS rate_full,
           ROUND(CAST(m.rqs AS DOUBLE) / 1000000000.0 / t.g, 8)
               AS jk_mean,
           ROUND(SQRT((t.g - 1.0) / t.g
                      * (CAST(v.vqs AS DOUBLE) / 1000000000000.0)), 8)
               AS jk_se
    FROM t CROSS JOIN m CROSS JOIN v
    """,
)
def jackknife_loo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-ONE-GROUP JACKKNIFE standard error (Quenouille/Tukey;
    public: Efron & Stein 1981) of the corpus purchase rate with days
    as the deletion groups: each leave-one-day-out rate derives from
    TOTALS MINUS GROUP (no resampling, no second scan) — the
    variance-of-a-ratio machinery `bootstrap_ci_event_value` gets by
    Poisson fan, here exact and fan-free.

    Determinism: day cells exact int64; each LOO rate nano-quantized
    before the cross-day mean; squared deviations pico-quantized
    before the variance sum; SQRT of one fixed tree.

    Scale (100 TB): one day-keyed map-side collapse; LOO table is
    |days|-bounded; two tiny rollups."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("p"),
    )
    t = d.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("p").cast("bigint").alias("pp"),
        F.count(F.lit(1)).cast("bigint").alias("g"),
    )
    loo = d.crossJoin(F.broadcast(t)).select(
        F.floor(
            (F.col("pp") - F.col("p")).cast("double")
            / (F.col("nn") - F.col("n"))
            * F.lit(1000000000.0)
        )
        .cast("bigint")
        .alias("rq"),
        "g",
    )
    m = loo.agg(F.sum("rq").cast("bigint").alias("rqs"))
    jm = loo.crossJoin(F.broadcast(m))
    dev = F.col("rq").cast("double") / F.lit(1000000000.0) - F.col(
        "rqs"
    ).cast("double") / F.lit(1000000000.0) / F.col("g")
    v = jm.agg(
        F.sum(
            F.floor(dev * dev * F.lit(1000000000000.0)).cast("bigint")
        )
        .cast("bigint")
        .alias("vqs")
    )
    out = t.crossJoin(F.broadcast(m)).crossJoin(F.broadcast(v))
    gd = F.col("g").cast("double")
    return out.select(
        F.col("g").alias("g_days"),
        F.round(F.col("pp").cast("double") / F.col("nn"), 8).alias(
            "rate_full"
        ),
        F.round(
            F.col("rqs").cast("double") / F.lit(1000000000.0) / F.col("g"),
            8,
        ).alias("jk_mean"),
        F.round(
            F.sqrt(
                (gd - F.lit(1.0))
                / gd
                * (
                    F.col("vqs").cast("double")
                    / F.lit(1000000000000.0)
                )
            ),
            8,
        ).alias("jk_se"),
    )


# ---------------------------------------------------- cooks_distance_daily

_OLS_DAILY = """
    WITH d AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS x,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM d
    ),
    fit AS (
        SELECT m.*,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
               CAST(n * sxx - sx * sx AS BIGINT) AS sxxn
        FROM m
    ),
    r AS (
        SELECT d.x, d.y, fit.n, fit.b, fit.sxxn, fit.sx,
               CAST(d.y AS DOUBLE)
                   - ((CAST(fit.sy AS DOUBLE) - fit.b * fit.sx) / fit.n
                      + fit.b * d.x) AS e,
               1.0 / fit.n
                   + (d.x - CAST(fit.sx AS DOUBLE) / fit.n)
                     * (d.x - CAST(fit.sx AS DOUBLE) / fit.n)
                     / (CAST(fit.sxxn AS DOUBLE) / fit.n) AS h
        FROM d CROSS JOIN fit
    ),
    sse AS (
        SELECT CAST(SUM(CAST(FLOOR(e * e * 100.0) AS BIGINT))
                    AS BIGINT) AS sseq
        FROM r
    )
"""


@register(
    "cooks_distance_daily",
    oracle=_OLS_DAILY
    + """
    SELECT r.x AS day_epoch,
           ROUND(r.e, 2) AS resid_cents,
           ROUND(r.h, 6) AS leverage,
           ROUND(r.e * r.e * r.h
                 / (2.0 * (CAST(sse.sseq AS DOUBLE) / 100.0 / (r.n - 2.0))
                    * (1.0 - r.h) * (1.0 - r.h)), 6) AS cooks_d
    FROM r CROSS JOIN sse
    ORDER BY CAST(FLOOR(r.e * r.e * r.h
                 / (2.0 * (CAST(sse.sseq AS DOUBLE) / 100.0 / (r.n - 2.0))
                    * (1.0 - r.h) * (1.0 - r.h)) * 1000000.0) AS BIGINT)
             DESC, r.x
    LIMIT 5
    """,
)
def cooks_distance_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COOK'S DISTANCE (1977) top-5 influential days of the daily-
    revenue-on-time OLS fit: D_i = e_i^2 h_i / (p s^2 (1-h_i)^2) with
    the closed-form simple-regression leverage h_i = 1/n +
    (x-xbar)^2/Sxx — the regression-diagnostics sibling of
    `ols_closed_form` (which fits; this asks which points RULED the
    fit).

    Determinism: daily sums exact cents int64; slope is a ratio of
    exact integers (the `ols_closed_form` idiom); SSE centi-quantized
    per day before the cross-day sum; the top-5 ORDER BY ranks the
    micro-QUANTIZED distance with the day as tiebreak (argmax-ties
    idiom).

    Scale (100 TB): one day-keyed collapse; fit + diagnostics are
    arithmetic on |days| rows with the 5-number fit broadcast."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("x")
    ).agg(F.sum(F.expr(_CENTS)).cast("bigint").alias("y"))
    m = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    fit = m.select(
        "n",
        "sx",
        "sy",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        ).alias("b"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("bigint")
        .alias("sxxn"),
    )
    r = d.crossJoin(F.broadcast(fit)).select(
        "x",
        "n",
        (
            F.col("y").cast("double")
            - (
                (F.col("sy").cast("double") - F.col("b") * F.col("sx"))
                / F.col("n")
                + F.col("b") * F.col("x")
            )
        ).alias("e"),
        (
            F.lit(1.0) / F.col("n")
            + (F.col("x") - F.col("sx").cast("double") / F.col("n"))
            * (F.col("x") - F.col("sx").cast("double") / F.col("n"))
            / (F.col("sxxn").cast("double") / F.col("n"))
        ).alias("h"),
    )
    sse = r.agg(
        F.sum(F.floor(F.col("e") * F.col("e") * F.lit(100.0)).cast("bigint"))
        .cast("bigint")
        .alias("sseq")
    )
    j = r.crossJoin(F.broadcast(sse))
    s2 = F.col("sseq").cast("double") / F.lit(100.0) / (
        F.col("n") - F.lit(2.0)
    )
    cd = (
        F.col("e")
        * F.col("e")
        * F.col("h")
        / (
            F.lit(2.0)
            * s2
            * (F.lit(1.0) - F.col("h"))
            * (F.lit(1.0) - F.col("h"))
        )
    )
    return (
        j.select(
            F.col("x").alias("day_epoch"),
            F.round(F.col("e"), 2).alias("resid_cents"),
            F.round(F.col("h"), 6).alias("leverage"),
            F.round(cd, 6).alias("cooks_d"),
            F.floor(cd * F.lit(1000000.0)).cast("bigint").alias("_cdq"),
        )
        .orderBy(F.col("_cdq").desc(), "day_epoch")
        .limit(5)
        .drop("_cdq")
    )


# --------------------------------------------------- grubbs_outlier_daily

@register(
    "grubbs_outlier_daily",
    oracle="""
    WITH d AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS x,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS sq
        FROM d
    )
    SELECT m.n AS n_days,
           ROUND(CAST(m.s AS DOUBLE) / m.n, 4) AS mean_cnt,
           ROUND(SQRT((CAST(m.sq AS DOUBLE)
                       - CAST(m.s AS DOUBLE) * m.s / m.n)
                      / (m.n - 1.0)), 4) AS sd_cnt,
           ROUND(ABS(CAST(d.c AS DOUBLE) - CAST(m.s AS DOUBLE) / m.n)
                 / SQRT((CAST(m.sq AS DOUBLE)
                         - CAST(m.s AS DOUBLE) * m.s / m.n)
                        / (m.n - 1.0)), 4) AS g_stat,
           d.x AS outlier_day_epoch
    FROM d CROSS JOIN m
    ORDER BY CAST(FLOOR(ABS(CAST(d.c AS DOUBLE)
                            - CAST(m.s AS DOUBLE) / m.n)
                 / SQRT((CAST(m.sq AS DOUBLE)
                         - CAST(m.s AS DOUBLE) * m.s / m.n)
                        / (m.n - 1.0)) * 1000000.0) AS BIGINT) DESC,
             d.x
    LIMIT 1
    """,
)
def grubbs_outlier_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRUBBS' MAXIMUM-STUDENTIZED-DEVIATE TEST (1950) on daily event
    counts: G = max |c - mean| / sd and WHICH day attains it — the
    single-outlier detector next to `anomaly_zscore_daily`'s rolling
    flags (Grubbs asks about the most extreme point against the whole
    series, not a trailing window).

    Determinism: moments exact int64; G through one fixed tree; the
    argmax ranks the micro-QUANTIZED deviate with the day as tiebreak.

    Scale (100 TB): day-keyed collapse + 3-counter rollup; the argmax
    is TakeOrderedAndProject over |days| rows."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("x")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    m = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sq"),
    )
    j = d.crossJoin(F.broadcast(m))
    mean = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("sq").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        )
        / (F.col("n") - F.lit(1.0))
    )
    g = F.abs(F.col("c").cast("double") - mean) / sd
    return (
        j.select(
            F.col("n").alias("n_days"),
            F.round(mean, 4).alias("mean_cnt"),
            F.round(sd, 4).alias("sd_cnt"),
            F.round(g, 4).alias("g_stat"),
            F.col("x").alias("outlier_day_epoch"),
            F.floor(g * F.lit(1000000.0)).cast("bigint").alias("_gq"),
        )
        .orderBy(F.col("_gq").desc(), "outlier_day_epoch")
        .limit(1)
        .drop("_gq")
    )


# ------------------------------------------------ runs_test_updown_daily

@register(
    "runs_test_updown_daily",
    oracle="""
    WITH d AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS x,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
        FROM d
    ),
    sg AS (
        SELECT d.x, CASE WHEN m.n * d.c > m.s THEN 1 ELSE 0 END AS a
        FROM d CROSS JOIN m
        WHERE m.n * d.c <> m.s
    ),
    lagged AS (
        SELECT a, LAG(a) OVER (ORDER BY x) AS pa FROM sg
    ),
    r AS (
        SELECT CAST(SUM(CASE WHEN pa IS NULL OR a <> pa THEN 1 ELSE 0
                        END) AS BIGINT) AS runs,
               CAST(SUM(a) AS BIGINT) AS n1,
               CAST(SUM(1 - a) AS BIGINT) AS n2
        FROM lagged
    )
    SELECT CAST(n1 + n2 AS BIGINT) AS n_signs, n1 AS n_above,
           n2 AS n_below, runs AS n_runs,
           ROUND((CAST(runs AS DOUBLE)
                  - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                 / SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((CAST(n1 + n2 AS DOUBLE))
                           * (n1 + n2) * (n1 + n2 - 1.0))), 4)
               AS z_approx
    FROM r
    """,
)
def runs_test_updown_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD-WOLFOWITZ RUNS TEST (1940) for randomness of the daily
    event-count series around its mean: days are 'above' iff n*c > S
    (an EXACT integer comparison — no floating mean crosses the
    boundary), exact-mean days are dropped, runs counted by sign
    changes, z against the exact run-count moments — the
    trend/clustering check before trusting `daily_autocorr_lag1`.

    Determinism: the above/below bit and all counters are exact
    int64; z through one fixed tree, ROUND(.,4).

    Scale (100 TB): day-keyed collapse; the LAG rides the |days|-row
    rollup (the established tiny-series pattern — the corpus itself
    is never windowed)."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("x")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    m = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
    )
    sg = (
        d.crossJoin(F.broadcast(m))
        .filter(F.col("n") * F.col("c") != F.col("s"))
        .select(
            "x",
            F.when(
                F.col("n") * F.col("c") > F.col("s"), 1
            ).otherwise(0).alias("a"),
        )
    )
    w = Window.orderBy("x")
    lagged = sg.select("a", F.lag("a").over(w).alias("pa"))
    r = lagged.agg(
        F.sum(
            F.when(
                F.col("pa").isNull() | (F.col("a") != F.col("pa")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("runs"),
        F.sum("a").cast("bigint").alias("n1"),
        F.sum(F.lit(1) - F.col("a")).cast("bigint").alias("n2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2")
    ntot = F.col("n1") + F.col("n2")
    return r.select(
        ntot.cast("bigint").alias("n_signs"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.col("runs").alias("n_runs"),
        F.round(
            (
                F.col("runs").cast("double")
                - (F.lit(2.0) * F.col("n1") * F.col("n2") / ntot + F.lit(1.0))
            )
            / F.sqrt(
                F.lit(2.0)
                * F.col("n1")
                * F.col("n2")
                * (
                    F.lit(2.0) * F.col("n1") * F.col("n2")
                    - F.col("n1")
                    - F.col("n2")
                )
                / (
                    ntot.cast("double")
                    * ntot
                    * (ntot - F.lit(1.0))
                )
            ),
            4,
        ).alias("z_approx"),
    )


# ------------------------------------------------- durbin_watson_daily

@register(
    "durbin_watson_daily",
    oracle=_OLS_DAILY
    + """
    , lagres AS (
        SELECT e, LAG(e) OVER (ORDER BY x) AS pe FROM r
    ),
    num AS (
        SELECT CAST(SUM(CAST(FLOOR((e - pe) * (e - pe) * 100.0)
                             AS BIGINT)) AS BIGINT) AS numq
        FROM lagres WHERE pe IS NOT NULL
    )
    SELECT (SELECT n FROM m) AS n_days,
           ROUND((SELECT b FROM fit), 6) AS slope_cents_per_day,
           ROUND(CAST(num.numq AS DOUBLE) / 100.0
                 / (CAST(sse.sseq AS DOUBLE) / 100.0), 4) AS dw_stat
    FROM num CROSS JOIN sse
    """,
)
def durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DURBIN-WATSON STATISTIC (1950) on the residuals of the daily-
    revenue OLS fit: DW = sum (e_t - e_{t-1})^2 / sum e_t^2 — the
    serial-correlation diagnostic that says whether
    `cooks_distance_daily`'s i.i.d.-error assumption holds at all
    (DW ~ 2 means none; the fit machinery is shared via _OLS_DAILY,
    rendered into BOTH engines from one string — the _OLS_DETS
    shared-formula idiom).

    Determinism: numerator and SSE both centi-quantized per day
    before their sums; slope a ratio of exact integers; one fixed
    ratio behind ROUND.

    Scale (100 TB): day-keyed collapse; LAG rides the |days|-row
    residual table (tiny-series pattern)."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("x")
    ).agg(F.sum(F.expr(_CENTS)).cast("bigint").alias("y"))
    m = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    fit = m.select(
        "n",
        "sx",
        "sy",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        ).alias("b"),
    )
    r = d.crossJoin(F.broadcast(fit)).select(
        "x",
        "n",
        "b",
        (
            F.col("y").cast("double")
            - (
                (F.col("sy").cast("double") - F.col("b") * F.col("sx"))
                / F.col("n")
                + F.col("b") * F.col("x")
            )
        ).alias("e"),
    )
    sse = r.agg(
        F.sum(F.floor(F.col("e") * F.col("e") * F.lit(100.0)).cast("bigint"))
        .cast("bigint")
        .alias("sseq")
    )
    w = Window.orderBy("x")
    lagres = r.select(
        "n", "b", "e", F.lag("e").over(w).alias("pe")
    )
    num = lagres.filter(F.col("pe").isNotNull()).agg(
        F.max("n").alias("n"),
        F.max("b").alias("b"),
        F.sum(
            F.floor(
                (F.col("e") - F.col("pe"))
                * (F.col("e") - F.col("pe"))
                * F.lit(100.0)
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("numq"),
    )
    out = num.crossJoin(F.broadcast(sse))
    return out.select(
        F.col("n").alias("n_days"),
        F.round(F.col("b"), 6).alias("slope_cents_per_day"),
        F.round(
            F.col("numq").cast("double")
            / F.lit(100.0)
            / (F.col("sseq").cast("double") / F.lit(100.0)),
            4,
        ).alias("dw_stat"),
    )


# ---------------------------------------------------- friedman_test_types

@register(
    "friedman_test_types",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'view'
                        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT) ELSE 0 END) AS BIGINT) AS sv,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS nv,
               CAST(SUM(CASE WHEN event_type = 'click'
                        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT) ELSE 0 END) AS BIGINT) AS sc,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS nc,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                  AS BIGINT) ELSE 0 END) AS BIGINT) AS sp,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                        END) AS BIGINT) AS np
        FROM events GROUP BY user_id
    ),
    b AS (SELECT * FROM u WHERE nv > 0 AND nc > 0 AND np > 0),
    rk AS (
        SELECT
            2 + 2 * (CASE WHEN sc * nv < sv * nc THEN 1 ELSE 0 END
                     + CASE WHEN sp * nv < sv * np THEN 1 ELSE 0 END)
              + (CASE WHEN sc * nv = sv * nc THEN 1 ELSE 0 END
                 + CASE WHEN sp * nv = sv * np THEN 1 ELSE 0 END) AS r2v,
            2 + 2 * (CASE WHEN sv * nc < sc * nv THEN 1 ELSE 0 END
                     + CASE WHEN sp * nc < sc * np THEN 1 ELSE 0 END)
              + (CASE WHEN sv * nc = sc * nv THEN 1 ELSE 0 END
                 + CASE WHEN sp * nc = sc * np THEN 1 ELSE 0 END) AS r2c,
            2 + 2 * (CASE WHEN sv * np < sp * nv THEN 1 ELSE 0 END
                     + CASE WHEN sc * np < sp * nc THEN 1 ELSE 0 END)
              + (CASE WHEN sv * np = sp * nv THEN 1 ELSE 0 END
                 + CASE WHEN sc * np = sp * nc THEN 1 ELSE 0 END) AS r2p
        FROM b
    ),
    t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(r2v) AS BIGINT) AS rv,
               CAST(SUM(r2c) AS BIGINT) AS rc,
               CAST(SUM(r2p) AS BIGINT) AS rp
        FROM rk
    )
    SELECT n AS n_blocks, rv AS r2_view, rc AS r2_click,
           rp AS r2_purchase,
           ROUND(12.0 * ((CAST(rv AS DOUBLE) / 2.0)
                           * (CAST(rv AS DOUBLE) / 2.0)
                         + (CAST(rc AS DOUBLE) / 2.0)
                           * (CAST(rc AS DOUBLE) / 2.0)
                         + (CAST(rp AS DOUBLE) / 2.0)
                           * (CAST(rp AS DOUBLE) / 2.0))
                 / (CAST(n AS DOUBLE) * 3.0 * 4.0)
                 - 3.0 * CAST(n AS DOUBLE) * 4.0, 4) AS chi2_f
    FROM t
    """,
)
def friedman_test_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRIEDMAN TEST (1937) across k=3 within-user conditions (mean
    view/click/purchase cents), blocks = users with all three arms:
    per-block ranks of the three condition means, chi2_F =
    12/(nk(k+1)) * sum R_j^2 - 3n(k+1) — the within-subject
    counterpart of `kruskal_wallis_value` (which ranks the pooled
    corpus; this ranks WITHIN each user, killing between-user
    variance).

    Determinism: per-block mean comparisons are EXACT rational
    cross-products (s_a*n_b vs s_b*n_a — no division ever happens),
    midranks via doubled-rank integers (2*rank); the three
    column sums are exact int64; chi2 through one fixed tree whose
    3-term sum has a literal textual order on both engines.

    Scale (100 TB): one user-keyed collapse with six counters; ranks
    are row-local CASE arithmetic; one 4-counter rollup."""
    ev = load(spark, sf_dir, "events")
    cents = F.expr(_CENTS)
    u = ev.groupBy("user_id").agg(
        *[
            x
            for t, tag in (("view", "v"), ("click", "c"), ("purchase", "p"))
            for x in (
                F.sum(F.when(F.col("event_type") == t, cents).otherwise(0))
                .cast("bigint")
                .alias(f"s{tag}"),
                F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
                .cast("bigint")
                .alias(f"n{tag}"),
            )
        ]
    )
    b = u.filter((F.col("nv") > 0) & (F.col("nc") > 0) & (F.col("np") > 0))

    def lt(a, na, o, no):
        return F.when(F.col(o) * F.col(na) < F.col(a) * F.col(no), 1).otherwise(0)

    def eq(a, na, o, no):
        return F.when(F.col(o) * F.col(na) == F.col(a) * F.col(no), 1).otherwise(0)

    rk = b.select(
        (
            F.lit(2)
            + F.lit(2) * (lt("sv", "nv", "sc", "nc") + lt("sv", "nv", "sp", "np"))
            + (eq("sv", "nv", "sc", "nc") + eq("sv", "nv", "sp", "np"))
        ).alias("r2v"),
        (
            F.lit(2)
            + F.lit(2) * (lt("sc", "nc", "sv", "nv") + lt("sc", "nc", "sp", "np"))
            + (eq("sc", "nc", "sv", "nv") + eq("sc", "nc", "sp", "np"))
        ).alias("r2c"),
        (
            F.lit(2)
            + F.lit(2) * (lt("sp", "np", "sv", "nv") + lt("sp", "np", "sc", "nc"))
            + (eq("sp", "np", "sv", "nv") + eq("sp", "np", "sc", "nc"))
        ).alias("r2p"),
    )
    t = rk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r2v").cast("bigint").alias("rv"),
        F.sum("r2c").cast("bigint").alias("rc"),
        F.sum("r2p").cast("bigint").alias("rp"),
    )
    nd = F.col("n").cast("double")

    def half_sq(c):
        h = F.col(c).cast("double") / F.lit(2.0)
        return h * h

    return t.select(
        F.col("n").alias("n_blocks"),
        F.col("rv").alias("r2_view"),
        F.col("rc").alias("r2_click"),
        F.col("rp").alias("r2_purchase"),
        F.round(
            F.lit(12.0)
            * (half_sq("rv") + half_sq("rc") + half_sq("rp"))
            / (nd * F.lit(3.0) * F.lit(4.0))
            - F.lit(3.0) * nd * F.lit(4.0),
            4,
        ).alias("chi2_f"),
    )


# ------------------------------------------------- goodman_kruskal_gamma

@register(
    "goodman_kruskal_gamma",
    oracle="""
    WITH s AS (
        SELECT CASE WHEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT) < 5000 THEN 1
                    WHEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT) < 15000 THEN 2
                    ELSE 3 END AS i,
               CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                    ELSE 3 END AS j
        FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    cells AS (
        SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n
        FROM s GROUP BY i, j
    ),
    cd AS (
        SELECT CAST(SUM(CASE WHEN b.i > a.i AND b.j > a.j
                        THEN a.n * b.n ELSE 0 END) AS BIGINT) AS conc,
               CAST(SUM(CASE WHEN b.i > a.i AND b.j < a.j
                        THEN a.n * b.n ELSE 0 END) AS BIGINT) AS disc
        FROM cells a CROSS JOIN cells b
    )
    SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM cells) AS n,
           conc, disc,
           ROUND(CAST(conc - disc AS DOUBLE)
                 / NULLIF(CAST(conc + disc AS DOUBLE), 0.0), 6)
               AS gamma
    FROM cd
    """,
)
def goodman_kruskal_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOODMAN-KRUSKAL GAMMA (1954) ordinal association between the
    value tier (1..3 by cents thresholds) and the funnel depth
    (view=1 < click=2 < purchase=3): gamma = (C-D)/(C+D) over
    concordant/discordant pairs — the ordinal-ordinal measure where
    `cohens_kappa_agreement` is nominal-nominal and
    `kendall_tau_daily` is continuous-continuous.

    Determinism: pair counts from the 3x3 CELL table (C = sum over
    cell pairs of n_a*n_b, never a corpus self-join — the
    chi2-machinery move); products exact int64 (budget N^2 -> safe to
    N ~ 3e9); NULLIF guards the all-tied edge.

    Scale (100 TB): one corpus collapse to <= 9 cells; the pair
    enumeration is a 9x9 broadcast cross join."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    v = F.expr(_CENTS)
    s = ev.select(
        F.when(v < 5000, 1).when(v < 15000, 2).otherwise(3).alias("i"),
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .otherwise(3)
        .alias("j"),
    )
    cells = s.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    cells = cells.localCheckpoint(eager=True)
    a = cells.select(
        F.col("i").alias("ai"), F.col("j").alias("aj"), F.col("n").alias("an")
    )
    cd = a.crossJoin(F.broadcast(cells)).agg(
        F.sum(
            F.when(
                (F.col("i") > F.col("ai")) & (F.col("j") > F.col("aj")),
                F.col("an") * F.col("n"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("conc"),
        F.sum(
            F.when(
                (F.col("i") > F.col("ai")) & (F.col("j") < F.col("aj")),
                F.col("an") * F.col("n"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("disc"),
    )
    nt = cells.agg(F.sum("n").cast("bigint").alias("n"))
    out = nt.crossJoin(F.broadcast(cd))
    return out.select(
        "n",
        "conc",
        "disc",
        F.round(
            (F.col("conc") - F.col("disc")).cast("double")
            / F.nullif(
                (F.col("conc") + F.col("disc")).cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("gamma"),
    )


# ------------------------------------------------------ cramers_v_matrix

@register(
    "cramers_v_matrix",
    oracle="""
    WITH s AS (
        SELECT event_type AS t1,
               CASE WHEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT) < 5000 THEN 1
                    WHEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                             AS BIGINT) < 15000 THEN 2
                    ELSE 3 END AS t2,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) % 7
                   AS t3
        FROM events
    ),
    cube3 AS (
        SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
        FROM s GROUP BY t1, t2, t3
    ),
    pairs AS (
        SELECT 'type_x_tier' AS pair, CAST(t1 AS VARCHAR) AS a,
               CAST(t2 AS VARCHAR) AS b, n FROM cube3
        UNION ALL
        SELECT 'type_x_dow', CAST(t1 AS VARCHAR), CAST(t3 AS VARCHAR), n
        FROM cube3
        UNION ALL
        SELECT 'tier_x_dow', CAST(t2 AS VARCHAR), CAST(t3 AS VARCHAR), n
        FROM cube3
    ),
    cells AS (
        SELECT pair, a, b, CAST(SUM(n) AS BIGINT) AS o
        FROM pairs GROUP BY pair, a, b
    ),
    ra AS (SELECT pair, a, CAST(SUM(o) AS BIGINT) AS r
           FROM cells GROUP BY pair, a),
    cb AS (SELECT pair, b, CAST(SUM(o) AS BIGINT) AS c
           FROM cells GROUP BY pair, b),
    nt AS (SELECT pair, CAST(SUM(o) AS BIGINT) AS nn
           FROM cells GROUP BY pair),
    terms AS (
        SELECT cells.pair, CAST(FLOOR(
                   (CAST(nt.nn * cells.o - ra.r * cb.c AS DOUBLE)
                    * CAST(nt.nn * cells.o - ra.r * cb.c AS DOUBLE))
                   / (CAST(nt.nn AS DOUBLE) * ra.r * cb.c)
                   * 1000000.0) AS BIGINT) AS tq
        FROM cells
        JOIN ra ON ra.pair = cells.pair AND ra.a = cells.a
        JOIN cb ON cb.pair = cells.pair AND cb.b = cells.b
        JOIN nt ON nt.pair = cells.pair
    ),
    dims AS (
        SELECT pair,
               (SELECT COUNT(*) FROM ra WHERE ra.pair = d.pair) AS ka,
               (SELECT COUNT(*) FROM cb WHERE cb.pair = d.pair) AS kb
        FROM (SELECT DISTINCT pair FROM cells) d
    )
    SELECT t.pair,
           ROUND(CAST(SUM(t.tq) AS DOUBLE) / 1000000.0, 4) AS chi2,
           ROUND(SQRT(CAST(SUM(t.tq) AS DOUBLE) / 1000000.0
                      / MAX(nt.nn)
                      / LEAST(MAX(dims.ka) - 1, MAX(dims.kb) - 1)), 6)
               AS cramers_v
    FROM terms t
    JOIN nt ON nt.pair = t.pair
    JOIN dims ON dims.pair = t.pair
    GROUP BY t.pair
    ORDER BY t.pair
    """,
)
def cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIRWISE CRAMER'S V across three categorical encodings of every
    event (type x value-tier x day-of-week): the association matrix a
    feature-selection pass computes before model training (public:
    Cramér 1946) — generalizes `chi_square_independence` (one pair,
    registry.py) to all C(3,2) pairs from ONE corpus collapse.

    Determinism: the 5x3x7 cube is collapsed once; every pair table,
    margin, and chi2 term derives from those <= 105 exact int64 cells
    (micro-quantized per cell before the per-pair sums); dow via
    epoch-day % 7 (dialect-free).

    Scale (100 TB): one map-side groupBy to <= 105 rows; the three
    pair analyses are arithmetic on the collapsed cube (checkpointed,
    3 reuses)."""
    ev = load(spark, sf_dir, "events")
    v = F.expr(_CENTS)
    s = ev.select(
        F.col("event_type").alias("t1"),
        F.when(v < 5000, 1).when(v < 15000, 2).otherwise(3).alias("t2"),
        (
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            ).cast("bigint")
            % 7
        ).alias("t3"),
    )
    cube3 = s.groupBy("t1", "t2", "t3").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    cube3 = cube3.localCheckpoint(eager=True)
    pairs = None
    for name, ca, cb_ in (
        ("type_x_tier", "t1", "t2"),
        ("type_x_dow", "t1", "t3"),
        ("tier_x_dow", "t2", "t3"),
    ):
        p = cube3.select(
            F.lit(name).alias("pair"),
            F.col(ca).cast("string").alias("a"),
            F.col(cb_).cast("string").alias("b"),
            "n",
        )
        pairs = p if pairs is None else pairs.unionAll(p)
    cells = pairs.groupBy("pair", "a", "b").agg(
        F.sum("n").cast("bigint").alias("o")
    )
    ra = cells.groupBy("pair", "a").agg(F.sum("o").cast("bigint").alias("r"))
    cb = cells.groupBy("pair", "b").agg(F.sum("o").cast("bigint").alias("c"))
    nt = cells.groupBy("pair").agg(F.sum("o").cast("bigint").alias("nn"))
    dims = (
        ra.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ka"))
        .join(
            cb.groupBy("pair").agg(
                F.count(F.lit(1)).cast("bigint").alias("kb")
            ),
            "pair",
        )
    )
    j = (
        cells.join(F.broadcast(ra), ["pair", "a"])
        .join(F.broadcast(cb), ["pair", "b"])
        .join(F.broadcast(nt), "pair")
    )
    diff = (
        F.col("nn") * F.col("o") - F.col("r") * F.col("c")
    ).cast("double")
    tq = F.floor(
        (diff * diff)
        / (F.col("nn").cast("double") * F.col("r") * F.col("c"))
        * F.lit(1000000.0)
    ).cast("bigint")
    per_pair = j.groupBy("pair").agg(F.sum(tq).cast("bigint").alias("tqs"))
    out = per_pair.join(F.broadcast(nt), "pair").join(
        F.broadcast(dims), "pair"
    )
    chi2 = F.col("tqs").cast("double") / F.lit(1000000.0)
    return out.select(
        "pair",
        F.round(chi2, 4).alias("chi2"),
        F.round(
            F.sqrt(
                chi2
                / F.col("nn")
                / F.least(F.col("ka") - 1, F.col("kb") - 1)
            ),
            6,
        ).alias("cramers_v"),
    ).orderBy("pair")


# ------------------------------------------------------ theil_u_uncertainty

@register(
    "theil_u_uncertainty",
    oracle="""
    WITH s AS (
        SELECT event_type AS t,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) % 7
                   AS d
        FROM events
    ),
    cells AS (
        SELECT t, d, CAST(COUNT(*) AS BIGINT) AS n
        FROM s GROUP BY t, d
    ),
    nt AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
    rt AS (SELECT t, CAST(SUM(n) AS BIGINT) AS r FROM cells GROUP BY t),
    cd AS (SELECT d, CAST(SUM(n) AS BIGINT) AS c FROM cells GROUP BY d),
    ht AS (
        SELECT CAST(SUM(CAST(FLOOR(
                   -(CAST(r AS DOUBLE) / nt.nn)
                   * ln(CAST(r AS DOUBLE) / nt.nn)
                   * 1000000000.0) AS BIGINT)) AS BIGINT) AS hq
        FROM rt CROSS JOIN nt
    ),
    hcond AS (
        SELECT CAST(SUM(CAST(FLOOR(
                   -(CAST(cells.n AS DOUBLE) / nt.nn)
                   * ln(CAST(cells.n AS DOUBLE) / cd.c)
                   * 1000000000.0) AS BIGINT)) AS BIGINT) AS hq
        FROM cells JOIN cd USING (d) CROSS JOIN nt
    )
    SELECT nt.nn AS n,
           ROUND(CAST(ht.hq AS DOUBLE) / 1000000000.0, 6) AS h_type,
           ROUND(CAST(hcond.hq AS DOUBLE) / 1000000000.0, 6)
               AS h_type_given_dow,
           ROUND((CAST(ht.hq AS DOUBLE) / 1000000000.0
                  - CAST(hcond.hq AS DOUBLE) / 1000000000.0)
                 / (CAST(ht.hq AS DOUBLE) / 1000000000.0), 6)
               AS theil_u
    FROM nt CROSS JOIN ht CROSS JOIN hcond
    """,
)
def theil_u_uncertainty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL'S UNCERTAINTY COEFFICIENT U(type|dow) (Theil 1970): the
    ASYMMETRIC categorical association — what fraction of event-type
    entropy the day-of-week explains — complementing the symmetric
    `cramers_v_matrix` (U distinguishes X->Y from Y->X; V cannot).

    Determinism: both entropies accumulate floor-quantized nano terms
    (each term is one fixed chain ending in ln — ln is the only libm
    call, and a 1-ulp divergence moves a nano-quantized term only
    when the product sits within 1e-9 of an integer boundary; the
    entropy_by_source precedent runs the same exposure unquantized);
    dow via epoch-day % 7.

    Scale (100 TB): one corpus collapse to <= 35 cells; margins and
    entropies derive from the cells."""
    ev = load(spark, sf_dir, "events")
    s = ev.select(
        F.col("event_type").alias("t"),
        (
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            ).cast("bigint")
            % 7
        ).alias("d"),
    )
    cells = s.groupBy("t", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    cells = cells.localCheckpoint(eager=True)
    nt = cells.agg(F.sum("n").cast("bigint").alias("nn"))
    rt = cells.groupBy("t").agg(F.sum("n").cast("bigint").alias("r"))
    cd = cells.groupBy("d").agg(F.sum("n").cast("bigint").alias("c"))
    ht = (
        rt.crossJoin(F.broadcast(nt))
        .select(
            F.floor(
                -(F.col("r").cast("double") / F.col("nn"))
                * F.log(F.col("r").cast("double") / F.col("nn"))
                * F.lit(1000000000.0)
            )
            .cast("bigint")
            .alias("q")
        )
        .agg(F.sum("q").cast("bigint").alias("hq"))
    )
    hcond = (
        cells.join(F.broadcast(cd), "d")
        .crossJoin(F.broadcast(nt))
        .select(
            F.floor(
                -(F.col("n").cast("double") / F.col("nn"))
                * F.log(F.col("n").cast("double") / F.col("c"))
                * F.lit(1000000000.0)
            )
            .cast("bigint")
            .alias("q")
        )
        .agg(F.sum("q").cast("bigint").alias("hq"))
    )
    out = (
        nt.crossJoin(F.broadcast(ht.withColumnRenamed("hq", "hqt")))
        .crossJoin(F.broadcast(hcond.withColumnRenamed("hq", "hqc")))
    )
    h_t = F.col("hqt").cast("double") / F.lit(1000000000.0)
    h_c = F.col("hqc").cast("double") / F.lit(1000000000.0)
    return out.select(
        F.col("nn").alias("n"),
        F.round(h_t, 6).alias("h_type"),
        F.round(h_c, 6).alias("h_type_given_dow"),
        F.round((h_t - h_c) / h_t, 6).alias("theil_u"),
    )


# ------------------------------------------------------- odds_ratio_2x2_ci

@register(
    "odds_ratio_2x2_ci",
    oracle="""
    WITH u AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'click'
                        AND CAST(CAST(value AS DECIMAL(18,2)) * 100
                                 AS BIGINT) > 20000
                        THEN 1 ELSE 0 END) AS x1,
               MAX(CASE WHEN event_type = 'purchase'
                        AND CAST(CAST(value AS DECIMAL(18,2)) * 100
                                 AS BIGINT) > 20000
                        THEN 1 ELSE 0 END) AS x2
        FROM events GROUP BY user_id
    ),
    c AS (
        SELECT CAST(SUM(CASE WHEN x1 = 1 AND x2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(SUM(CASE WHEN x1 = 1 AND x2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(SUM(CASE WHEN x1 = 0 AND x2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c2,
               CAST(SUM(CASE WHEN x1 = 0 AND x2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
        FROM u
    )
    SELECT a AS n11, b AS n10, c2 AS n01, d AS n00,
           ROUND(CAST(a * d AS DOUBLE) / NULLIF(CAST(b * c2 AS DOUBLE),
                                                0.0), 6) AS odds_ratio,
           ROUND(ln(CAST(a * d AS DOUBLE) / NULLIF(CAST(b * c2
                                                        AS DOUBLE), 0.0))
                 - 1.96 * SQRT(1.0 / a + 1.0 / b + 1.0 / c2 + 1.0 / d),
                 4) AS log_or_ci_lo,
           ROUND(ln(CAST(a * d AS DOUBLE) / NULLIF(CAST(b * c2
                                                        AS DOUBLE), 0.0))
                 + 1.96 * SQRT(1.0 / a + 1.0 / b + 1.0 / c2 + 1.0 / d),
                 4) AS log_or_ci_hi
    FROM c
    """,
)
def odds_ratio_2x2_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODDS RATIO with the Woolf (1955) log-normal confidence interval
    over the same big-click/big-purchase 2x2 as `mcnemar_test` — the
    EFFECT-SIZE report next to that test's significance answer (a
    warehouse A/B readout wants both).

    Determinism: four exact int64 cells; OR is a ratio of exact
    integer products (budget a*d <= U^2/4 -> safe to ~6e9 users);
    CI endpoints are one ln + one SQRT chain behind ROUND(.,4) (the
    benford log10 exposure precedent); NULLIF guards empty
    off-diagonals.

    Scale (100 TB): one user-keyed collapse + 4-counter rollup."""
    ev = load(spark, sf_dir, "events")
    big = F.expr(_CENTS) > 20000
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when((F.col("event_type") == "click") & big, 1).otherwise(0)
        ).alias("x1"),
        F.max(
            F.when((F.col("event_type") == "purchase") & big, 1).otherwise(
                0
            )
        ).alias("x2"),
    )
    c = u.agg(
        F.sum(
            F.when((F.col("x1") == 1) & (F.col("x2") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("a"),
        F.sum(
            F.when((F.col("x1") == 1) & (F.col("x2") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("b"),
        F.sum(
            F.when((F.col("x1") == 0) & (F.col("x2") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("c2"),
        F.sum(
            F.when((F.col("x1") == 0) & (F.col("x2") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("d"),
    )
    orr = (F.col("a") * F.col("d")).cast("double") / F.nullif(
        (F.col("b") * F.col("c2")).cast("double"), F.lit(0.0)
    )
    half = F.lit(1.96) * F.sqrt(
        F.lit(1.0) / F.col("a")
        + F.lit(1.0) / F.col("b")
        + F.lit(1.0) / F.col("c2")
        + F.lit(1.0) / F.col("d")
    )
    return c.select(
        F.col("a").alias("n11"),
        F.col("b").alias("n10"),
        F.col("c2").alias("n01"),
        F.col("d").alias("n00"),
        F.round(orr, 6).alias("odds_ratio"),
        F.round(F.log(orr) - half, 4).alias("log_or_ci_lo"),
        F.round(F.log(orr) + half, 4).alias("log_or_ci_hi"),
    )


# --------------------------------------------------- cohens_d_effect_size

@register(
    "cohens_d_effect_size",
    oracle="""
    WITH s AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    m AS (
        SELECT CAST(SUM(a) AS BIGINT) AS na,
               CAST(SUM(1 - a) AS BIGINT) AS nb,
               CAST(SUM(x * a) AS BIGINT) AS sxa,
               CAST(SUM(x * (1 - a)) AS BIGINT) AS sxb,
               CAST(SUM(x * x * a) AS BIGINT) AS sxxa,
               CAST(SUM(x * x * (1 - a)) AS BIGINT) AS sxxb
        FROM s
    )
    SELECT na, nb,
           ROUND((CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb)
                 / SQRT(((CAST(sxxa AS DOUBLE)
                          - CAST(sxa AS DOUBLE) * sxa / na)
                         + (CAST(sxxb AS DOUBLE)
                            - CAST(sxb AS DOUBLE) * sxb / nb))
                        / (na + nb - 2)),
                 6) AS cohens_d,
           ROUND(((CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb)
                  / SQRT(((CAST(sxxa AS DOUBLE)
                           - CAST(sxa AS DOUBLE) * sxa / na)
                          + (CAST(sxxb AS DOUBLE)
                             - CAST(sxb AS DOUBLE) * sxb / nb))
                         / (na + nb - 2)))
                 * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0)),
                 6) AS hedges_g
    FROM m
    """,
)
def cohens_d_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S d + HEDGES' g standardized mean difference between the
    click and purchase value arms — the EFFECT SIZE companion
    `ab_test_welch` (significance) and `mann_whitney_u_value`
    (rank-biserial) bracket: pooled-SD units make the difference
    comparable across metrics, and g's small-sample correction
    (1 - 3/(4N-9), Hedges 1981) is what meta-analyses report.

    Determinism: BOTH arms' moments land in ONE row via conditional
    sums (no cross-row double accumulation anywhere); d and g are
    single fixed IEEE trees from exact int64 moments, written
    identically in both engines, behind ROUND(6).  Budget: cents^2 <=
    3.1e9 -> int64 sums safe to ~3e9 rows/arm (the welch_anova note).

    Scale (100 TB): ONE map-side-combinable pass over the corpus to a
    single 6-register row; zero joins, zero windows."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = ev.select(
        F.expr(_CENTS).alias("x"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a"),
    )
    m = s.agg(
        F.sum("a").cast("bigint").alias("na"),
        F.sum(F.lit(1) - F.col("a")).cast("bigint").alias("nb"),
        F.sum(F.col("x") * F.col("a")).cast("bigint").alias("sxa"),
        F.sum(F.col("x") * (F.lit(1) - F.col("a")))
        .cast("bigint")
        .alias("sxb"),
        F.sum(F.col("x") * F.col("x") * F.col("a"))
        .cast("bigint")
        .alias("sxxa"),
        F.sum(F.col("x") * F.col("x") * (F.lit(1) - F.col("a")))
        .cast("bigint")
        .alias("sxxb"),
    )
    mean_diff = (
        F.col("sxa").cast("double") / F.col("na")
        - F.col("sxb").cast("double") / F.col("nb")
    )
    pooled = F.sqrt(
        (
            (
                F.col("sxxa").cast("double")
                - F.col("sxa").cast("double") * F.col("sxa") / F.col("na")
            )
            + (
                F.col("sxxb").cast("double")
                - F.col("sxb").cast("double") * F.col("sxb") / F.col("nb")
            )
        )
        / (F.col("na") + F.col("nb") - 2)
    )
    d = mean_diff / pooled
    g = d * (
        F.lit(1.0)
        - F.lit(3.0) / (F.lit(4.0) * (F.col("na") + F.col("nb")) - 9.0)
    )
    return m.select(
        "na",
        "nb",
        F.round(d, 6).alias("cohens_d"),
        F.round(g, 6).alias("hedges_g"),
    )


# --------------------------------------------------- cliffs_delta_effect

@register(
    "cliffs_delta_effect",
    oracle="""
    WITH s AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    freq AS (
        SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
               CAST(SUM(1 - a) AS BIGINT) AS cb
        FROM s GROUP BY v
    ),
    r AS (
        SELECT v, ca, cb,
               CAST(COALESCE(SUM(cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS cb_lt
        FROM freq
    ),
    t AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na,
               CAST(SUM(cb) AS BIGINT) AS nb,
               CAST(SUM(ca * cb_lt) AS BIGINT) AS gt_pairs,
               CAST(SUM(ca * cb) AS BIGINT) AS eq_pairs
        FROM r
    )
    SELECT na, nb, gt_pairs,
           CAST(na * nb - gt_pairs - eq_pairs AS BIGINT) AS lt_pairs,
           ROUND((CAST(gt_pairs AS DOUBLE)
                  - (CAST(na AS DOUBLE) * nb - gt_pairs - eq_pairs))
                 / (CAST(na AS DOUBLE) * nb),
                 6) AS cliffs_delta
    FROM t
    """,
)
def cliffs_delta_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIFF'S DELTA ordinal effect size between the click and
    purchase arms: delta = (#(x>y) - #(x<y)) / (na*nb) over all
    cross-arm pairs (Cliff 1993) — the DISTRIBUTION-FREE effect size
    that pairs with `mann_whitney_u_value` the way `cohens_d` pairs
    with Welch's t: no variance, no normality, robust to the heavy
    tails where d overstates.

    The pair counts come from the value FREQUENCY table, never pair
    enumeration: #(x>y) = sum over values v of ca_v * |{B < v}|,
    with the strict-less B-counts from the shared `_rank_prefix`
    (house rank-statistics shape); #(x<y) follows by complement from
    na*nb and the tie count.  Budget: gt_pairs <= na*nb — int64-safe
    to ~3e9 rows PER ARM.

    Determinism: exact int64 end-to-end; one terminal double ratio
    behind ROUND(6), written identically in both engines.

    Scale (100 TB): one groupBy(v) collapse (Heaps-bounded), the
    hierarchical `_rank_prefix` (no single-partition window), one
    final 4-register aggregate."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = ev.select(
        F.expr(_CENTS).alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a"),
    )
    freq = s.groupBy("v").agg(
        F.sum("a").cast("bigint").alias("ca"),
        F.sum(F.lit(1) - F.col("a")).cast("bigint").alias("cb"),
    )
    r = _rank_prefix(freq, "v", ["cb"])
    t = r.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.sum(F.col("ca") * F.col("cb_lt")).cast("bigint").alias(
            "gt_pairs"
        ),
        F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("eq_pairs"),
    )
    lt = (
        F.col("na") * F.col("nb") - F.col("gt_pairs") - F.col("eq_pairs")
    ).cast("bigint")
    delta = (
        F.col("gt_pairs").cast("double")
        - (
            F.col("na").cast("double") * F.col("nb")
            - F.col("gt_pairs")
            - F.col("eq_pairs")
        )
    ) / (F.col("na").cast("double") * F.col("nb"))
    return t.select(
        "na",
        "nb",
        "gt_pairs",
        lt.alias("lt_pairs"),
        F.round(delta, 6).alias("cliffs_delta"),
    )


# ---------------------------------------------------- bartlett_test_value

@register(
    "bartlett_test_value",
    oracle="""
    WITH s AS (
        SELECT event_type AS g,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL
    ),
    m AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM s GROUP BY g HAVING COUNT(*) >= 2
    ),
    v AS (
        SELECT g, n,
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                   / (n - 1.0) AS var_g
        FROM m
    ),
    q AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(CAST(FLOOR((n - 1.0) * var_g) AS BIGINT))
                    AS BIGINT) AS pooled_num_q,
               CAST(SUM(CAST(FLOOR((n - 1.0) * LN(var_g) * 1000000000.0)
                             AS BIGINT)) AS BIGINT) AS lnterm_nq,
               CAST(SUM(CAST(FLOOR(1.0 / (n - 1.0) * 1000000000000.0)
                             AS BIGINT)) AS BIGINT) AS invdf_pq
        FROM v WHERE var_g > 0
    )
    SELECT k, nn,
           ROUND(((nn - k) * LN(CAST(pooled_num_q AS DOUBLE) / (nn - k))
                  - CAST(lnterm_nq AS DOUBLE) / 1000000000.0)
                 / (1.0 + (CAST(invdf_pq AS DOUBLE) / 1000000000000.0
                           - 1.0 / (nn - k))
                          / (3.0 * (k - 1.0))),
                 4) AS bartlett_t
    FROM q
    """,
)
def bartlett_test_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BARTLETT'S TEST of variance homogeneity across ALL event-type
    arms (Bartlett 1937) — the parametric, normality-assuming
    counterpart to `brown_forsythe_test`: maximally powerful when
    values really are normal, and the classic pre-check before
    pooled-variance ANOVA (`anova_oneway_value`).

    Determinism: per-group moments exact cents int64 (welch_anova
    budget note); the THREE cross-group sums — pooled-variance
    numerator (floor to whole cents^2: relative error <= k/1e12 at
    graded scales, absorbed by ROUND(4)), (n-1)ln(var) terms (nano),
    and 1/(n-1) terms (pico) — are floor-quantized BEFORE summing so
    engine order can't matter; the statistic is one shared formula
    from the quantized sums.  Zero-variance or singleton groups drop
    on BOTH sides (same filter).

    Scale (100 TB): one map-side moments pass to k rows; all
    arithmetic after is on k rows.  int64 note: the nano ln-term
    quantization saturates past ~1e12 rows/group — re-scale to micro
    there (documented, not graded)."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = ev.select(F.col("event_type").alias("g"), F.expr(_CENTS).alias("x"))
    m = (
        s.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        )
        .filter(F.col("n") >= 2)
    )
    var_g = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    ) / (F.col("n") - F.lit(1.0))
    v = m.select("g", "n", var_g.alias("var_g")).filter(
        F.col("var_g") > 0
    )
    q = v.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(
            F.floor((F.col("n") - F.lit(1.0)) * F.col("var_g")).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("pooled_num_q"),
        F.sum(
            F.floor(
                (F.col("n") - F.lit(1.0))
                * F.log(F.col("var_g"))
                * F.lit(1000000000.0)
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("lnterm_nq"),
        F.sum(
            F.floor(
                F.lit(1.0)
                / (F.col("n") - F.lit(1.0))
                * F.lit(1000000000000.0)
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("invdf_pq"),
    )
    t_stat = (
        (F.col("nn") - F.col("k"))
        * F.log(
            F.col("pooled_num_q").cast("double")
            / (F.col("nn") - F.col("k"))
        )
        - F.col("lnterm_nq").cast("double") / F.lit(1000000000.0)
    ) / (
        F.lit(1.0)
        + (
            F.col("invdf_pq").cast("double") / F.lit(1000000000000.0)
            - F.lit(1.0) / (F.col("nn") - F.col("k"))
        )
        / (F.lit(3.0) * (F.col("k") - F.lit(1.0)))
    )
    return q.select(
        "k", "nn", F.round(t_stat, 4).alias("bartlett_t")
    )


# --------------------------------------------------- nelson_aalen_hazard

@register(
    "nelson_aalen_hazard",
    oracle="""
    WITH u AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d,
               MAX(CAST(ts AS DATE)) AS last_d
        FROM events GROUP BY user_id
    ),
    obs AS (SELECT MAX(last_d) AS max_d FROM u),
    lt AS (
        SELECT CAST(datediff('day', first_d, last_d) AS BIGINT) AS t,
               (last_d = obs.max_d) AS censored
        FROM u CROSS JOIN obs
    ),
    per_t AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS n_at_t,
               CAST(SUM(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_deaths
        FROM lt GROUP BY t
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM lt),
    risk AS (
        SELECT t, n_deaths,
               n_users - SUM(n_at_t) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   + n_at_t AS n_risk
        FROM per_t CROSS JOIN tot
    ),
    haz AS (
        SELECT t, n_deaths, CAST(n_risk AS BIGINT) AS n_risk,
               SUM(CAST(FLOOR(CAST(n_deaths AS DOUBLE) / n_risk
                              * 1000000000.0) AS BIGINT))
                   OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS h_nq
        FROM risk WHERE n_deaths >= 1
    )
    SELECT t AS t_days, n_risk, n_deaths,
           ROUND(CAST(h_nq AS DOUBLE) / 1000000000.0, 6) AS h_cum,
           ROUND(EXP(-(CAST(h_nq AS DOUBLE) / 1000000000.0)), 6)
               AS s_fleming_harrington
    FROM haz ORDER BY t_days
    """,
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON-AALEN CUMULATIVE HAZARD over user lifetimes (Nelson
    1972, Aalen 1978) — the hazard-scale twin of
    `kaplan_meier_retention` (same censoring construction: a user
    still active at window end is censored): H(t) = sum_{u<=t}
    d_u/n_u, plus the Fleming-Harrington survival exp(-H) that beats
    KM in small risk sets.  Reported per death time with the at-risk
    count.

    Determinism: each hazard increment d/n is floor-quantized to
    nano BEFORE the cumulative sum, so H accumulates in exact int64
    (order-free) and the only doubles are the two rendered columns
    behind ROUND(6).

    Scale (100 TB): per-user collapse map-side on user_id; lifetimes
    collapse to <= |days| rows; the ordered windows run on that tiny
    frame (flat class, the kaplan_meier note)."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_d"),
        F.max(F.to_date("ts")).alias("last_d"),
    )
    obs = u.agg(F.max("last_d").alias("max_d"))
    lt = u.crossJoin(F.broadcast(obs)).select(
        F.datediff("last_d", "first_d").cast("bigint").alias("t"),
        (F.col("last_d") == F.col("max_d")).alias("censored"),
    )
    per_t = lt.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_at_t"),
        F.sum(F.when(F.col("censored"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_deaths"),
    )
    tot = lt.agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = per_t.crossJoin(F.broadcast(tot)).withColumn(
        "n_risk",
        (
            F.col("n_users")
            - F.sum("n_at_t").over(w_cum)
            + F.col("n_at_t")
        ).cast("bigint"),
    )
    haz = risk.filter(F.col("n_deaths") >= 1).withColumn(
        "h_nq",
        F.sum(
            F.floor(
                F.col("n_deaths").cast("double")
                / F.col("n_risk")
                * F.lit(1000000000.0)
            ).cast("bigint")
        ).over(w_cum),
    )
    hd = F.col("h_nq").cast("double") / F.lit(1000000000.0)
    return (
        haz.select(
            F.col("t").alias("t_days"),
            "n_risk",
            "n_deaths",
            F.round(hd, 6).alias("h_cum"),
            F.round(F.exp(-hd), 6).alias("s_fleming_harrington"),
        )
        .orderBy("t_days")
    )


# ------------------------------------------------ cross_correlation_lagged

@register(
    "cross_correlation_lagged",
    oracle="""
    WITH e AS (SELECT CAST(ts AS DATE) AS d, event_type FROM events
               WHERE event_type IN ('click', 'purchase')),
    b AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM e),
    days AS (SELECT CAST(unnest(generate_series(dmin, dmax,
                                                INTERVAL 1 DAY))
                         AS DATE) AS d
             FROM b),
    c AS (SELECT d,
                 CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT)
                     AS x,
                 CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT)
                     AS y
          FROM e GROUP BY d),
    dense AS (SELECT days.d, COALESCE(c.x, 0) AS x, COALESCE(c.y, 0) AS y
              FROM days LEFT JOIN c USING (d)),
    lags AS (SELECT unnest(generate_series(0, 7)) AS lag),
    pairs AS (
        SELECT lags.lag, a.x, b2.y
        FROM dense a CROSS JOIN lags
        JOIN dense b2 ON b2.d = a.d + CAST(lags.lag AS INTEGER)
    ),
    m AS (
        SELECT lag, CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, k,
           ROUND(CAST(k * sxy - sx * sy AS DOUBLE)
                 / NULLIF(SQRT(CAST(k * sxx - sx * sx AS DOUBLE))
                          * SQRT(CAST(k * syy - sy * sy AS DOUBLE)), 0.0),
                 4) AS xcorr
    FROM m ORDER BY lag
    """,
)
def cross_correlation_lagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAGGED CROSS-CORRELATION (CCF) between daily click volume and
    purchase volume at lags 0..7 days: corr(click_t, purchase_{t+L})
    — the lead/lag discovery tool `rolling_corr_pair_14d` (lag 0,
    windowed) and `daily_autocorr_lag1` (self, lag 1) point toward:
    the argmax lag estimates the click->purchase conversion delay at
    the population level.

    Determinism: dense gap-filled day grid (missing days are real
    zeros on both engines); per-lag moments are exact int64; r is
    the guarded closed form behind ROUND(4) (NULLIF for
    zero-variance overlaps).

    Scale (100 TB): the corpus collapses to |days| rows FIRST; the
    lag fan is |days| x 8 rows joined back equi on the shifted date
    — broadcast-sized at any corpus scale (flat class)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    e = ev.select(F.to_date("ts").alias("d"), "event_type")
    bnd = e.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    days = bnd.select(F.explode(F.sequence("dmin", "dmax")).alias("d"))
    c = e.groupBy("d").agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("bigint")
        .alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("y"),
    )
    dense = days.join(c, "d", "left").select(
        "d",
        F.coalesce("x", F.lit(0)).alias("x"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    lags = spark.range(0, 8).select(F.col("id").cast("int").alias("lag"))
    left = dense.crossJoin(F.broadcast(lags)).select(
        "lag", "x", F.expr("date_add(d, lag)").alias("d2")
    )
    pairs = left.join(
        dense.select(F.col("d").alias("d2"), F.col("y").alias("y2")),
        "d2",
    )
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y2").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y2")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y2") * F.col("y2")).cast("bigint").alias("syy"),
    )
    num = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.nullif(
        F.sqrt(
            (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        )
        * F.sqrt(
            (F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                "double"
            )
        ),
        F.lit(0.0),
    )
    return (
        m.select(
            F.col("lag").cast("bigint").alias("lag"),
            "k",
            F.round(num / den, 4).alias("xcorr"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------- jarque_bera_test

@register(
    "jarque_bera_test",
    oracle="""
    WITH s AS (
        SELECT event_type AS g,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 100
                   AS x
        FROM events
    ),
    m AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS s1,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS s2,
               CAST(SUM(CAST(x AS HUGEINT) * x * x) AS DOUBLE) AS s3,
               CAST(SUM(CAST(x AS HUGEINT) * x * x * x) AS DOUBLE) AS s4
        FROM s GROUP BY g
    )
    SELECT g, n,
           ROUND((s3 / n - 3.0 * (s1 / n) * (s2 / n)
                  + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
                 / POW(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skewness,
           ROUND((s4 / n - 4.0 * (s1 / n) * (s3 / n)
                  + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                  - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                 / ((s2 / n - (s1 / n) * (s1 / n))
                    * (s2 / n - (s1 / n) * (s1 / n))) - 3.0, 6)
               AS ex_kurtosis,
           ROUND(n / 6.0 * (
               ((s3 / n - 3.0 * (s1 / n) * (s2 / n)
                 + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
                / POW(s2 / n - (s1 / n) * (s1 / n), 1.5))
               * ((s3 / n - 3.0 * (s1 / n) * (s2 / n)
                   + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
                  / POW(s2 / n - (s1 / n) * (s1 / n), 1.5))
               + ((s4 / n - 4.0 * (s1 / n) * (s3 / n)
                   + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                   - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                  / ((s2 / n - (s1 / n) * (s1 / n))
                     * (s2 / n - (s1 / n) * (s1 / n))) - 3.0)
               * ((s4 / n - 4.0 * (s1 / n) * (s3 / n)
                   + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
                   - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                  / ((s2 / n - (s1 / n) * (s1 / n))
                     * (s2 / n - (s1 / n) * (s1 / n))) - 3.0) / 4.0),
               4) AS jb_stat
    FROM m ORDER BY g
    """,
)
def jarque_bera_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JARQUE–BERA NORMALITY TEST per event-type arm: skewness and
    excess kurtosis from the first four power sums, JB = n/6·(S² +
    K²/4) — the moments-only normality screen run before choosing
    parametric (`ab_test_welch`, `anova_oneway_value`) vs rank
    (`mann_whitney_u_value`, `kruskal_wallis_value`) machinery.
    Values are truncated to integer currency units (not cents):
    skewness/kurtosis are scale-free, and unit-quantization keeps the
    4th power ≤ 1e16 per row so every power sum stays EXACT in
    (Spark) DECIMAL(38,0) / (DuckDB) HUGEINT at any row count up to
    ~1e22 — no float accumulation anywhere.

    Determinism: exact integer power sums; each engine rounds the
    exact sum to the nearest double ONCE (identical result), then
    evaluates the same raw-moment→central-moment IEEE tree, rendered
    ROUND(6)/ROUND(4).

    Scale (100 TB): ONE map-side-combinable pass to |arms| 5-register
    rows; zero joins, zero windows."""
    ev = load(spark, sf_dir, "events")
    s = ev.select(
        F.col("event_type").alias("g"),
        F.expr(
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 100"
        ).alias("x"),
    )
    x = F.col("x")
    d38 = "decimal(38,0)"
    m = s.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x.cast(d38)).cast("double").alias("s1"),
        F.sum((x * x).cast(d38)).cast("double").alias("s2"),
        F.sum((x * x * x).cast(d38)).cast("double").alias("s3"),
        F.sum(((x * x) * (x * x)).cast(d38)).cast("double").alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = (
        F.col("s3") / n
        - F.lit(3.0) * mu * (F.col("s2") / n)
        + F.lit(2.0) * mu * mu * mu
    )
    m4 = (
        F.col("s4") / n
        - F.lit(4.0) * mu * (F.col("s3") / n)
        + F.lit(6.0) * mu * mu * (F.col("s2") / n)
        - F.lit(3.0) * mu * mu * mu * mu
    )
    skew = m3 / F.pow(m2, F.lit(1.5))
    exk = m4 / (m2 * m2) - F.lit(3.0)
    jb = n / F.lit(6.0) * (skew * skew + exk * exk / F.lit(4.0))
    return m.select(
        "g",
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(exk, 6).alias("ex_kurtosis"),
        F.round(jb, 4).alias("jb_stat"),
    ).orderBy("g")


# ----------------------------------------------------- two_proportion_z_test

@register(
    "two_proportion_z_test",
    oracle="""
    WITH s AS (
        SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
               CASE WHEN CAST(value AS DECIMAL(18,2)) > 100 THEN 1 ELSE 0
                    END AS hit
        FROM events WHERE event_type IN ('click', 'view')
    ),
    m AS (
        SELECT CAST(SUM(a) AS BIGINT) AS n1,
               CAST(SUM(a * hit) AS BIGINT) AS x1,
               CAST(SUM(1 - a) AS BIGINT) AS n2,
               CAST(SUM((1 - a) * hit) AS BIGINT) AS x2
        FROM s
    )
    SELECT n1, x1, n2, x2,
           ROUND(CAST(x1 AS DOUBLE) / n1, 6) AS p1,
           ROUND(CAST(x2 AS DOUBLE) / n2, 6) AS p2,
           ROUND((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
                 / SQRT((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                        * (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                        * (1.0 / n1 + 1.0 / n2)), 6) AS z_stat,
           ABS((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
               / SQRT((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                      * (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                      * (1.0 / n1 + 1.0 / n2))) > 1.959964 AS reject_95
    FROM m
    """,
)
def two_proportion_z_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-PROPORTION POOLED Z-TEST: does the click arm convert
    (value > 100) at a different rate than the view arm?  The pooled
    standard-error form is the test behind every conversion-rate A/B
    readout; complements `ab_test_welch` (means) and
    `ab_assignment_srm_check` (allocation health) — proportions are
    the third leg analytics stacks ship.

    Determinism: all four counts land in ONE row via conditional sums
    (exact int64); z is a single fixed IEEE tree from those ints,
    identical in both engines; the reject flag compares the same
    double to the same literal.

    Scale (100 TB): ONE map-side-combinable pass to a 4-register row."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    s = ev.select(
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a"),
        F.when(
            F.expr("CAST(value AS DECIMAL(18,2))") > 100, 1
        ).otherwise(0).alias("hit"),
    )
    m = s.agg(
        F.sum("a").cast("bigint").alias("n1"),
        F.sum(F.col("a") * F.col("hit")).cast("bigint").alias("x1"),
        F.sum(F.lit(1) - F.col("a")).cast("bigint").alias("n2"),
        F.sum((F.lit(1) - F.col("a")) * F.col("hit"))
        .cast("bigint")
        .alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (
        F.col("n1") + F.col("n2")
    )
    z = (p1 - p2) / F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
    )
    return m.select(
        "n1",
        "x1",
        "n2",
        "x2",
        F.round(p1, 6).alias("p1"),
        F.round(p2, 6).alias("p2"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > 1.959964).alias("reject_95"),
    )


# -------------------------------------------------- equivalence_tost_test

@register(
    "equivalence_tost_test",
    oracle="""
    WITH s AS (
        SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    m AS (
        SELECT CAST(SUM(a) AS BIGINT) AS na,
               CAST(SUM(1 - a) AS BIGINT) AS nb,
               CAST(SUM(x * a) AS BIGINT) AS sxa,
               CAST(SUM(x * (1 - a)) AS BIGINT) AS sxb,
               CAST(SUM(x * x * a) AS BIGINT) AS sxxa,
               CAST(SUM(x * x * (1 - a)) AS BIGINT) AS sxxb
        FROM s
    )
    SELECT na, nb,
           ROUND(CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb, 4)
               AS mean_diff_cents,
           ROUND(((CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb)
                  + 500.0)
                 / SQRT((CAST(sxxa AS DOUBLE) / na
                         - (CAST(sxa AS DOUBLE) / na)
                           * (CAST(sxa AS DOUBLE) / na)) / na
                        + (CAST(sxxb AS DOUBLE) / nb
                           - (CAST(sxb AS DOUBLE) / nb)
                             * (CAST(sxb AS DOUBLE) / nb)) / nb), 6)
               AS t_lower,
           ROUND(((CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb)
                  - 500.0)
                 / SQRT((CAST(sxxa AS DOUBLE) / na
                         - (CAST(sxa AS DOUBLE) / na)
                           * (CAST(sxa AS DOUBLE) / na)) / na
                        + (CAST(sxxb AS DOUBLE) / nb
                           - (CAST(sxb AS DOUBLE) / nb)
                             * (CAST(sxb AS DOUBLE) / nb)) / nb), 6)
               AS t_upper,
           (((CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb)
             + 500.0)
            / SQRT((CAST(sxxa AS DOUBLE) / na
                    - (CAST(sxa AS DOUBLE) / na)
                      * (CAST(sxa AS DOUBLE) / na)) / na
                   + (CAST(sxxb AS DOUBLE) / nb
                      - (CAST(sxb AS DOUBLE) / nb)
                        * (CAST(sxb AS DOUBLE) / nb)) / nb) > 1.644854)
           AND
           (((CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb)
             - 500.0)
            / SQRT((CAST(sxxa AS DOUBLE) / na
                    - (CAST(sxa AS DOUBLE) / na)
                      * (CAST(sxa AS DOUBLE) / na)) / na
                   + (CAST(sxxb AS DOUBLE) / nb
                      - (CAST(sxb AS DOUBLE) / nb)
                        * (CAST(sxb AS DOUBLE) / nb)) / nb) < -1.644854)
               AS equivalent_90
    FROM m
    """,
)
def equivalence_tost_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-ONE-SIDED-TESTS (TOST) EQUIVALENCE between the click and
    purchase value arms with a ±500-cent margin: unlike
    `ab_test_welch` (which can only fail to find a difference), TOST
    can POSITIVELY conclude "the means are within the margin" — the
    question launch reviews actually ask ("is the fallback within 5
    dollars of control?").  Both one-sided stats use the Welch
    (unpooled population-variance) standard error; equivalence at 90%
    needs t_lower > +z_{0.95} AND t_upper < −z_{0.95} (large-sample z
    approximation, 1.644854).

    Determinism: one conditional-moments row (the `cohens_d` shape);
    both t statistics are fixed IEEE trees from exact int64 sums,
    identical in both engines; flags compare the same doubles.

    Scale (100 TB): ONE map-side pass to a 6-register row."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = ev.select(
        F.expr(_CENTS).alias("x"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a"),
    )
    m = s.agg(
        F.sum("a").cast("bigint").alias("na"),
        F.sum(F.lit(1) - F.col("a")).cast("bigint").alias("nb"),
        F.sum(F.col("x") * F.col("a")).cast("bigint").alias("sxa"),
        F.sum(F.col("x") * (F.lit(1) - F.col("a")))
        .cast("bigint")
        .alias("sxb"),
        F.sum(F.col("x") * F.col("x") * F.col("a"))
        .cast("bigint")
        .alias("sxxa"),
        F.sum(F.col("x") * F.col("x") * (F.lit(1) - F.col("a")))
        .cast("bigint")
        .alias("sxxb"),
    )
    ma = F.col("sxa").cast("double") / F.col("na")
    mb = F.col("sxb").cast("double") / F.col("nb")
    va = F.col("sxxa").cast("double") / F.col("na") - ma * ma
    vb = F.col("sxxb").cast("double") / F.col("nb") - mb * mb
    se = F.sqrt(va / F.col("na") + vb / F.col("nb"))
    diff = ma - mb
    t_lo = (diff + F.lit(500.0)) / se
    t_hi = (diff - F.lit(500.0)) / se
    return m.select(
        "na",
        "nb",
        F.round(diff, 4).alias("mean_diff_cents"),
        F.round(t_lo, 6).alias("t_lower"),
        F.round(t_hi, 6).alias("t_upper"),
        ((t_lo > 1.644854) & (t_hi < -1.644854)).alias("equivalent_90"),
    )


# ---------------------------------------------- psi_population_stability

@register(
    "psi_population_stability",
    oracle="""
    WITH s AS (
        SELECT LENGTH(printf('%b',
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   + 1)) - 1 AS bkt,
               CASE WHEN CAST(CAST(ts AS DATE) - DATE '1970-01-01'
                         AS BIGINT) % 2 = 0
                    THEN 1 ELSE 0 END AS a
        FROM events
    ),
    tot AS (SELECT CAST(SUM(a) AS BIGINT) AS na,
                   CAST(SUM(1 - a) AS BIGINT) AS nb,
                   CAST(COUNT(DISTINCT bkt) AS BIGINT) AS nbkt
            FROM s),
    b AS (
        SELECT bkt, CAST(SUM(a) AS BIGINT) AS ca,
               CAST(SUM(1 - a) AS BIGINT) AS cb
        FROM s GROUP BY bkt
    ),
    terms AS (
        SELECT b.bkt, b.ca, b.cb,
               (CAST(b.ca + 1 AS DOUBLE) / (t.na + t.nbkt)
                - CAST(b.cb + 1 AS DOUBLE) / (t.nb + t.nbkt))
               * LN((CAST(b.ca + 1 AS DOUBLE) / (t.na + t.nbkt))
                    / (CAST(b.cb + 1 AS DOUBLE) / (t.nb + t.nbkt)))
                   AS term
        FROM b CROSS JOIN tot t
    )
    SELECT bkt, ca, cb,
           ROUND(term, 9) AS psi_term,
           ROUND(CAST(SUM(CAST(FLOOR(term * 1e12) AS BIGINT))
                      OVER () AS DOUBLE) / 1e12, 6) AS psi_total
    FROM terms ORDER BY bkt
    """,
)
def psi_population_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX between even- and odd-epoch-day event
    populations, bucketed on floor(log2(cents+1)): PSI = Σ (p_a −
    p_b)·ln(p_a/p_b) with add-one smoothing per bucket — the model-
    monitoring drift score credit/risk stacks threshold at 0.1/0.25,
    complementing `kl_divergence_drift` (one-directional) and
    `distribution_drift` with the symmetric industry-standard form.

    Determinism: log2 buckets via the exact `length(bin(n))-1` idiom
    (floating log2 gives 2.999… at powers of two); day
    parity via epoch-day % 2 (the dayofweek dialect rule); per-bucket
    terms are identical IEEE trees from exact int counts; the TOTAL
    floor-quantizes each term to 1e-12 units BEFORE the cross-bucket
    sum (cross-group double sums are order-sensitive).

    Scale (100 TB): one map-side collapse to ≤ ~20 (bucket, arm)
    registers; the totals row broadcasts back over ≤ 20 rows."""
    ev = load(spark, sf_dir, "events")
    s = ev.select(
        (
            F.length(
                F.bin(
                    F.expr(
                        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
                    )
                    + 1
                )
            )
            - 1
        ).alias("bkt"),
        F.when(
            F.pmod(
                F.datediff(
                    F.to_date("ts"), F.lit("1970-01-01").cast("date")
                ),
                F.lit(2),
            )
            == 0,
            1,
        )
        .otherwise(0)
        .alias("a"),
    )
    b = s.groupBy("bkt").agg(
        F.sum("a").cast("bigint").alias("ca"),
        F.sum(F.lit(1) - F.col("a")).cast("bigint").alias("cb"),
    )
    tot = b.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.count(F.lit(1)).cast("bigint").alias("nbkt"),
    )
    t = b.join(F.broadcast(tot))
    pa = (F.col("ca") + 1).cast("double") / (F.col("na") + F.col("nbkt"))
    pb = (F.col("cb") + 1).cast("double") / (F.col("nb") + F.col("nbkt"))
    term = (pa - pb) * F.log(pa / pb)
    terms = t.select("bkt", "ca", "cb", term.alias("term"))
    w = Window.partitionBy()
    return terms.select(
        "bkt",
        "ca",
        "cb",
        F.round(F.col("term"), 9).alias("psi_term"),
        F.round(
            F.sum(
                F.floor(F.col("term") * F.lit(1e12)).cast("bigint")
            ).over(w).cast("double")
            / F.lit(1e12),
            6,
        ).alias("psi_total"),
    ).orderBy("bkt")


# -------------------------------------------------------- ndcg_at_k_eval

@register(
    "ndcg_at_k_eval",
    oracle="""
    WITH ranked AS (
        SELECT user_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY CAST(value AS DECIMAL(18,2)) DESC, event_id)
                   AS pos
        FROM events
    ),
    dcg AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN pos <= 10 THEN
                   CAST(FLOOR(1e12 * rel / LOG2(pos + 1)) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS dcg_q,
               CAST(SUM(rel) AS BIGINT) AS n_rel
        FROM ranked GROUP BY user_id
    ),
    scored AS (
        SELECT user_id, dcg_q, n_rel,
               CAST(list_sum(list_transform(
                   generate_series(1, CAST(LEAST(n_rel, 10) AS INT)),
                   i -> CAST(FLOOR(1e12 / LOG2(i + 1)) AS BIGINT)))
                   AS BIGINT) AS idcg_q
        FROM dcg WHERE n_rel > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users_scored,
           ROUND(SUM(CAST(FLOOR(1e9 * dcg_q / idcg_q) AS BIGINT))
                 / (1e9 * COUNT(*)), 6) AS ndcg_at_10,
           CAST(SUM(CASE WHEN dcg_q = idcg_q THEN 1 ELSE 0 END)
                AS BIGINT) AS n_perfect
    FROM scored
    """,
)
def ndcg_at_k_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 RANKING EVALUATION: treating each user's value-ordered
    event list as a retrieval ranking and 'purchase' as the relevant
    class, score DCG@10 / ideal-DCG — THE ranking metric
    recommendation and search evals report first, here as the
    engine's eval harness (swap the relevance CASE and the ordering
    column for a real model's scores; the metric tail is unchanged).
    Per-user lists order by (value DESC, event_id) — a total order.

    Determinism: every DCG term is floor-quantized to 1e-12 units
    BEFORE any sum (per-user sums are then exact integers — the
    cross-row double-sum rule); IDCG is the same quantized series
    summed over min(n_rel, 10) literal positions; the per-user ratio
    is quantized to 1e-9 before the cross-user mean, so the corpus
    aggregate is ONE exact integer sum + one render division.

    Scale (100 TB): ranking windows partition by user (parallel);
    everything after is map-side integer aggregation to a single
    row."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.expr("CAST(value AS DECIMAL(18,2))").desc(), F.col("event_id")
    )
    ranked = ev.select(
        "user_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "rel"
        ),
        F.row_number().over(w).alias("pos"),
    )
    dcg = ranked.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("pos") <= 10,
                F.floor(
                    F.lit(1e12) * F.col("rel") / F.log2(F.col("pos") + 1)
                ).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        )
        .cast("bigint")
        .alias("dcg_q"),
        F.sum("rel").cast("bigint").alias("n_rel"),
    )
    scored = dcg.where(F.col("n_rel") > 0).withColumn(
        "idcg_q",
        F.expr(
            "CAST(aggregate(sequence(1, CAST(LEAST(n_rel, 10) AS INT)),"
            " CAST(0 AS BIGINT),"
            " (acc, i) -> acc + CAST(FLOOR(1e12 / LOG2(i + 1)) AS BIGINT))"
            " AS BIGINT)"
        ),
    )
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users_scored"),
        F.round(
            F.sum(
                F.floor(
                    F.lit(1e9) * F.col("dcg_q") / F.col("idcg_q")
                ).cast("bigint")
            )
            / (F.lit(1e9) * F.count(F.lit(1))),
            6,
        ).alias("ndcg_at_10"),
        F.sum(
            F.when(F.col("dcg_q") == F.col("idcg_q"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_perfect"),
    )


# --------------------------------------------------- ranking_map_mrr_eval

@register(
    "ranking_map_mrr_eval",
    oracle="""
    WITH ranked AS (
        SELECT user_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY CAST(value AS DECIMAL(18,2)) DESC, event_id)
                   AS pos
        FROM events
    ),
    hits AS (
        SELECT user_id, pos,
               SUM(rel) OVER (PARTITION BY user_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS h,
               rel
        FROM ranked
    ),
    peruser AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN rel = 1 AND pos <= 10 THEN
                   CAST(FLOOR(1e12 * h / pos) AS BIGINT) ELSE 0 END)
                   AS BIGINT) AS ap_num_q,
               CAST(SUM(rel) AS BIGINT) AS n_rel,
               CAST(MIN(CASE WHEN rel = 1 THEN pos END) AS BIGINT)
                   AS first_hit
        FROM hits GROUP BY user_id
    ),
    scored AS (
        SELECT user_id,
               ap_num_q / LEAST(n_rel, 10) AS ap,
               1000000000000 // first_hit AS rr_q
        FROM peruser WHERE n_rel > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users_scored,
           ROUND(SUM(CAST(FLOOR(ap / 1e3) AS BIGINT)) / (1e9 * COUNT(*)),
                 6) AS map_at_10,
           ROUND(SUM(rr_q) / (1e12 * COUNT(*)), 6) AS mrr
    FROM scored
    """,
)
def ranking_map_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 + MRR on the same per-user ranking harness as
    `ndcg_at_k_eval` (value-ordered events, 'purchase' relevant):
    average precision rewards putting ALL relevant items early, MRR
    only the first — together with NDCG they are the ranking-eval
    triple every retrieval system reports.

    Determinism: precision-at-hit terms floor-quantize to 1e-12
    units before the per-user sum (exact ints); AP divides by
    min(n_rel, 10) then re-quantizes to 1e-9 for the cross-user mean;
    reciprocal ranks use EXACT integer division 1e12 DIV pos (no
    float at all).  Corpus aggregates are exact integer sums + one
    render division each.

    Scale (100 TB): one user-partitioned ranking window + a running
    hit count over it; map-side integer aggregation to one row."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.expr("CAST(value AS DECIMAL(18,2))").desc(), F.col("event_id")
    )
    ranked = ev.select(
        "user_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "rel"
        ),
        F.row_number().over(w).alias("pos"),
    )
    wh = (
        Window.partitionBy("user_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hits = ranked.withColumn("h", F.sum("rel").over(wh))
    peruser = hits.groupBy("user_id").agg(
        F.sum(
            F.when(
                (F.col("rel") == 1) & (F.col("pos") <= 10),
                F.floor(
                    F.lit(1e12) * F.col("h") / F.col("pos")
                ).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        )
        .cast("bigint")
        .alias("ap_num_q"),
        F.sum("rel").cast("bigint").alias("n_rel"),
        F.min(F.when(F.col("rel") == 1, F.col("pos")))
        .cast("bigint")
        .alias("first_hit"),
    )
    scored = peruser.where(F.col("n_rel") > 0).select(
        (F.col("ap_num_q") / F.least(F.col("n_rel"), F.lit(10))).alias(
            "ap"
        ),
        F.expr("1000000000000 DIV first_hit").alias("rr_q"),
    )
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users_scored"),
        F.round(
            F.sum(F.floor(F.col("ap") / F.lit(1e3)).cast("bigint"))
            / (F.lit(1e9) * F.count(F.lit(1))),
            6,
        ).alias("map_at_10"),
        F.round(
            F.sum("rr_q") / (F.lit(1e12) * F.count(F.lit(1))), 6
        ).alias("mrr"),
    )
