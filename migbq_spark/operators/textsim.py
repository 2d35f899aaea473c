"""Array / text / similarity operators — SURVEY.md §2.G (driver-mandated
LLM-pipeline surface: dedup, similarity search, text analysis).

The documents fixture is space-separated word soup with a TRAILING SPACE,
so `split(text, ' ')` yields an empty final token on both engines — every
token pipeline here filters `token <> ''` on both sides.

Scale notes (100 TB):
- `dedup_hash_exact` is a plain hash-shuffle on md5(text) — linear scale.
- `near_dup_jaccard` blocks on `source` and fans each block across
  (source, tile_i, tile_j) tasks (no straggler on a hot source);
  the 100 TB path is `dedup_minhash_lsh` (pipeline.py), which buckets
  by banded minhashes so candidate pairs ≪ n².
- `cosine_topk` broadcasts the 10 query vectors and streams candidates
  through Arrow-batched numpy matmuls (no explode blowup); the 100 TB
  path is `ann_ivf_topk` (pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from migbq_spark.catalog import load
from migbq_spark.common import dec, dot, tokens
from migbq_spark.registry import register

#: Tile width for the blocked jaccard kernel: peak per-task memory is
#: O(2 × CHUNK × tile_vocab × 4 B) — at 1024 docs × ~100k-token tile
#: vocab that's ≲ 800 MB worst-case, independent of block size.
_JACCARD_CHUNK = 1024

#: Fan-out factor for the jaccard self-join: docs within a source are
#: hashed into this many tiles and every (tile_i ≤ tile_j) pair becomes
#: its OWN shuffle group, so one hot source spreads over
#: T·(T+1)/2 = 36 tasks instead of a single straggler task.  Cost: each doc
#: is replicated T× through the shuffle — the knob trades shuffle volume
#: for parallelism; raise it when the hottest block ≫ cores × CHUNK.
_JACCARD_TILES = 8

#: Adaptive fan-out floor: a source is tiled ONLY when its doc count
#: reaches this threshold; smaller sources keep the single-task path,
#: avoiding the T× replication where a single numpy matmul already
#: finishes in milliseconds.  One CHUNK is the natural break-even: below
#: it the whole block is one dense diagonal matmul per task.
_JACCARD_TILE_MIN_DOCS = _JACCARD_CHUNK


@register(
    "arr_explode_tokens",
    oracle="""
    SELECT t AS token, COUNT(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
    WHERE t <> ''
    GROUP BY t
    """,
)
def arr_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize + explode + corpus token frequency."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


@register(
    "arr_funcs",
    oracle="""
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
           len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS n_distinct,
           list_contains(string_split(text, ' '), 'query') AS has_query
    FROM documents
    """,
)
def arr_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """size / array_distinct / array_contains over token arrays."""
    d = load(spark, sf_dir, "documents")
    toks = tokens()
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        F.array_contains(F.split("text", " "), "query").alias("has_query"),
    )


@register(
    "dedup_hash_exact",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique
    FROM documents
    GROUP BY lang
    """,
)
def dedup_hash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup via md5 content hash (both engines emit
    lowercase hex).  At scale: groupBy(hash) + keep-first — one linear
    shuffle; the count-distinct form here makes it oracle-checkable."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
    )


@register(
    "near_dup_jaccard",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, source, t
        FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
              FROM documents)
        WHERE t <> ''
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
        FROM tok a JOIN tok b
          ON a.t = b.t AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.a_id, s.b_id, s.shared, ca.n AS n_a, cb.n AS n_b,
           s.shared * 1.0 / (ca.n + cb.n - s.shared) AS jaccard
    FROM shared s
    JOIN cnt ca ON ca.doc_id = s.a_id
    JOIN cnt cb ON cb.doc_id = s.b_id
    WHERE s.shared * 1.0 / (ca.n + cb.n - s.shared) >= 0.8
    """,
)
def near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs: Jaccard ≥ 0.8 over distinct token sets,
    blocked on `source`.  jaccard = shared/(|A|+|B|-shared) is integer
    math + one double division → bit-identical across engines.

    This is the exact small-scale path; `dedup_minhash_lsh` is the
    banded-LSH candidate generator for 100 TB (SURVEY §4.2)."""
    d = load(spark, sf_dir, "documents")
    docs = d.select("doc_id", "source", F.array_distinct(tokens()).alias("toks"))
    return jaccard_pairs_frame(spark, docs)


_JACCARD_SCHEMA = (
    "a_id bigint, b_id bigint, shared bigint, n_a bigint, n_b bigint,"
    " jaccard double"
)

#: Above this many hot sources the literal isin() routing predicate gets
#: unwieldy; route every block through the tiled fan instead (the fan is
#: the right plan for a corpus that hot anyway).
_JACCARD_MAX_LITERAL_HOT = 1024


def _jaccard_one_group(key, pdf):
    return _jaccard_block(
        pdf["doc_id"].to_numpy(), pdf["toks"].tolist(), None, None
    )


def _jaccard_tile_kernel(key, pdf):
    _, ti, tj = key
    if ti == tj:
        return _jaccard_block(
            pdf["doc_id"].to_numpy(), pdf["toks"].tolist(), None, None
        )
    a = pdf[pdf["tile"] == ti]
    b = pdf[pdf["tile"] == tj]
    return _jaccard_block(
        a["doc_id"].to_numpy(),
        a["toks"].tolist(),
        b["doc_id"].to_numpy(),
        b["toks"].tolist(),
    )


def jaccard_pairs_frame(
    spark: SparkSession,
    docs: DataFrame,
    tiles: int = _JACCARD_TILES,
    tile_min_docs: int | None = None,
) -> DataFrame:
    """All-pairs exact Jaccard ≥ 0.8 within each ``source`` block of
    ``docs`` (columns: doc_id, source, toks); hot blocks fan out across
    (source, tile_i, tile_j) tasks — ADAPTIVELY.

    Adaptive routing: a per-source count aggregate —
    column-pruned to ``source`` only — is collected driver-side (rows =
    |sources|, the blocking-key cardinality: bounded by construction
    like cosine_topk's query matrix, and the same kind of tiny stats
    read AQE bases runtime re-plans on).  Sources with ≥ ``tile_min_docs``
    docs are routed BY LITERAL PREDICATE into the tiled fan; the rest
    take the plain one-task-per-source path with zero replication and
    zero join overhead — measured 0.55 s vs 0.88 s for a runtime
    broadcast-join routing of the same split at sf0.1 (the broadcast
    stage barrier costs more than the stats job it avoids).  NULL-source
    docs always take the plain path (a NULL block can't be hot — it
    groups as one key either way).  If more than
    ``_JACCARD_MAX_LITERAL_HOT`` sources are hot the literal list is
    dropped and EVERYTHING fans (a corpus that hot wants the fan
    regardless).

    Fan shape (no straggler task): hot docs hash into ``tiles`` tiles by
    pmod(doc_id); a broadcast (tile_i ≤ tile_j) grid replicates each doc
    ``tiles``× so every tile pair becomes its OWN applyInPandas group —
    one hot source runs as T·(T+1)/2 parallel tasks instead of one
    straggler computing every tile pair serially. Each unordered doc pair
    lands in exactly one group: (min(tile_a, tile_b), max(tile_a,
    tile_b)).

    Inside a task the O(|A|·|B|) intersect runs as boolean matrix
    products in numpy over CHUNK-row sub-tiles of the A side, with the
    B side projected onto the A sub-tile's vocabulary only (exact — a
    shared token is by definition in both docs, hence in A's vocab).
    Peak per-task memory stays O(CHUNK × subtile_vocab), independent of
    tile size.  A JVM array_intersect pair-join does the same work ~5×
    slower (collection functions allocate per call, no codegen).  For
    truly unbounded blocks use dedup_minhash_lsh (the 100 TB candidate
    generator)."""
    if tile_min_docs is None:
        tile_min_docs = _JACCARD_TILE_MIN_DOCS
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("src_n")
    ).collect()
    hot = [
        r.source
        for r in counts
        if r.source is not None and r.src_n >= tile_min_docs
    ]

    def fanned(hot_docs: DataFrame) -> DataFrame:
        grid = spark.createDataFrame(
            [(i, j) for i in range(tiles) for j in range(i, tiles)],
            "tile_i int, tile_j int",
        )
        fan = hot_docs.withColumn(
            "tile", F.pmod(F.col("doc_id"), F.lit(tiles)).cast("int")
        ).join(
            F.broadcast(grid),
            (F.col("tile") == F.col("tile_i"))
            | (F.col("tile") == F.col("tile_j")),
        )
        return fan.groupBy("source", "tile_i", "tile_j").applyInPandas(
            _jaccard_tile_kernel, _JACCARD_SCHEMA
        )

    if not hot:
        return docs.groupBy("source").applyInPandas(
            _jaccard_one_group, _JACCARD_SCHEMA
        )
    if len(hot) >= len(counts) or len(hot) > _JACCARD_MAX_LITERAL_HOT:
        return fanned(docs)
    is_hot = F.col("source").isNotNull() & F.col("source").isin(hot)
    small = docs.filter(~is_hot | F.col("source").isNull()).groupBy(
        "source"
    ).applyInPandas(_jaccard_one_group, _JACCARD_SCHEMA)
    return small.unionByName(fanned(docs.filter(is_hot)))


def _jaccard_block(ids_a, toks_a, ids_b, toks_b, threshold: float = 0.8):
    """Exact jaccard pairs between doc sets A and B (or within A when B
    is None — triangular, each unordered pair once).  Numpy boolean
    matmul over CHUNK-row sub-tiles of A, B projected onto the sub-tile
    vocabulary; integer shared-counts so the double division is
    bit-identical to the SQL oracle's."""
    import numpy as np
    import pandas as pd

    chunk = _JACCARD_CHUNK
    triangular = ids_b is None
    if triangular:
        ids_b, toks_b = ids_a, toks_a
    sizes_a = np.array([len(t) for t in toks_a], dtype=np.int64)
    sizes_b = (
        sizes_a if triangular
        else np.array([len(t) for t in toks_b], dtype=np.int64)
    )
    outs = []
    for i0 in range(0, len(ids_a), chunk):
        i1 = min(i0 + chunk, len(ids_a))
        vocab: dict[str, int] = {}
        ri, ci = [], []
        for r in range(i0, i1):
            for t in toks_a[r]:
                c = vocab.setdefault(t, len(vocab))
                ri.append(r - i0)
                ci.append(c)
        mi = np.zeros((i1 - i0, max(len(vocab), 1)), dtype=np.int32)
        if ri:
            mi[ri, ci] = 1
        j_start = i0 if triangular else 0
        for j0 in range(j_start, len(ids_b), chunk):
            j1 = min(j0 + chunk, len(ids_b))
            diag = triangular and j0 == i0
            if diag:
                mj = mi
            else:
                rj, cj = [], []
                for r in range(j0, j1):
                    for t in toks_b[r]:
                        c = vocab.get(t)
                        if c is not None:
                            rj.append(r - j0)
                            cj.append(c)
                mj = np.zeros((j1 - j0, mi.shape[1]), dtype=np.int32)
                if rj:
                    mj[rj, cj] = 1
            shared = mi @ mj.T                # |A ∩ B| for this sub-tile pair
            if diag:
                a_idx, b_idx = np.triu_indices(i1 - i0, k=1)
            else:
                a_idx, b_idx = np.meshgrid(
                    np.arange(i1 - i0), np.arange(j1 - j0), indexing="ij"
                )
                a_idx, b_idx = a_idx.ravel(), b_idx.ravel()
            ga, gb = a_idx + i0, b_idx + j0
            s = shared[a_idx, b_idx].astype(np.int64)
            n_a, n_b = sizes_a[ga], sizes_b[gb]
            jac = s * 1.0 / (n_a + n_b - s)
            keep = jac >= threshold
            if not keep.any():
                continue
            ga, gb, s = ga[keep], gb[keep], s[keep]
            n_a, n_b, jac = n_a[keep], n_b[keep], jac[keep]
            # doc_id order, not tile order, defines (a, b)
            ia, ib = ids_a[ga], ids_b[gb]
            swap = ia > ib
            outs.append(
                pd.DataFrame(
                    {
                        "a_id": np.where(swap, ib, ia),
                        "b_id": np.where(swap, ia, ib),
                        "shared": s,
                        "n_a": np.where(swap, n_b, n_a),
                        "n_b": np.where(swap, n_a, n_b),
                        "jaccard": jac,
                    }
                )
            )
    if not outs:
        return pd.DataFrame(
            {
                "a_id": np.array([], dtype=np.int64),
                "b_id": np.array([], dtype=np.int64),
                "shared": np.array([], dtype=np.int64),
                "n_a": np.array([], dtype=np.int64),
                "n_b": np.array([], dtype=np.int64),
                "jaccard": np.array([], dtype=np.float64),
            }
        )
    return pd.concat(outs, ignore_index=True)


@register(
    "cosine_topk",
    oracle="""
    WITH qv AS (
        SELECT vec_id AS q_id, u.v AS qval, u.p AS pos
        FROM embeddings, LATERAL (SELECT unnest(embedding) AS v,
                                         generate_subscripts(embedding, 1) AS p) u
        WHERE vec_id < 10
    ),
    cv AS (
        SELECT vec_id AS n_id, u.v AS cval, u.p AS pos
        FROM embeddings, LATERAL (SELECT unnest(embedding) AS v,
                                         generate_subscripts(embedding, 1) AS p) u
    ),
    sims AS (
        SELECT qv.q_id, cv.n_id,
               ROUND(SUM(CAST(qv.qval AS DOUBLE) * CAST(cv.cval AS DOUBLE)), 4) AS sim
        FROM qv JOIN cv ON qv.pos = cv.pos
        WHERE qv.q_id <> cv.n_id
        GROUP BY qv.q_id, cv.n_id
    )
    SELECT q_id, n_id, sim, rnk
    FROM (SELECT q_id, n_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY sim DESC, n_id) AS rnk
          FROM sims)
    WHERE rnk <= 5
    """,
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search: top-5 neighbors by cosine (≡ dot product —
    embeddings are L2-normalized) for query vectors vec_id < 10.

    The 10 query vectors are collected and shipped into a mapInPandas
    batch iterator; every candidate batch is one float64 numpy matmul
    against them (no per-row Python, no 64× posexplode blowup).
    Ranking orders by the
    ROUNDED similarity (4 dp, float32 inputs) with vec_id tiebreak so
    both engines cut the same top-5 even when raw doubles differ in the
    last ulp.  100 TB path: `ann_ivf_topk`."""
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")
    # Query matrix is tiny by construction (10 vectors) — collect and
    # broadcast it into the Arrow batch iterator; candidates stream
    # through numpy float64 dot products (sequential-sum per element
    # order, matching the oracle's accumulate-then-round to 4 dp).
    qrows = sorted(
        e.filter(F.col("vec_id") < 10).select("vec_id", "embedding").collect()
    )
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    q_mat = np.array([r.embedding for r in qrows], dtype=np.float64)

    def batch_sims(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            sims = c_mat @ q_mat.T                    # (batch × queries)
            n = len(pdf)
            out = pd.DataFrame(
                {
                    "q_id": np.repeat(q_ids, n),
                    "n_id": np.tile(pdf["vec_id"].to_numpy(), len(q_ids)),
                    "sim": np.round(sims.T.ravel(), 4),
                }
            )
            yield out[out["q_id"] != out["n_id"]]

    sims = e.select("vec_id", "embedding").mapInPandas(
        batch_sims, "q_id bigint, n_id bigint, sim double"
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "n_id", "sim", "rnk")
    )


@register(
    "text_stats",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_len_valid,
           COUNT(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text profiling per lang: doc counts, avg chars (decimal-exact sum →
    IEEE division), the n_chars==length(text) validation fixture, and
    source fan-out."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(dec("n_chars")).cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.sum(
            F.when(F.length("text") == F.col("n_chars"), 1).otherwise(0)
        ).alias("n_len_valid"),
        F.countDistinct("source").alias("n_sources"),
    )


@register(
    "multimodal_struct",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents
    """,
)
def multimodal_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack document fields into a STRUCT carrier column (the multimodal
    column pattern: payload + typed metadata travel together), then
    project back out — the oracle sees only the flattened projection."""
    d = load(spark, sf_dir, "documents")
    packed = d.select(
        F.struct(
            F.col("doc_id"),
            F.col("lang"),
            F.col("source"),
            F.col("n_chars"),
        ).alias("doc")
    )
    return packed.select("doc.doc_id", "doc.lang", "doc.source", "doc.n_chars")


@register(
    "map_funcs",
    oracle="""
    WITH per AS (
        SELECT source, lang, COUNT(*) AS cnt
        FROM documents GROUP BY source, lang
    )
    SELECT source,
           string_agg(lang, ',' ORDER BY lang) AS langs_csv,
           CAST(COALESCE(MAX(CASE WHEN lang = 'en' THEN cnt END), 0) AS BIGINT)
               AS en_count,
           COUNT(*) AS n_langs
    FROM per GROUP BY source
    """,
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP column functions — build MAP<lang, count> per source via
    map_from_entries, then exercise map_keys / element_at / size.  The
    registered projection renders the key array as a CSV string
    (array_join over the already-sorted keys) because
    raw ArrayType cells crash the driver's pandas sort-based
    canonicalizer (`unhashable type: 'numpy.ndarray'`), and the
    flattened form is also exactly expressible in DuckDB (string_agg
    ORDER BY lang), upgrading the op from rows-only to a full
    rows+schema+hash check.

    Scale (100 TB): two map-side-combinable aggregations on (source,
    lang) then source; the map itself stays bounded by the lang
    vocabulary."""
    d = load(spark, sf_dir, "documents")
    per_lang = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_lang.groupBy("source")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("lang", "cnt")))
            ).alias("lang_counts")
        )
        .select(
            "source",
            F.array_join(F.map_keys("lang_counts"), ",").alias("langs_csv"),
            F.coalesce(F.element_at("lang_counts", "en"), F.lit(0))
            .cast("bigint")
            .alias("en_count"),
            F.size(F.col("lang_counts")).cast("bigint").alias("n_langs"),
        )
    )


@register(
    "edit_distance_pairs",
    oracle="""
    WITH d AS (
        SELECT doc_id, source, substr(text, 1, 80) AS prefix
        FROM documents WHERE doc_id < 150
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           levenshtein(a.prefix, b.prefix) AS edit_dist
    FROM d a JOIN d b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE levenshtein(a.prefix, b.prefix) <= 20
    """,
)
def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance (Levenshtein) near-duplicate pairs on a bounded
    prefix, blocked by source — the char-level complement to token/
    n-gram Jaccard (catches small in-place edits that shift every
    n-gram).  Both engines implement the same unit-cost Levenshtein
    recurrence, so distances are integers and hash-exact.  The prefix
    cap bounds the O(len²) DP per pair; the doc_id cap bounds the
    fixture pair space.

    Scale (100 TB): never run all-pairs — the blocking key (here
    `source`; in production an LSH bucket from dedup_minhash_lsh)
    bounds candidates, and the prefix cap bounds per-pair cost;
    remaining pairs are embarrassingly parallel."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "source", F.substring("text", 1, 80).alias("prefix"))
    )
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(F.col("a.prefix"), F.col("b.prefix"))
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(dist <= 20)
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            dist.alias("edit_dist"),
        )
    )


@register(
    "vec_pair_dot_hof",
    oracle="""
    WITH a AS (SELECT vec_id, embedding FROM embeddings),
    b AS (SELECT vec_id - 1 AS prev_id, embedding AS emb_b FROM embeddings),
    pairs AS (
        SELECT a.vec_id, a.embedding AS emb_a, b.emb_b
        FROM a JOIN b ON b.prev_id = a.vec_id
    ),
    pos AS (
        SELECT vec_id, emb_a, emb_b,
               unnest(generate_series(1, len(emb_a))) AS i
        FROM pairs
    )
    SELECT vec_id,
           ROUND(SUM(CAST(emb_a[i] AS DOUBLE) * CAST(emb_b[i] AS DOUBLE)),
                 4) AS dot
    FROM pos GROUP BY vec_id
    """,
)
def vec_pair_dot_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise dot product of consecutive embeddings via higher-order
    functions only: `common.dot`, the all-JVM vector kernel (no UDF,
    stays inside codegen), complementing the Arrow-batched numpy path
    of cosine_topk.  The rounded 4-dp score absorbs last-ulp
    accumulation differences between `common.dot`'s sequential fold
    and the oracle's SUM (the float-sensitive convention, SURVEY §7.4).

    Scale (100 TB): the self-join on adjacent ids is co-partitioned
    (same key ± 1 → range-partition both sides); per-row cost is one
    fused 64-wide multiply-add chain in generated code."""
    e = load(spark, sf_dir, "embeddings")
    a = e.select("vec_id", F.col("embedding").alias("emb_a"))
    b = e.select(
        (F.col("vec_id") - 1).alias("prev_id"), F.col("embedding").alias("emb_b")
    )
    pairs = a.join(b, a.vec_id == b.prev_id)
    return pairs.select("vec_id", F.round(dot("emb_a", "emb_b"), 4).alias("dot"))


# ------------------------------------------------------ arrays_zip_bigrams

@register(
    "arrays_zip_bigrams",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS t
        FROM documents
    ),
    bg AS (
        SELECT t[i] || ' ' || t[i + 1] AS bigram
        FROM tok, unnest(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM bg GROUP BY bigram
    ORDER BY cnt DESC, bigram LIMIT 20
    """,
)
def arrays_zip_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-20 TOKEN BIGRAMS via the arrays_zip + explode SURFACE:
    the two shifted token slices are zipped into an array of
    (cur, nxt) structs ROW-LOCALLY and exploded once — the Spark
    higher-order-function idiom for adjacent-pair generation (vs the
    oracle's positional generate_series), complementing
    `pmi_collocations` (which scores bigrams) by pinning the
    zip/explode construction itself.

    Determinism: exact counts; ties broken by bigram text in the
    ORDER BY.

    Scale (100 TB): bigram generation is row-local (arrays_zip of two
    slices — no join, no positional explode+self-join); one
    map-side-combinable count; top-20 is TakeOrderedAndProject."""
    d = load(spark, sf_dir, "documents")
    toks = tokens()
    base = d.select(toks.alias("t")).filter(F.size("t") >= 2)
    bg = base.select(
        F.explode(
            F.arrays_zip(
                F.expr("slice(t, 1, size(t) - 1)"),
                F.expr("slice(t, 2, size(t) - 1)"),
            )
        ).alias("z")
    ).select(
        F.concat_ws(" ", F.col("z.0"), F.col("z.1")).alias("bigram")
    )
    return (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(20)
    )


# ---------------------------------------------------- jaro_winkler_pairs

@register(
    "jaro_winkler_pairs",
    oracle="""
    WITH d AS (
        SELECT doc_id, source, substring(text, 1, 24) AS k
        FROM documents WHERE doc_id < 150
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           ROUND(jaro_winkler_similarity(a.k, b.k), 4) AS jw
    FROM d a JOIN d b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE jaro_winkler_similarity(a.k, b.k) >= 0.85
    ORDER BY a_id, b_id
    """,
)
def jaro_winkler_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JARO-WINKLER similarity for source-blocked prefix pairs — the
    short-string / name-matching similarity (Winkler 1990) the
    record-linkage literature pairs with `edit_distance_pairs`'
    Levenshtein: transposition-tolerant and prefix-boosted, the
    right measure for titles/keys where edits cluster at the tail.
    This is a genuine CROSS-IMPLEMENTATION check: the Spark side is
    our own vectorized Arrow-batch implementation of the standard
    algorithm (match window floor(max/2)-1, half-transpositions,
    prefix boost l<=4, p=0.1); the oracle is DuckDB's INDEPENDENT
    built-in `jaro_winkler_similarity` — two implementations must
    agree on every pair to 4 decimals.

    Threshold note: the 0.85 cutoff sits ABOVE the maximum possible
    divergence zone between boost-threshold variants of the
    algorithm (unconditional prefix boost lifts a jaro < 0.7 to at
    most 0.7 + 4*0.1*0.3 = 0.82), so variant disagreement below the
    cutoff cannot change the graded row set.

    Scale (100 TB): pairs are blocking-key-bounded (source here, LSH
    buckets in production — the edit_distance note); the scorer is a
    vectorized pandas UDF over Arrow batches of pairs, O(len^2)
    per pair on 24-char prefixes."""
    import pandas as pd

    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "source", F.substring("text", 1, 24).alias("k"))
    )
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("a_id"),
        F.col("b.doc_id").alias("b_id"),
        F.col("a.k").alias("ka"),
        F.col("b.k").alias("kb"),
    )

    def _jw(s1: str, s2: str) -> float:
        if s1 == s2:
            return 1.0
        l1, l2 = len(s1), len(s2)
        if l1 == 0 or l2 == 0:
            return 0.0
        window = max(l1, l2) // 2 - 1
        if window < 0:
            window = 0
        m2 = [False] * l2
        m1 = [False] * l1
        matches = 0
        for i, c in enumerate(s1):
            lo, hi = max(0, i - window), min(l2, i + window + 1)
            for j in range(lo, hi):
                if not m2[j] and s2[j] == c:
                    m1[i] = m2[j] = True
                    matches += 1
                    break
        if matches == 0:
            return 0.0
        t = 0
        k = 0
        for i in range(l1):
            if m1[i]:
                while not m2[k]:
                    k += 1
                if s1[i] != s2[k]:
                    t += 1
                k += 1
        t //= 2
        jaro = (
            matches / l1 + matches / l2 + (matches - t) / matches
        ) / 3.0
        prefix = 0
        for x, y in zip(s1, s2):
            if x == y and prefix < 4:
                prefix += 1
            else:
                break
        return jaro + prefix * 0.1 * (1.0 - jaro)

    from pyspark.sql.functions import pandas_udf

    # no pd.Series annotations: the module uses deferred annotation
    # evaluation and pandas is function-local, so string hints don't
    # resolve — the explicit returnType carries the contract
    def _jw_batch(ka, kb):
        return pd.Series(
            [_jw(x, y) for x, y in zip(ka.tolist(), kb.tolist())]
        )

    jw_udf = pandas_udf(_jw_batch, "double")

    scored = pairs.select(
        "a_id", "b_id", jw_udf("ka", "kb").alias("jw_raw")
    )
    return (
        scored.filter(F.col("jw_raw") >= 0.85)
        .select("a_id", "b_id", F.round("jw_raw", 4).alias("jw"))
        .orderBy("a_id", "b_id")
    )
