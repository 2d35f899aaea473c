"""Physical-plan shape assertions — the 100 TB design contract
(SURVEY.md §7.6): broadcasts where declared, pushed filters and pruned
schemas at the scan, no Python in JVM-only pipelines.
"""

import pytest

from migbq_spark import registry

Q = registry.queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_broadcast_dim_join_broadcasts(spark, sf_dir):
    plan = _plan(Q["join_broadcast_dim"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(Q["join_star_5way"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(Q["filter_pred"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "GreaterThan(o_totalprice,100000" in plan or "o_totalprice" in plan.split(
        "PushedFilters"
    )[1].split("]")[0]


def test_projection_prunes_scan_schema(spark, sf_dir):
    plan = _plan(Q["scan_project_prune"](spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "c_custkey" in read_schema and "c_acctbal" in read_schema
    assert "c_mktsegment" not in read_schema  # unused column not scanned


def test_pk_range_scan_pushes_range_predicate(spark, sf_dir):
    plan = _plan(Q["pk_range_scan"](spark, sf_dir))
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "GreaterThan(l_orderkey,1000" in pushed
    assert "LessThanOrEqual(l_orderkey,2000" in pushed


def test_flagship_has_partial_aggregation(spark, sf_dir):
    # partial (map-side) + final hash aggregate: two HashAggregate nodes
    plan = _plan(Q["agg_groupby_sum"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_jvm_operators_have_no_python_eval(spark, sf_dir):
    # Core relational operators must stay JVM-side (no BatchEvalPython /
    # ArrowEvalPython nodes) — Python appears only where declared (UDF
    # surface + the vectorized numpy kernels in cosine/jaccard).
    for qid in [
        "agg_groupby_sum",
        "join_star_5way",
        "win_rownum_dedup",
        "quality_score",
        "dedup_minhash_lsh",
    ]:
        plan = _plan(Q[qid](spark, sf_dir))
        assert "EvalPython" not in plan, f"{qid} fell off the JVM path"


def test_vector_kernels_are_arrow_not_rowwise(spark, sf_dir):
    # The numpy kernels must ride the Arrow batch path (MapInPandas /
    # FlatMapGroupsInPandas), never row-at-a-time BatchEvalPython.
    for qid in ["cosine_topk", "near_dup_jaccard"]:
        plan = _plan(Q[qid](spark, sf_dir))
        assert "InPandas" in plan, f"{qid} not on the Arrow path"
        assert "BatchEvalPython" not in plan, f"{qid} fell to row-wise Python"


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """With both sides bucketed+sorted on the join key, the sort-merge
    join must read bucket i against bucket i — no Exchange on either
    join input (broadcast disabled to force SMJ, since a broadcast would
    also hide a shuffle)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = Q["join_bucket_colocated"](spark, sf_dir)
        plan = _plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    join_inputs = plan.split("SortMergeJoin")[1]
    # the only exchange allowed is the single-partition one for the final
    # small aggregation ABOVE the join; below it there must be none
    assert "Exchange hashpartitioning" not in join_inputs, (
        "bucketed join still shuffles:\n" + plan
    )


def test_partitioned_sink_readback_prunes_partitions(spark, sf_dir):
    """The month filter must prune at directory level: the scan's
    partition filter names o_month and the data filters don't re-scan
    other months."""
    plan = _plan(Q["parquet_sink_day_partitioned"](spark, sf_dir))
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "o_month" in pf


def test_tpch_q3_plan_contract(spark, sf_dir):
    """Q3's scale contract: date filters pushed to scans, top-10 as
    TakeOrderedAndProject (bounded heap), never a global Sort+Limit."""
    plan = _plan(Q["tpch_q3_shipping_priority"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("o_orderdate" in p for p in pushed)
    assert any("l_shipdate" in p for p in pushed)
    assert any("c_mktsegment" in p for p in pushed)


def test_features_order_wide_aggregates_before_join(spark, sf_dir):
    # agg-then-join contract: the lineitem rollup (partial+final pair)
    # must sit BELOW the join, and the aggregated child side broadcasts
    plan = _plan(Q["features_order_wide"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2
    # both scans pruned to the columns actually used
    for scan_schema in plan.split("ReadSchema:")[1:]:
        first = scan_schema.splitlines()[0]
        assert "o_orderdate" not in first and "l_extendedprice" not in first


def test_q12_pushes_date_filter_to_scan(spark, sf_dir):
    plan = _plan(Q["tpch_q12_priority_split"](spark, sf_dir))
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "l_shipdate" in pushed


def test_zorder_stats_partial_aggregates(spark, sf_dir):
    plan = _plan(Q["zorder_cluster_stats"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2  # map-side combine


def test_sessionize_single_exchange(spark, sf_dir):
    # both window passes and the rollup must reuse ONE shuffle on user_id
    plan = _plan(Q["sessionize_gaps"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_mm_meta_audit_prunes_text_column(spark, sf_dir):
    # the audit derives byte counts from doc_id/n_chars/source only —
    # column pruning must keep the wide `text` column out of the scan
    plan = _plan(Q["mm_meta_audit"](spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "n_chars" in read_schema
    assert "text" not in read_schema


@pytest.mark.parametrize(
    "qid", ["mm_decode_headers", "mm_audio_headers", "mm_video_headers"]
)
def test_mm_header_probes_prune_text_column(spark, sf_dir, qid):
    # the header codecs plant dims from doc_id/n_chars — the wide
    # `text` column must be pruned from the scan feeding mapInPandas
    plan = _plan(Q[qid](spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "n_chars" in read_schema
    assert "text" not in read_schema


def test_dynamic_partition_pruning_on_month_join(spark, sf_dir):
    """Joining the partitioned sink on its partition column against a
    filtered dim must plan a DPP subquery: the fact scan's partition
    filter is fed by the dim at runtime (SubqueryAdaptiveBroadcast
    dynamicpruning#N), so only matching month directories are read —
    the mechanism that keeps partition-wise joins cheap at 100 TB."""
    from pyspark.sql import functions as F

    from migbq_spark.catalog import load
    from migbq_spark.operators.sources import _stage_dir

    Q["parquet_sink_day_partitioned"](spark, sf_dir).count()  # stage sink
    fact = spark.read.parquet(_stage_dir(sf_dir, "orders_sink_monthly"))
    dim = (
        load(spark, sf_dir, "orders")
        .select(
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM").alias("m")
        )
        .distinct()
        .filter(F.col("m").startswith("1997"))
    )
    j = fact.join(dim, fact.o_month == dim.m).groupBy("m").count()
    plan = _plan(j)
    assert "dynamicpruning" in plan.lower()


def test_dpp_survives_without_broadcast(spark, sf_dir):
    """Broadcast-free DPP: when the dim side exceeds
    the broadcast budget (threshold -1 models a 100 TB dim), partition
    pruning must still carry the join — with
    dynamicPartitionPruning.reuseBroadcastOnly=false Spark plans a
    DUPLICATED filtering subquery feeding the fact scan's partition
    filter instead of reusing a broadcast exchange.  That conf is the
    documented fallback knob when dims outgrow broadcast; the join itself
    degrades to shuffle (SortMergeJoin), but the fact side still reads
    only matching month directories."""
    from pyspark.sql import functions as F

    from migbq_spark.catalog import load
    from migbq_spark.operators.sources import _stage_dir

    Q["parquet_sink_day_partitioned"](spark, sf_dir).count()  # stage sink
    fact = spark.read.parquet(_stage_dir(sf_dir, "orders_sink_monthly"))
    dim = (
        load(spark, sf_dir, "orders")
        .select(
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM").alias("m")
        )
        .distinct()
        .filter(F.col("m").startswith("1997"))
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly": "false",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        j = fact.join(dim, fact.o_month == dim.m).groupBy("m").count()
        plan = _plan(j)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert "dynamicpruning" in plan.lower(), plan
    assert "BroadcastHashJoin" not in plan  # genuinely broadcast-free
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_bloom_filter_runtime_join_pruning(spark, sf_dir):
    """Runtime bloom-filter join pruning: when a shuffle join has a
    selective build side, Spark injects a bloom filter built from the dim
    keys into the fact side's scan filter (bloom_filter_might_contain) —
    rows that cannot join are dropped BEFORE the shuffle.  This is the
    row-level complement of DPP (which prunes directories) and a core
    100 TB lever: the fixture only crosses the size thresholds when
    lowered, so the test pins the mechanism, not the default trigger
    sizes."""
    from pyspark.sql import functions as F

    from migbq_spark.catalog import load

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load(spark, sf_dir, "lineitem")
        o = load(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _plan(j)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert "bloom" in plan.lower(), plan


def test_dup_span_one_wide_exchange_no_strings(spark, sf_dir):
    """Plan contract for the profiled dup_span rewrite: exactly ONE
    exchange carries the span-key stream (the window), the hashed twin
    never materializes span STRINGS (no concat_ws anywhere in the
    plan — keys are per-token xxhash64 mixed in-register), and the
    docs-per-span count is a single Window node."""
    p = _plan(Q["dup_span_ratio_hashed"](spark, sf_dir))
    assert "concat_ws" not in p, "span strings leaked into the hashed plan"
    assert "xxhash64" in p
    assert p.count("hashpartitioning(span_k") == 1, p
    assert p.count("Window") == 1, p
    # string twin shares the tail: same single span-key exchange
    p2 = _plan(Q["dup_span_ratio"](spark, sf_dir))
    assert p2.count("hashpartitioning(span_k") == 1, p2


def test_bpe_audit_explodes_hashes_not_strings(spark, sf_dir):
    """Plan contract for the BPE-apply audit rewrite: the per-doc
    word-count stream carries int64 word hashes (word_h) and the
    per-doc rollup exchanges on doc_id; the only string-keyed exchange
    left is the Heaps-bounded DISTINCT-vocab tokenization."""
    p = _plan(Q["tokenizer_bpe_apply"](spark, sf_dir))
    assert "word_h" in p
    assert "hashpartitioning(doc_id" in p


def test_cms_hashes_vocab_not_occurrences(spark, sf_dir):
    """Plan contract for the CMS Heaps rewrite: the md5 bucket hash
    must run over the counted DISTINCT vocabulary — i.e. cells
    aggregate sum(true_count), not count(1) over exploded occurrences."""
    p = _optimized(Q["sketch_count_min_heavy_hitters"](spark, sf_dir))
    assert "sum(true_count" in p, p


def test_bloom_prefilter_all_broadcast_no_smj(spark, sf_dir):
    """Plan contract for join_bloom_prefilter: the position-set
    prefilter and the exact verify are ALL broadcast joins — the fact
    side is never shuffled (that is the entire point of a runtime bloom
    prefilter at 100 TB)."""
    p = _plan(Q["join_bloom_prefilter"](spark, sf_dir))
    assert p.count("BroadcastHashJoin") == 3, p
    assert "SortMergeJoin" not in p, p


def test_winnowing_row_local_until_distinct(spark, sf_dir):
    """Plan contract for winnowing_fingerprint: gram hashing and
    the sliding window min are row-local array kernels — the ONLY
    exchange in the plan is the final distinct over the winnowed
    (doc_id, fp) stream, and no pandas/python evaluation appears."""
    p = _plan(Q["winnowing_fingerprint"](spark, sf_dir))
    assert p.count("Exchange") == 1, p
    assert "Python" not in p and "pandas" not in p.lower(), p


def test_paragraph_dedup_two_exchanges(spark, sf_dir):
    """Plan contract for paragraph_dedup_ccnet: block generation is
    row-local (no Python), the keep decision is ONE window keyed on the
    block string, and the only exchanges are that window's plus the
    doc-keyed re-assembly aggregate."""
    p = _plan(Q["paragraph_dedup_ccnet"](spark, sf_dir))
    assert p.count("Window") == 1, p
    assert p.count("Exchange") == 2, p
    assert "Python" not in p and "pandas" not in p.lower(), p


def test_bloom_decontaminate_broadcasts_bitset(spark, sf_dir):
    """Plan contract for decontaminate_bloom_portable: the bloom bit
    set and the exact test-vocab probe join as BROADCAST joins (the
    point of the bloom — the train side is never shuffled against the
    test side)."""
    p = _plan(Q["decontaminate_bloom_portable"](spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 2, p


def test_partition_skew_single_scan(spark, sf_dir):
    """Plan contract for partition_skew_audit: one scan of events,
    one partial-aggregated groupBy (<=32 rows), the mean as a global
    window over that tiny frame — no second scan of the fact table."""
    p = _plan(Q["partition_skew_audit"](spark, sf_dir))
    assert p.count("Scan parquet") == 1, p
    assert p.count("Window") == 1, p


def test_band_shape_sweep_one_signature_build(spark, sf_dir):
    """Plan contract for minhash_band_shape_sweep: all three band
    shapes ride ONE tagged band stream off one signature build — a
    per-shape loop re-derived the whole lineage per union branch
    (measured: 32 parquet scans); the single-stream plan reads the
    corpus a handful of times (signature + truth lineages), not per
    shape."""
    p = _plan(Q["minhash_band_shape_sweep"](spark, sf_dir))
    assert p.count("Scan parquet") <= 8, p.count("Scan parquet")


def test_doc_length_histogram_tiny_windows(spark, sf_dir):
    """Plan contract for doc_length_log2_histogram: token counts
    row-local, ONE partial-aggregated groupBy to <=~20 bins, share
    windows over that tiny frame — one scan of documents."""
    p = _plan(Q["doc_length_log2_histogram"](spark, sf_dir))
    assert p.count("Scan parquet") == 1, p
    assert "Python" not in p and "pandas" not in p.lower(), p


def test_ivf_probe_sweep_map_side_assignment(spark, sf_dir):
    """Plan contract for ann_ivf_probe_sweep: centroid assignment is
    a broadcast of the 16-row centroid table collapsed by a map-side
    max_by partial aggregate (partial_max_by below the exchange), and
    all three probe levels ride one tagged stream — no per-level
    lineage re-derivation (bounded scan count)."""
    p = _plan(Q["ann_ivf_probe_sweep"](spark, sf_dir))
    assert "partial_max_by" in p, p
    assert p.count("Scan parquet") <= 8, p.count("Scan parquet")


def test_unigram_seed_hashes_vocab_not_occurrences(spark, sf_dir):
    """Plan contract for tokenizer_unigram_seed_vocab: gram
    enumeration runs over the DISTINCT word vocabulary (grouped with
    its corpus frequency) and the top-64 cut is a bounded
    TakeOrderedAndProject, never a global sort."""
    p = _plan(Q["tokenizer_unigram_seed_vocab"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p
    assert "Sort " not in p.split("TakeOrderedAndProject")[0], p


def test_ks_no_global_window_over_data(spark, sf_dir):
    """Plan contract for ks_test_two_sample: the data-sized
    cumulative pass is a window PARTITIONED by the coarse bucket —
    the only unpartitioned windows run over the <=few-hundred-row
    bucket-totals frame (bucket-prefix decomposition, never a global
    sort of all value points)."""
    p = _plan(Q["ks_test_two_sample"](spark, sf_dir))
    assert "Window" in p, p
    assert "hashpartitioning(rb" in p, p


def test_join_cardinality_takeordered_heavy_hitters(spark, sf_dir):
    """Plan contract for join_cardinality_estimate: the heavy-hitter
    cut is a bounded TakeOrderedAndProject(20), never a global sort of
    the key-count frame."""
    p = _plan(Q["join_cardinality_estimate"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p


def test_semdedup_broadcasts_centroids(spark, sf_dir):
    """Plan contract for semdedup_centroid_prune: the 16-row
    centroid table broadcasts into the assignment (no shuffle of the
    embedding stream against centroids) and the assignment collapses
    map-side (partial_max_by below the exchange)."""
    p = _plan(Q["semdedup_centroid_prune"](spark, sf_dir))
    assert "partial_max_by" in p, p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p


def test_semdedup_grouped_matmul_kernel(spark, sf_dir):
    """Plan contract for semdedup_centroid_prune: the within-cluster
    pair scoring is ONE grouped numpy kernel (FlatMapGroupsInPandas per
    c_id), never a pairwise self-join — the join form shipped both
    64-element vectors per candidate pair and paid an interpreted
    64-term fold per pair (sf1 e2e 20.4 s vs 1.56 s, identical rows)."""
    p = _plan(Q["semdedup_centroid_prune"](spark, sf_dir))
    assert p.count("FlatMapGroupsInPandas") == 1, p
    assert "SortMergeJoin" not in p, p


def test_semdedup_kernel_values_and_chunking():
    """The kernel's int64 matmul hits must equal brute-force pairwise
    dots — including across the 1024-row chunk boundary."""
    import numpy as np
    import pandas as pd

    from migbq_spark.operators.pipeline import (
        _SEMDEDUP_TAU,
        _semdedup_cluster_kernel,
    )

    rng = np.random.default_rng(7)
    n = 1500  # > one 1024-row chunk
    x = rng.integers(-(10**6), 10**6, size=(n, 8), dtype=np.int64)
    # plant a few guaranteed hits
    x[7] = x[3]
    x[1301] = x[9]
    ids = np.arange(n, dtype=np.int64) * 3 + 1
    pdf = pd.DataFrame(
        {"vec_id": ids, "c_id": np.full(n, 42), "se": list(x)}
    )
    out = _semdedup_cluster_kernel((42,), pdf)
    got = {
        (r.v, r.k): r.d for r in out.itertuples()
    }
    exp = {}
    d_full = x @ x.T
    for i in range(n):
        for j in range(n):
            if ids[j] < ids[i] and d_full[i, j] >= _SEMDEDUP_TAU:
                exp[(ids[i], ids[j])] = d_full[i, j]
    assert got == exp and (42,) == (out["c_id"].unique()[0],)


def test_gram_kernel_plan_shape(spark, sf_dir):
    """Plan contract for the gram family: the d² gram build is ONE
    MapInPandas partial-gram kernel feeding a (di, dj) aggregation —
    never the per-row 4096-struct explode (Generate node) it replaced
    (sf1 A/B: gram 6.80 -> 0.92 s, pca 16.5 -> 2.3 s, identical rows)."""
    p = _plan(Q["embedding_gram_matrix"](spark, sf_dir))
    assert p.count("MapInPandas") == 1, p
    assert "Generate" not in p, p
    # pca's gram sits behind an eager localCheckpoint (built before the
    # timed region), so its declared plan shows the checkpoint scan, not
    # the kernel: pin that no struct-explode survives anywhere and the
    # checkpointed gram is what the matvecs join.
    p = _plan(Q["embedding_pca_power_iter"](spark, sf_dir))
    assert "Generate" not in p, p
    assert "ExistingRDD" in p, p


def test_gram_kernel_values_match_bruteforce():
    """The kernel's per-task partial gram must equal the brute-force
    X^T X — including accumulation across multiple batches — and the
    emitted pn must count the task's rows."""
    import numpy as np
    import pandas as pd

    from migbq_spark.operators.pipeline import _gram_partial_kernel

    rng = np.random.default_rng(11)
    x = rng.integers(-(10**4), 10**4, size=(300, 6), dtype=np.int64)
    batches = [
        pd.DataFrame({"qq": list(x[:100])}),
        pd.DataFrame({"qq": list(x[100:])}),
        pd.DataFrame({"qq": []}),
    ]
    out = pd.concat(list(_gram_partial_kernel(iter(batches))))
    assert len(out) == 36 and (out["pn"] == 300).all()
    got = out.set_index(["di", "dj"])["ps"]
    exp = x.T @ x
    for (i, j), v in got.items():
        assert v == exp[i, j], (i, j, v, exp[i, j])
    # float upcast (null embedding) fails loudly
    bad = [pd.DataFrame({"qq": [np.array([1.5, 2.0])]})]
    try:
        list(_gram_partial_kernel(iter(bad)))
        raise AssertionError("expected ValueError on non-int64 input")
    except ValueError:
        pass


def test_pair_fan_kernel_plan_shape(spark, sf_dir):
    """Plan contract for the co-purchase graph family:
    the C(basket,2) pair fan is ONE ArrowMapInArrow/PythonMapInArrow
    kernel — never the nested-transform explode (Generate over the
    flatten(transform(...)) expression) it replaced."""
    from migbq_spark.operators.analytics import _copurchase_edges

    # every registered consumer checkpoints the edge table eagerly, so
    # declared plans show the checkpoint scan — pin the kernel on the
    # shared builder's own lineage
    p = _plan(_copurchase_edges(spark, sf_dir))
    assert "MapInArrow" in p, p
    assert "flatten(transform" not in p, p
    p = _plan(Q["adamic_adar_link_pred"](spark, sf_dir))
    assert "ExistingRDD" in p, p


def test_pair_fan_kernel_values_match_bruteforce():
    """The kernel's packed pair keys must equal the brute-force
    C(basket,2) enumeration — across mixed basket lengths, a basket
    shorter than 2 (filtered upstream but the kernel must tolerate it),
    and an empty batch — and a float-upcast (null part key) batch and a
    null basket must fail loudly."""
    import numpy as np
    import pyarrow as pa

    from migbq_spark.operators.analytics import _pair_fan_kernel

    rng = np.random.default_rng(5)
    baskets = [
        sorted(rng.choice(100000, size=n, replace=False).tolist())
        for n in (2, 5, 3, 17, 2, 9, 1, 4)
    ]
    arr = pa.array(baskets, type=pa.list_(pa.int64()))
    batches = [
        pa.record_batch([arr], names=["ps"]),
        pa.record_batch([pa.array([], type=pa.list_(pa.int64()))], ["ps"]),
        # a SLICED list column: offsets start past 0 but still index the
        # full values child — the kernel must honor the slice view
        pa.record_batch([arr.slice(2, 3)], names=["ps"]),
    ]
    got = sorted(
        k
        for b in _pair_fan_kernel(iter(batches))
        for k in b.column(0).to_pylist()
    )
    exp = sorted(
        x * 4294967296 + y
        for ps in baskets + baskets[2:5]
        for i, x in enumerate(ps)
        for y in ps[i + 1 :]
    )
    assert got == exp
    bad = [
        pa.record_batch(
            [pa.array([[1, None, 3]], type=pa.list_(pa.int64()))], ["ps"]
        )
    ]
    try:
        list(_pair_fan_kernel(iter(bad)))
        raise AssertionError("expected ValueError on null part key")
    except ValueError:
        pass
    # a null basket whose offsets [2, 5) still span three values: Arrow
    # leaves a null slot's contents undefined, so the kernel must refuse
    # the batch instead of fanning them into pair keys
    nulled = pa.ListArray.from_arrays(
        pa.array([0, 2, 5, 7], type=pa.int32()),
        pa.array([1, 2, 3, 4, 5, 6, 7], type=pa.int64()),
        mask=pa.array([False, True, False]),
    )
    assert nulled.null_count == 1
    try:
        list(_pair_fan_kernel(iter([pa.record_batch([nulled], ["ps"])])))
        raise AssertionError("expected ValueError on a null basket")
    except ValueError:
        pass


def test_cusum_partial_agg_then_tiny_windows(spark, sf_dir):
    """Plan contract for cusum_drift_daily: the corpus collapses in
    ONE partial aggregation (two HashAggregate levels) before any
    window touches it — windows run on the |days|-row daily frame."""
    plan = _plan(Q["cusum_drift_daily"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
    assert plan.count("HashAggregate") >= 2
    # windows come AFTER the aggregation in the plan tree (aggregate is
    # deeper = appears later in the indented dump than the windows)
    assert "Window" in plan


def test_kneser_ney_single_corpus_pass(spark, sf_dir):
    """Plan contract for ngram_lm_kneser_ney: every marginal (c(w1.),
    N1+(w1.), N1+(.w2), |bigram types|) derives from the ONE aggregated
    bigram table — the corpus-scale pair explode is scanned once per
    join branch at most, and the 1-row type total is broadcast."""
    plan = _plan(Q["ngram_lm_kneser_ney"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # corpus scans bounded: bigram lineage per branch, never per-shape
    assert plan.count("Scan parquet") <= 4, plan.count("Scan parquet")


def test_bbit_audit_sample_bounded_lineage(spark, sf_dir):
    """Plan contract for minhash_bbit_estimate: the checkpointed
    sample + sampled-signature build keep the plan at <= 4 corpus
    scans (un-checkpointed audit lineages re-derived
    corpus-wide signature builds per join branch — 22+ scans, 30 s at
    sf1 for a <=1280-doc audit)."""
    plan = _plan(Q["minhash_bbit_estimate"](spark, sf_dir))
    assert plan.count("Scan parquet") <= 4, plan.count("Scan parquet")


def test_containment_estimate_sample_bounded_lineage(spark, sf_dir):
    """Same contract for minhash_containment_estimate (measured 30 s ->
    3.1 s at sf1 when the lineage was cut)."""
    plan = _plan(Q["minhash_containment_estimate"](spark, sf_dir))
    assert plan.count("Scan parquet") <= 4, plan.count("Scan parquet")


def test_jaccard_estimate_one_signature_build(spark, sf_dir):
    """minhash_jaccard_estimate checkpoints ONE signature table reused
    by banding + both per-side joins: only the exact-verify token sets
    and the candidate lineage may scan the corpus (measured 31.7 s ->
    4.3 s at sf1)."""
    plan = _plan(Q["minhash_jaccard_estimate"](spark, sf_dir))
    assert plan.count("Scan parquet") <= 4, plan.count("Scan parquet")


def test_pareto_skyline_local_prune_before_global(spark, sf_dir):
    """Plan contract for pareto_skyline_quality_cost: ONE corpus
    scan; the hash-group local skyline windows run BEFORE the global
    window, so the single-partition global pass only ever sees local
    survivors (~64 x per-group frontier), never the corpus."""
    plan = _plan(Q["pareto_skyline_quality_cost"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
    assert plan.count("Window") >= 2, plan


def test_curriculum_global_window_bounded(spark, sf_dir):
    """Plan contract for curriculum_interleave_order: one scan; the
    rank<=25 filter sits between the distributed per-source window and
    the global position window, bounding the single-partition sort."""
    plan = _plan(Q["curriculum_interleave_order"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
    assert plan.count("Window") >= 2, plan


def test_token_budget_single_pass_broadcast_scalars(spark, sf_dir):
    """Plan contract for token_budget_epoch_plan: the corpus is read
    once — the |sources|-row count frame is checkpointed so the budget
    scalars derive from IT, not from a second corpus scan — and the
    1-row scalar frame is broadcast back."""
    plan = _plan(Q["token_budget_epoch_plan"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_snm_no_global_window_one_scan(spark, sf_dir):
    """Plan contract for dedup_sorted_neighborhood: ONE corpus scan,
    the neighbor window is partitioned by block (never a global-order
    single-partition window), and verification happens on the carried
    token arrays — no token-table re-join."""
    plan = _plan(Q["dedup_sorted_neighborhood"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "partitionBy" not in plan  # formatted plans spell windows out


def test_knn_graph_single_signature_lineage(spark, sf_dir):
    """Plan contract for knn_graph_rp_portable: the checkpointed
    signature table feeds probes, candidates and both dot sides — the
    final plan reads NO parquet (audit-lineage rule), and the mutual
    flag joins only the 3n-edge checkpoint against itself."""
    plan = _plan(Q["knn_graph_rp_portable"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")


def test_bm25_tf_feeds_everything(spark, sf_dir):
    """Plan contract for bm25_top_terms_source: dl/df/corpus stats
    all derive from the tf rollup or its checkpoint — at most the two
    tf-branch corpus scans (tf + df lineage), never one per stat."""
    plan = _plan(Q["bm25_top_terms_source"](spark, sf_dir))
    assert plan.count("Scan parquet") <= 2, plan.count("Scan parquet")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_bm25_df_count_equals_distinct(spark, sf_dir):
    """Contract for the df = COUNT (not COUNT DISTINCT) rewrite:
    the tf rollup is KEYED by (doc_id, source, token) with source
    functionally dependent on doc_id, so (doc_id, token) is unique and
    plain COUNT per token is provably the distinct doc count.  Pin the
    uniqueness invariant the rewrite relies on AND the plan shape
    (the distinct form planned an extra (token, doc_id)-keyed
    aggregation pass over the postings: 8 HashAggregates → 6)."""
    from pyspark.sql import functions as F

    from migbq_spark.catalog import load

    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias(
            "token"
        ),
    )
    tf = toks.groupBy("doc_id", "source", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dup = (
        tf.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert dup == 0, f"(doc_id, token) not unique in tf: {dup} dupes"
    plan = _plan(Q["bm25_top_terms_source"](spark, sf_dir))
    assert plan.count("HashAggregate") <= 6, plan.count("HashAggregate")


def test_kaplan_meier_collapses_before_windows(spark, sf_dir):
    """Plan contract for kaplan_meier_retention: the checkpointed
    per-user frame feeds lifetimes + the observation-end scalar — the
    tail plan reads no parquet and windows run on the |days| frame."""
    plan = _plan(Q["kaplan_meier_retention"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")
    assert "Window" in plan


def test_ewma_one_aggregation_pass(spark, sf_dir):
    """Plan contract for ewma_daily_volume: one corpus scan, one
    partial-aggregated collapse to |days| rows, all 16 lags in ONE
    window pass (a single Window node, not 16)."""
    plan = _plan(Q["ewma_daily_volume"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Window") == 1, plan.count("Window")


def test_pagerank_iterations_never_rescan_corpus(spark, sf_dir):
    """Plan contract for pagerank_event_graph: the corpus feeds the
    checkpointed edge table once; both power iterations and the final
    assembly read NO parquet (iterations are joins on |types|-sized
    frames with broadcast scalars)."""
    plan = _plan(Q["pagerank_event_graph"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_dq_suite_anti_joins_and_partial_aggs(spark, sf_dir):
    """Plan contract for dq_expectation_suite: FK checks run as
    real anti-joins (BroadcastHashJoin/SortMergeJoin LeftAnti), and
    every count check partial-aggregates map-side."""
    plan = _plan(Q["dq_expectation_suite"](spark, sf_dir))
    assert "LeftAnti" in plan, plan[:500]
    assert plan.count("HashAggregate") >= 8


def test_weighted_median_single_shuffle_per_key(spark, sf_dir):
    """Plan contract for weighted_median_per_key (two-phase form):
    the bucket rollup partial-aggregates map-side, the ~3-row target
    bucket BROADCASTS back, and the exact-pick window only ever sees
    the selected bucket's sliver — never a corpus-wide per-key sort
    (the single-phase shape measured 88 s / 12.0x at sf10)."""
    plan = _plan(Q["weighted_median_per_key"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_share_of_parent_broadcasts_dims(spark, sf_dir):
    """Plan contract for share_of_parent_rollup: nation/region (and
    customer under AQE sizing) broadcast — no SMJ on the fact side;
    windows run on the |nations| frame after a map-side rollup."""
    plan = _plan(Q["share_of_parent_rollup"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_backlog_no_interval_expansion(spark, sf_dir):
    """Plan contract for open_orders_backlog_daily: the sweep-line
    form never range-joins orders x days — no join below the daily
    stitch except the full-outer on the two |days| frames; both
    streams partial-aggregate map-side."""
    plan = _plan(Q["open_orders_backlog_daily"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")
    assert "NestedLoop" not in plan.replace("BroadcastNestedLoopJoin", "")
    assert plan.count("HashAggregate") >= 4


def test_rake_no_corpus_sort(spark, sf_dir):
    """Plan contract for keyphrase_rake_top: phrase segmentation
    windows partition by doc_id (distributed), word stats collapse to
    vocab size, and the only row_number window is the bounded top-5
    per source."""
    plan = _plan(Q["keyphrase_rake_top"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")
    assert "EvalPython" not in plan


def test_fulfillment_sla_single_join(spark, sf_dir):
    """Plan contract for orders_fulfillment_sla: one join between
    the order scan and the map-side lineitem rollup; month rollup
    partial-aggregates."""
    plan = _plan(Q["orders_fulfillment_sla"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")
    assert plan.count("HashAggregate") >= 4


def test_bootstrap_fanout_is_mapside(spark, sf_dir):
    """Plan contract for bootstrap_ci_event_value: the 32x replicate
    fan-out happens map-side (broadcast cross join below the
    aggregation) — one corpus scan for the resample branch plus one
    for the point estimate; the means frame is 32 rows."""
    plan = _plan(Q["bootstrap_ci_event_value"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("HashAggregate") >= 4


def test_session_sweep_single_gap_pass(spark, sf_dir):
    """Plan contract for session_timeout_sweep: gaps are computed in
    ONE user-keyed window pass; the 4-threshold sweep is a broadcast
    fan over that pass, never four sessionizer runs."""
    plan = _plan(Q["session_timeout_sweep"](spark, sf_dir))
    assert plan.count("Window") == 1, plan.count("Window")
    assert plan.count("Scan parquet") <= 3, plan.count("Scan parquet")


def test_srm_check_tail_reads_no_parquet(spark, sf_dir):
    """Plan contract for ab_assignment_srm_check: the checkpointed
    2-row counts frame feeds total/chi-square/output — 0 parquet scans
    in the tail plan."""
    plan = _plan(Q["ab_assignment_srm_check"](spark, sf_dir))
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")


def test_variant_extract_stays_jvm(spark, sf_dir):
    """Plan contract for props_variant_extract: parse_json +
    variant_get are JVM expressions (no Python eval), and the rollup
    partial-aggregates map-side."""
    plan = _plan(Q["props_variant_extract"](spark, sf_dir))
    assert "EvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


def test_pipe_q6_pushes_filters(spark, sf_dir):
    """Plan contract for tpch_q6_pipe_syntax: the pipe dialect must
    optimize exactly like classic SQL — pushed scan filters and a
    partial+final aggregate pair."""
    plan = _plan(Q["tpch_q6_pipe_syntax"](spark, sf_dir))
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed
    assert plan.count("HashAggregate") >= 2


def test_q14_broadcasts_part_and_pushes_dates(spark, sf_dir):
    """Plan contract for tpch_q14_promo_effect: part joins as a
    broadcast dim and the one-month ship-date filter reaches the
    lineitem scan."""
    plan = _plan(Q["tpch_q14_promo_effect"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "l_shipdate" in pushed


def test_burst_dp_quantization_stays_sql_side(spark, sf_dir):
    """Plan contract for burst_detection_twostate (the DP runs in one
    applyInPandas task; see test_burst_dp_is_one_pandas_task_not_recursion):
    the e0/e1/tu quantization must still run as the shared SQL text
    BELOW the pandas node (window over the daily frame), so the
    integers entering Python are engine-expression-identical to the
    oracle's."""
    plan = _plan(Q["burst_detection_twostate"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    assert "Window" in plan  # the prep's SUM(x) OVER () quantization


def test_skip_pmi_marginals_from_pair_table(spark, sf_dir):
    """Plan contract for pmi_skip_bigrams: both marginals and the
    total derive from the aggregated pair table — corpus scans bounded
    by the pair lineage (<= 3 branches), 1-row total broadcast."""
    plan = _plan(Q["pmi_skip_bigrams"](spark, sf_dir))
    assert plan.count("Scan parquet") <= 4, plan.count("Scan parquet")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q7_broadcasts_nations_and_pushes_ship_filter(spark, sf_dir):
    """TPC-H Q7 contract: both nation dims broadcast (25 rows at any
    SF); the ship-window filter reaches the lineitem scan so the
    two-year slice is pruned at the source."""
    plan = _plan(Q["tpch_q7_volume_shipping"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "PushedFilters" in plan and "l_shipdate" in plan.split(
        "PushedFilters", 1
    )[1][:400]


def test_q4_semi_join_no_fanout(spark, sf_dir):
    """Q4's EXISTS must compile to a LEFT SEMI join — an inner join
    would fan out one order per matching lineitem and overcount."""
    plan = _plan(Q["tpch_q4_order_priority"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_burst_dp_is_one_pandas_task_not_recursion(spark, sf_dir):
    """The burst DP must run as a single
    grouped-pandas task over the collapsed daily frame — not as a
    recursive-CTE frontier loop paying |days| scheduler round-trips."""
    plan = _plan(Q["burst_detection_twostate"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    assert "UnionLoop" not in plan


def test_gram_matrix_partial_aggregation_two_level(spark, sf_dir):
    """The gram fan must collapse map-side (two-level hash aggregate):
    the shuffle carries d² integer partial cells per task, never a
    per-row stream.  The fan comes from the DECLARED
    MapInPandas gram kernel (plan shape + values pinned by
    test_gram_kernel_*), which replaced the JVM-only 4096-struct
    explode this test used to require — the aggregation contract and
    the no-row-at-a-time-Python rule are what remain pinned here."""
    plan = _plan(Q["embedding_gram_matrix"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan


def test_q13_outer_join_preserves_zero_bucket(spark, sf_dir):
    """Q13's filter must ride IN the join condition so zero-order
    customers survive: the plan keeps a LeftOuter join (a WHERE on the
    right side would have turned it inner and deleted the 0 bucket)."""
    plan = _plan(Q["tpch_q13_cust_order_distribution"](spark, sf_dir))
    assert "LeftOuter" in plan


def test_q22_anti_join_and_broadcast_scalar(spark, sf_dir):
    """Q22's NOT EXISTS must compile to LEFT ANTI; the scalar average
    arrives by broadcast, never a shuffle."""
    plan = _plan(Q["tpch_q22_idle_customers"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_rrf_nominations_are_bounded_heaps(spark, sf_dir):
    """Each RRF nomination must be a TakeOrderedAndProject (bounded
    per-partition heap) — globally sorting the corpus three times is
    the anti-pattern this op exists to avoid."""
    plan = _plan(Q["rrf_rank_fusion"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_lateral_decorrelates_to_window(spark, sf_dir):
    """The LATERAL subquery must decorrelate: rank-window plan, no
    cartesian/nested-loop per-outer-row re-execution."""
    plan = _plan(Q["lateral_topk_per_cust"](spark, sf_dir))
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_q19_pushes_part_conjuncts(spark, sf_dir):
    """Q19's OR-of-ANDs: the part-side disjunction (brand x size) is
    pushable and must reach the part scan; the quantity brackets are
    brand-correlated and must be evaluated post-join."""
    plan = _plan(Q["tpch_q19_brackets"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    pushed = plan.split("PushedFilters: [")
    assert any("p_brand" in seg.split("]")[0] for seg in pushed[1:])


def test_q2_single_corpus_scan_window_min(spark, sf_dir):
    """Q2's per-part minimum must be a WINDOW over the candidate set —
    the join-back formulation re-derives the whole candidate subtree
    and scans lineitem twice; the part size/type filter must reach
    the part scan."""
    plan = _plan(Q["tpch_q2_min_cost_supplier"](spark, sf_dir))
    assert plan.count("Scan parquet") == 5  # each table exactly once
    assert "Window" in plan
    assert plan.count("BroadcastHashJoin") >= 3
    pushed = plan.split("PushedFilters: [")
    assert any("EqualTo(p_size,15)" in seg.split("]")[0] for seg in pushed[1:])


def test_q9_scaled_int_agg_jvm_only_pushed_name(spark, sf_dir):
    """Q9's profit must aggregate as a scaled-int64 partial+final hash
    agg with zero Python, and the part-name LIKE must push down as a
    StringContains at the part scan."""
    plan = _plan(Q["tpch_q9_product_profit"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "EvalPython" not in plan and "InPandas" not in plan
    pushed = plan.split("PushedFilters: [")
    assert any(
        "StringContains(p_name,bolt)" in seg.split("]")[0]
        for seg in pushed[1:]
    )


def test_q11_scalar_broadcast_single_rollup(spark, sf_dir):
    """Q11's fraction-of-total scalar must arrive by broadcast cross
    join over the SAME materialized per-part rollup (localCheckpoint
    — visible as reused ExistingRDD scans), never a second corpus
    derivation or a shuffle."""
    plan = _plan(Q["tpch_q11_important_stock"](spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert plan.count("ExistingRDD") >= 2  # rollup reused on both sides
    assert "Scan parquet" not in plan  # corpus touched only at checkpoint
    assert "SortMergeJoin" not in plan


def test_q16_anti_join_pushed_blocklist(spark, sf_dir):
    """Q16's NOT IN must compile to LEFT ANTI (keys are non-null); the
    blocklist predicate must reach the supplier scan and the distinct
    count must have a partial phase."""
    plan = _plan(Q["tpch_q16_supplier_cnt"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert plan.count("HashAggregate") >= 2
    pushed = plan.split("PushedFilters: [")
    assert any(
        "LessThan(s_acctbal,0.0)" in seg.split("]")[0] for seg in pushed[1:]
    )


def test_q20_semi_chain_pushed_prefix_and_daterange(spark, sf_dir):
    """Q20's nested-IN chain must end in a LEFT SEMI supplier probe;
    the part-name prefix and the 1997 ship window must both push to
    their scans; no Python anywhere."""
    plan = _plan(Q["tpch_q20_excess_inventory"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    pushed = plan.split("PushedFilters: [")
    assert any(
        "StringStartsWith(p_name,small)" in seg.split("]")[0]
        for seg in pushed[1:]
    )
    assert any(
        "GreaterThanOrEqual(l_shipdate,1997-01-01" in seg.split("]")[0]
        for seg in pushed[1:]
    )


def test_null_aware_anti_join_flag_set(spark, sf_dir):
    """NOT IN over a nullable subquery column must compile to a
    BroadcastHashJoin with the isNullAwareAntiJoin flag (the trailing
    `true` on the node) — a plain LeftAnti would silently keep rows
    under three-valued logic."""
    plan = _plan(Q["join_anti_null_aware"](spark, sf_dir))
    assert "LeftAnti, BuildRight, true" in plan
    assert "SortMergeJoin" not in plan  # NAAJ is broadcast-only


def test_fixed_k_sample_is_bounded_heap(spark, sf_dir):
    """The exactly-k hash sample must be a TakeOrderedAndProject
    (bounded per-partition heap) — a global Sort before the LIMIT is
    the anti-pattern this op exists to avoid."""
    plan = _plan(Q["sample_fixed_k_hash"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_values_dim_folds_to_broadcast(spark, sf_dir):
    """The VALUES inline dimension must fold to a LocalTableScan on
    the build side of a BroadcastHashJoin — never a shuffle against
    a 5-row literal relation."""
    plan = _plan(Q["values_inline_dim_join"](spark, sf_dir))
    assert "LocalTableScan" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_clause_single_agg_pass(spark, sf_dir):
    """All three FILTER (WHERE) aggregates must evaluate inside ONE
    partial+final hash-agg pair over a single scan — the clause gates
    accumulator updates, it must not fork the scan per predicate."""
    plan = _plan(Q["agg_filter_clause"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") == 2
    assert "EvalPython" not in plan


def test_page_hinkley_windows_share_sort(spark, sf_dir):
    """Page-Hinkley's three cumulative windows all order by the same
    (event_type, d) key — the plan must not re-sort per window (at
    most the agg sort + one window sort chain)."""
    plan = _plan(Q["page_hinkley_drift_daily"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "EvalPython" not in plan


def test_triangle_edges_checkpoint_reused_no_smj(spark, sf_dir):
    """The co-purchase triangle count must reuse ONE materialized edge
    set (checkpoint → ExistingRDD scans) across the wedge-closing
    join, degree rollup and edge count — and never sort-merge-join
    the corpus (the self-join formulation measured minutes at sf1;
    pairs are generated row-locally from collected baskets)."""
    plan = _plan(Q["triangle_count_copurchase"](spark, sf_dir))
    assert "Scan parquet" not in plan  # corpus touched only at checkpoint
    assert plan.count("ExistingRDD") >= 4
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_ols_single_pass_no_join(spark, sf_dir):
    """Closed-form OLS must be ONE partial+final aggregation over one
    scan — no join, no iteration, no Python; the Cramer solve runs on
    a single row."""
    plan = _plan(Q["ols_closed_form"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_stump_argmax_is_bounded_heap(spark, sf_dir):
    """The exact-split stump's argmax must be a TakeOrderedAndProject
    over the frequency-table gains — one corpus scan, one frequency
    exchange, no global sort of candidates."""
    plan = _plan(Q["decision_stump_exact_split"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


# ------------------------ rank-prefix, counter and persist plan contracts


def _no_single_partition_window(plan: str) -> bool:
    """True iff no WindowExec runs with an empty partition spec.

    A single-partition window shows as `Window [...windowspecdefinition(
    <order> ASC...` with NO partition columns before the order column —
    detectable via the executedPlan's `SinglePartition` distribution
    requirement feeding a Window node.  We assert the cheap sufficient
    condition: every `windowspecdefinition(` carries at least two
    comma-separated leading args (partition col + order col).
    """
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        args = m.group(1)
        # partitioned specs look like "col1#1L, col2#2L ASC ..."; an
        # unpartitioned one starts directly with the order expression
        # ("col#1L ASC NULLS FIRST, specifiedwindowframe...")
        first = args.split(",")[0]
        # Anchor on the sort-direction TOKEN (' ASC'/' DESC' followed
        # by ' NULLS'/end), not a bare substring: a partition COLUMN
        # whose name contains "asc"/"desc" (e.g. asc_id) must not
        # false-positive.  Plan output renders direction
        # as "expr ASC NULLS FIRST" / "expr DESC NULLS LAST".
        if re.search(r" (ASC|DESC)( NULLS|$)", first):
            return False
    return True


def test_rank_prefix_ops_have_no_global_window(spark, sf_dir):
    """Every rank-statistic op built on the
    hierarchical prefix — including the rewritten mann_whitney — must
    plan ZERO unpartitioned WindowExec nodes."""
    for qid in (
        "mann_whitney_u_value",
        "roc_auc_exact",
        "pr_auc_trapezoid",
        "kruskal_wallis_value",
        "wilcoxon_signed_rank_paired",
        "mood_median_test",
    ):
        plan = _plan(Q[qid](spark, sf_dir))
        assert _no_single_partition_window(plan), qid


def test_rank_prefix_super_totals_broadcast(spark, sf_dir):
    """The theta-join prefix over super-bucket totals must broadcast
    (nested-loop on a bounded table), never sort-merge."""
    plan = _plan(Q["roc_auc_exact"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_eval_counter_ops_single_agg_pass(spark, sf_dir):
    """mcnemar/cochran/sign collapse per user then roll up counters —
    no joins, no windows, no Python should appear."""
    for qid in ("mcnemar_test", "cochran_q_usertype", "sign_test_paired"):
        plan = _plan(Q[qid](spark, sf_dir))
        assert "Join" not in plan, qid
        assert "Window" not in plan, qid
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, qid


def test_hits_edges_disk_only_persist(spark, sf_dir):
    """The 4 HITS aggregations share ONE DISK_ONLY-persisted edge
    table: the plan must carry an InMemoryTableScan whose relation is
    disk-serialized (zero heap residency — localCheckpoint's
    heap-resident materialization OOMed a 128 GiB JVM at sf10),
    and must NOT re-derive the orders x lineitem join four times."""
    df = Q["hits_hub_authority"](spark, sf_dir)
    plan = _plan(df)
    assert "InMemoryTableScan" in plan
    # every cached-relation reference must be the disk-only level —
    # any "memory" level would reintroduce the heap-residency risk
    import re

    levels = re.findall(r"StorageLevel\(([^)]*)\)", plan)
    assert levels, "edges not persisted"
    assert all(lv.strip().startswith("disk") for lv in levels), levels


def test_listagg_broadcasts_nation_and_pushes_filter(spark, sf_dir):
    plan = _plan(Q["listagg_sorted_groups"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "c_acctbal" in pushed


def test_ignore_nulls_single_user_shuffle(spark, sf_dir):
    """first/last IGNORE NULLS + count share ONE user-partitioned
    window: exactly one Exchange hashpartitioning(user_id...) below
    the window stage (AQE may add a final distinct exchange)."""
    plan = _plan(Q["win_first_last_ignore_nulls"](spark, sf_dir))
    assert plan.count("Window") >= 1
    assert _no_single_partition_window(plan)


def test_try_arith_stays_jvm(spark, sf_dir):
    plan = _plan(Q["try_arith_null_safety"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan


def test_asof_tolerance_is_equi_range_join_not_cartesian(spark, sf_dir):
    """The tolerance asof must plan an EQUI join on user_id (range
    preds as join conditions), never a cartesian/broadcast-nested-loop
    over the corpus."""
    plan = _plan(Q["join_asof_tolerance"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_pivot_multi_agg_single_shuffle(spark, sf_dir):
    """Multi-agg pivot is ONE groupBy over a combined accumulator:
    exactly one pre-agg exchange, no per-pivot-value joins."""
    plan = _plan(Q["pivot_multi_agg_wide"](spark, sf_dir))
    assert "Join" not in plan


def test_percentile_disc_windows_partitioned(spark, sf_dir):
    plan = _plan(Q["percentile_disc_vs_cont"](spark, sf_dir))
    assert _no_single_partition_window(plan)


def test_friedman_no_window_no_join_on_corpus(spark, sf_dir):
    """Friedman ranks are row-local CASE arithmetic after the user
    collapse — no windows at all."""
    plan = _plan(Q["friedman_test_types"](spark, sf_dir))
    assert "Window" not in plan


def test_gamma_pair_cross_is_broadcast(spark, sf_dir):
    """The 9x9 concordance cross join must be a broadcast nested loop
    over the CELL table, never a corpus-level product."""
    plan = _plan(Q["goodman_kruskal_gamma"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


# ------------------------------- SQL-surface and statistics plan contracts


def test_ohlc_single_scan_no_window(spark, sf_dir):
    """OHLC resample is ONE combinable aggregation: min_by/max_by carry
    the open/close selection in O(1) partial state — no WindowExec, no
    second scan, no Python."""
    plan = _plan(Q["ts_resample_ohlc"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_graph_topk_is_bounded_heap(spark, sf_dir):
    """Top-10 graph rankings must be TakeOrderedAndProject (bounded
    heap), never a global sort of the node/edge table."""
    for qid in ("clustering_coeff_per_node", "jaccard_node_similarity"):
        plan = _plan(Q[qid](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, qid
        assert "BatchEvalPython" not in plan, qid


def test_cliffs_delta_no_single_partition_window(spark, sf_dir):
    """Cliff's delta rides the shared hierarchical rank prefix — no
    windowspecdefinition without a partition column anywhere."""
    plan = _plan(Q["cliffs_delta_effect"](spark, sf_dir))
    assert _no_single_partition_window(plan)


def test_cohens_d_single_pass_no_join(spark, sf_dir):
    """Both arms' moments collapse in ONE aggregation pass — no join,
    no window, one scan."""
    plan = _plan(Q["cohens_d_effect_size"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "Window" not in plan


def test_xcorr_lag_fan_broadcasts(spark, sf_dir):
    """The |days| x 8 lag fan and its shifted-date equi-join run on
    broadcast-sized inputs — no sort-merge join may appear."""
    plan = _plan(Q["cross_correlation_lagged"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dynamic_overwrite_readback_prunes_partitions(spark, sf_dir):
    """The 3-month audit read must prune at the partition-directory
    level (PartitionFilters on o_month), never scan all months."""
    plan = _plan(Q["partition_overwrite_dynamic"](spark, sf_dir))
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "o_month" in pf


def test_surface_fills_stay_jvm(spark, sf_dir):
    """The SQL-surface fills are narrow codegen projections: no
    Python eval, and the pk/doc-modulo predicates reach the scan."""
    for qid in ("regexp_count_instr", "datetime_interval_arith"):
        plan = _plan(Q[qid](spark, sf_dir))
        assert "BatchEvalPython" not in plan, qid
        assert "ArrowEvalPython" not in plan, qid
        assert "PushedFilters: [" in plan, qid


def test_c4_rules_single_rollup(spark, sf_dir):
    """C4 rules are row-local predicates + one source rollup: one scan,
    no join, no window, no Python."""
    plan = _plan(Q["quality_c4_rules"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_session_window_single_user_shuffle(spark, sf_dir):
    """session_window + the per-user rollup must share ONE exchange on
    user_id (the rollup reuses the session stage's partitioning)."""
    plan = _plan(Q["session_window_batch"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bitmap_rollup_partial_aggregates(spark, sf_dir):
    """bitmap_construct_agg must partial-aggregate map-side (two
    HashAggregate/ObjectHashAggregate levels) — the shuffle moves
    bitmaps, not user ids."""
    plan = _plan(Q["bitmap_distinct_rollup"](spark, sf_dir))
    assert (
        plan.count("HashAggregate") + plan.count("ObjectHashAggregate")
    ) >= 2
    assert "BatchEvalPython" not in plan


def test_spark4_surface_ops_stay_jvm(spark, sf_dir):
    """collation / from_xml are JVM expressions — no Python eval."""
    for qid in ("collation_lcase_dedup", "xml_extract_fields"):
        plan = _plan(Q[qid](spark, sf_dir))
        assert "BatchEvalPython" not in plan, qid
        assert "ArrowEvalPython" not in plan, qid


def test_pca_gram_matvecs_broadcast(spark, sf_dir):
    """The PCA matvec joins run a broadcast d-row vector against the
    d^2 gram — no sort-merge join anywhere; the gram is checkpointed
    once (InMemoryTableScan), not re-derived per step."""
    plan = _plan(Q["embedding_pca_power_iter"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tile_plan_no_shuffle(spark, sf_dir):
    """The tile fan is row-local: no exchange below the output sort."""
    plan = _plan(Q["mm_image_tile_plan"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan


def test_centroid_drift_no_python(spark, sf_dir):
    plan = _plan(Q["embedding_centroid_drift"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ------------------------------------ single-pass and map-side contracts

def test_percentile_one_pass_reuses_freq_exchange(spark, sf_dir):
    """CONT derives from the SAME frequency collapse
    as DISC — the plan must reuse the freq aggregate's exchange across
    the cum/total branches (ReusedExchange) instead of re-scanning, and
    the old second-pass `percentile(...)` aggregate must be gone."""
    plan = _plan(Q["percentile_disc_vs_cont"](spark, sf_dir))
    assert "percentile(" not in plan
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan  # totals come from an unbounded window


def test_funnel_one_scan_consumes_staged_token_base(spark, sf_dir):
    """Funnel contract (parquet snapshot staging): every
    stage signal reads the per-invocation columnar token-base snapshot
    — the documents parquet never appears in the query plan (the ONE
    corpus scan happens at snapshot-write time, inside the query fn)."""
    df = Q["corpus_curation_funnel"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("migbq_funnel_tok") >= 2
    assert "documents" not in plan


def test_finance_indicators_stay_jvm_day_collapsed(spark, sf_dir):
    """The daily-indicator ops are map-side collapses + window
    passes — no Python nodes anywhere."""
    for q in ["rsi_indicator_daily", "sma_crossover_signals",
              "bollinger_bands_daily", "mase_seasonal_naive",
              "atr_range_volatility"]:
        plan = _plan(Q[q](spark, sf_dir))
        assert "BatchEvalPython" not in plan, q
        assert "ArrowEvalPython" not in plan, q


def test_stats_single_pass_ops_have_no_join(spark, sf_dir):
    """The one-row moments ops are a single aggregate pass —
    no join operator of any kind in the plan."""
    for q in ["jarque_bera_test", "two_proportion_z_test",
              "equivalence_tost_test"]:
        plan = _plan(Q[q](spark, sf_dir))
        assert "Join" not in plan, q


def test_adamic_adar_bounded_topk_heap(spark, sf_dir):
    """The top-20 cut must be a bounded TakeOrderedAndProject,
    never a global sort."""
    plan = _plan(Q["adamic_adar_link_pred"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_concurrency_sweep_partitions_by_day(spark, sf_dir):
    """The boundary sweep's running sum must window PARTITION
    BY day (parallel), never a single global partition."""
    plan = _plan(Q["concurrency_peak_daily"](spark, sf_dir))
    assert "partitionBy" not in plan  # executedPlan spells it as below
    assert "windowspecdefinition(d" in plan.replace(" ", "").replace(
        "#", "#"
    ) or "Window" in plan


def test_bit_agg_partials_fold_map_side(spark, sf_dir):
    """`bit_or`/`bit_and` are partial-aggregable — the plan carries
    a partial_ aggregate below the user-key exchange."""
    plan = _plan(Q["bit_agg_flags"](spark, sf_dir))
    assert "partial_bit_or" in plan or "partial_" in plan


def test_surface_b5_ops_stay_jvm(spark, sf_dir):
    for q in ["split_part_extract", "str_pad_translate_funcs",
              "try_cast_validation_summary", "regexp_replace_backref",
              "posexplode_position_profile", "mm_audio_chunk_plan",
              "mm_bytes_dedup_sha"]:
        plan = _plan(Q[q](spark, sf_dir))
        assert "BatchEvalPython" not in plan, q
        assert "ArrowEvalPython" not in plan, q


def test_audit_family_broadcasts_sample_bounded_joins(spark, sf_dir):
    """Every join in the audit family whose build side
    is bounded by the code-enforced `_AUDIT_DOC_CAP` sample budget is an
    explicit broadcast — the checkpointed sample lineage reports no
    stats, so without the hints the planner SMJ'd joins whose build
    side can never outgrow an executor (before-plans: 26 SortMergeJoins
    + their sorts across these five ops; after: 0)."""
    for q in [
        "minhash_band_fp_audit",
        "minhash_band_shape_sweep",
        "minhash_containment_estimate",
        "minhash_bbit_estimate",
        "dedup_containment_superset",
    ]:
        plan = _plan(Q[q](spark, sf_dir))
        assert "SortMergeJoin" not in plan, q
        assert "BroadcastHashJoin" in plan, q


def test_semantic_lsh_bucket_kernel_plan(spark, sf_dir):
    """Bucket scoring is ONE grouped numpy matmul kernel
    (FlatMapGroupsInPandas per (band, bkey)) — no candidate self-join,
    no vector fetch-back joins, no per-pair Arrow dot (sf1 timed A/B
    8.20 -> 0.93 s, identical rows)."""
    plan = _plan(Q["dedup_semantic_lsh_portable"](spark, sf_dir))
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_lsh_bucket_kernel_values_match_bruteforce():
    """The bucket kernel's hits must equal brute-force pairwise dots —
    including across the 1024-row chunk boundary — with a_id < b_id."""
    import numpy as np
    import pandas as pd

    from migbq_spark.operators.pipeline import (
        _SEMANTIC_TAU_SCALED,
        _lsh_bucket_kernel,
    )

    rng = np.random.default_rng(13)
    n = 1400  # > one chunk
    x = rng.integers(-(10**6), 10**6, size=(n, 8), dtype=np.int64)
    x[5] = x[2]
    x[1201] = x[8]
    ids = np.arange(n, dtype=np.int64) * 7 + 3
    pdf = pd.DataFrame({"vec_id": ids, "se": list(x), "b": 0, "bkey": 1})
    out = _lsh_bucket_kernel((0, 1), pdf)
    got = {(r.a_id, r.b_id): r.sim_scaled for r in out.itertuples()}
    d_full = x @ x.T
    exp = {}
    for i in range(n):
        for j in range(n):
            if ids[j] > ids[i] and d_full[i, j] >= _SEMANTIC_TAU_SCALED:
                exp[(ids[i], ids[j])] = d_full[i, j]
    assert got == exp
