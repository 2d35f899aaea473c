"""Quality pins for the approximate / engine-specific pipeline operators:
they have no DuckDB oracle (xxhash64 / float-tie sensitivity), so their
correctness is measured against the exact oracle-checked operators.
"""

import pytest

from migbq_spark import registry

Q = registry.queries()


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    exact = {
        (r.a_id, r.b_id)
        for r in Q["near_dup_jaccard"](spark, sf_dir).collect()
    }
    lsh = {(r.a_id, r.b_id) for r in Q["dedup_minhash_lsh"](spark, sf_dir).collect()}
    assert exact, "fixture should contain near-duplicate pairs"
    # LSH verifies candidates exactly at the same τ ⇒ no false positives
    # within the blocked (same-source) subset need hold — LSH is unblocked,
    # so it may legitimately find cross-source pairs; check containment the
    # other way on the blocked subset.
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} vs exact jaccard τ=0.8"
    # every LSH-reported pair really has jaccard ≥ 0.8 (verified stage)
    for r in Q["dedup_minhash_lsh"](spark, sf_dir).collect():
        assert r.jaccard >= 0.8


def test_portable_minhash_recall_vs_exact(spark, sf_dir):
    """dedup_minhash_portable (md5-family, oracle-checked) must keep the
    same recall bar as the xxhash64 twin against the exact blocked
    operator — the hash family changed, the LSH physics didn't."""
    exact = {
        (r.a_id, r.b_id)
        for r in Q["near_dup_jaccard"](spark, sf_dir).collect()
    }
    port = {
        (r.a_id, r.b_id)
        for r in Q["dedup_minhash_portable"](spark, sf_dir).collect()
    }
    assert exact, "fixture should contain near-duplicate pairs"
    recall = len(exact & port) / len(exact)
    assert recall >= 0.9, f"portable-LSH recall {recall:.2f} vs τ=0.8"


def test_simhash_pairs_are_near_dups(spark, sf_dir):
    sim = Q["dedup_simhash"](spark, sf_dir).collect()
    exact = {
        (r.a_id, r.b_id): r.jaccard
        for r in Q["near_dup_jaccard"](spark, sf_dir).collect()
    }
    # hamming ≤ 3 of 32 bits is a strong signal: the overwhelming majority
    # of reported pairs must be true near-duplicates at a loose τ
    if sim:
        hits = sum(1 for r in sim if (r.a_id, r.b_id) in exact)
        assert hits / len(sim) >= 0.5, f"simhash precision {hits}/{len(sim)}"


def test_ann_ivf_recall_vs_brute_force(spark, sf_dir):
    exact = {
        (r.q_id, r.n_id) for r in Q["cosine_topk"](spark, sf_dir).collect()
    }
    approx = {(r.q_id, r.n_id) for r in Q["ann_ivf_topk"](spark, sf_dir).collect()}
    assert len(approx) > 0
    recall = len(exact & approx) / len(exact)
    # trained (seeded KMeans) spherical centroids must beat the
    # n_probe/n_cells ≈ 0.19 recall an untrained partition would give on
    # these cluster-free random vectors (measured 0.52 with training,
    # ~0.1-0.2 with the old stride-picked centroids)
    print(f"IVF recall @5: {recall:.2f}")
    assert recall >= 0.3


def test_mm_decode_stub_values(spark, sf_dir):
    out = {r.doc_id: r for r in Q["mm_decode_stub"](spark, sf_dir).collect()}
    from migbq_spark.catalog import load

    docs = {r.doc_id: r for r in load(spark, sf_dir, "documents").collect()}
    assert set(out) == set(docs)
    for doc_id, r in out.items():
        assert r.width == doc_id % 640 + 1
        assert r.height == docs[doc_id].n_chars % 480 + 1
        assert r.aspect == pytest.approx(r.width / r.height)


def test_mm_decode_stub_rejects_unknown_format():
    from migbq_spark.operators.multimodal import _decode_payload

    with pytest.raises(NotImplementedError):
        _decode_payload(b"WAV|1|2")


def test_mm_real_header_decode_roundtrip():
    """`_decode_payload` must parse REAL PNG and
    JPEG headers — pinned against hand-checked byte layouts, not just
    our own packers."""
    import struct
    import zlib

    from migbq_spark.operators.multimodal import (
        _decode_payload,
        _jpeg_bytes,
        _png_bytes,
    )

    # roundtrip through our packers
    assert _decode_payload(_png_bytes(640, 480)) == (640, 480)
    assert _decode_payload(_jpeg_bytes(123, 45)) == (123, 45)

    # a hand-built PNG header, independent of _png_bytes
    ihdr = struct.pack(">IIBBBBB", 17, 99, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    assert _decode_payload(png) == (17, 99)

    # a JPEG whose SOF0 sits after several skippable segments (APP1 +
    # DQT), proving the marker WALK, not a fixed offset
    app1 = b"\xff\xe1" + struct.pack(">H", 10) + b"Exif\x00\x00\x00\x00"
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + bytes(65)
    sof = b"\xff\xc0" + struct.pack(">H", 11) + struct.pack(
        ">BHHB", 8, 200, 300, 1
    ) + b"\x01\x11\x00"
    jpeg = b"\xff\xd8" + app1 + dqt + sof
    assert _decode_payload(jpeg) == (300, 200)  # (width, height)

    with pytest.raises(NotImplementedError):
        _decode_payload(b"\xff\xd8\xff\xe0\x00\x04\x00\x00")  # no SOF


def test_mm_jpeg_walk_handles_standalone_markers():
    """Real-world JPEG streams contain 0xFF fill bytes
    and length-LESS standalone markers (TEM, RSTn, EOI) — the walk must
    skip them rather than misread them as length-bearing segments."""
    import struct

    from migbq_spark.operators.multimodal import _jpeg_dims

    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = struct.pack(">BHHB", 8, 480, 640, 3) + bytes(9)
    weird = (
        b"\xff\xd8"
        + b"\xff\x01"  # TEM: standalone, no length
        + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
        + b"\xff\xd0"  # RST0: standalone, no length
        + b"\xff\xff\xff\xc0"  # 0xFF fill padding before the SOF marker
        + struct.pack(">H", len(sof0) + 2) + sof0
    )
    assert _jpeg_dims(weird) == (640, 480)

    # EOI before any SOF ends the walk cleanly
    with pytest.raises(NotImplementedError):
        _jpeg_dims(b"\xff\xd8\xff\xd9")

    # a zero segment length must raise, not loop forever
    with pytest.raises(NotImplementedError):
        _jpeg_dims(b"\xff\xd8\xff\xe0\x00\x00\xff\xd9")


def test_mm_wav_probe_walks_riff_chunks():
    """`_wav_meta` must WALK the RIFF chunk list (size-field skips +
    word alignment), not read fixed offsets — pinned against a
    hand-built WAV with a LIST chunk of odd size before `fmt `."""
    import struct

    from migbq_spark.operators.multimodal import _wav_bytes, _wav_meta

    assert _wav_meta(_wav_bytes(16000, 2, 12345)) == (16000, 2, 12345)

    # hand-built: RIFF [LIST(odd 5 bytes)] [fmt] [data], fmt NOT first
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    data_size = 400 * 2
    payload = (
        b"RIFF" + struct.pack("<I", 0) + b"WAVE"
        + b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad to even
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", data_size)
    )
    assert _wav_meta(payload) == (8000, 1, 400)

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        _wav_meta(b"RIFXjunk")


def test_mm_mp4_probe_walks_box_tree():
    """`_mp4_meta` must RECURSE the ISO-BMFF box tree (size+fourcc
    walking into containers), pinned against a hand-built stream with a
    `free` box before `moov` and an extra `udta` box inside it."""
    import struct

    from migbq_spark.operators.multimodal import (
        _mp4_box,
        _mp4_bytes,
        _mp4_meta,
    )

    assert _mp4_meta(_mp4_bytes(90000, 450000, 640, 360)) == (
        90000, 450000, 640, 360,
    )

    # hand-built: ftyp, free (skippable), moov(udta, mvhd, trak(tkhd))
    ftyp = _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00")
    free = _mp4_box(b"free", b"\x00" * 7)
    mvhd = _mp4_box(b"mvhd", struct.pack(">BxxxIIII", 0, 0, 0, 1000, 2500))
    tkhd = _mp4_box(
        b"tkhd",
        struct.pack(">BxxxIIIxxxx", 0, 0, 0, 1)
        + bytes(56)
        + struct.pack(">II", 848 << 16, 480 << 16),
    )
    udta = _mp4_box(b"udta", b"meta")
    stream = ftyp + free + _mp4_box(b"moov", udta + mvhd + _mp4_box(b"trak", tkhd))
    assert _mp4_meta(stream) == (1000, 2500, 848, 480)

    with pytest.raises(NotImplementedError):
        _mp4_meta(_mp4_box(b"mdat", b"\x00" * 16))  # no ftyp


def test_mm_decode_headers_matches_planted_dims(spark, sf_dir):
    out = {r.doc_id: r for r in Q["mm_decode_headers"](spark, sf_dir).collect()}
    from migbq_spark.catalog import load

    docs = {r.doc_id: r for r in load(spark, sf_dir, "documents").collect()}
    assert set(out) == set(docs)
    for doc_id, r in out.items():
        assert r.fmt == ("png" if doc_id % 2 == 0 else "jpeg")
        assert r.width == doc_id % 640 + 1
        assert r.height == docs[doc_id].n_chars % 480 + 1


def test_approx_percentile_within_sketch_bound(spark, sf_dir):
    exact = {r.event_type: r.p50 for r in Q["agg_percentile"](spark, sf_dir).collect()}
    approx = {
        r.event_type: r.p50_approx
        for r in Q["agg_approx_percentile"](spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for et, p50 in exact.items():
        # accuracy=10000 ⇒ rank error ≤ n/10000; values are ~uniform on
        # [0, 200], so a loose 5% value tolerance is far above the bound
        assert abs(approx[et] - float(p50)) <= max(5.0, 0.05 * float(p50)), et


def test_salted_join_spreads_hot_key(spark, sf_dir):
    # the hot key (user_key 0) must carry ≈⅓ of all events — i.e. the
    # skew the salt exists to spread — and per-key results stay exact
    rows = {r.user_key: r.n_events for r in Q["join_skew_salted"](spark, sf_dir).collect()}
    total = sum(rows.values())
    assert rows[0] / total > 0.3


def test_connected_components_consistent_with_edges(spark, sf_dir):
    # every near-dup edge must land inside ONE component, and each
    # component's label must be its smallest member (the fixpoint the
    # iterative propagation is supposed to reach)
    from migbq_spark.operators.training import ngram_jaccard

    comp = {
        r.doc_id: r.component_id
        for r in Q["dup_connected_components"](spark, sf_dir).collect()
    }
    edges = ngram_jaccard(spark, sf_dir).select("a_id", "b_id").collect()
    assert edges, "fixture should produce at least one near-dup edge"
    for e in edges:
        assert comp[e.a_id] == comp[e.b_id], (e.a_id, e.b_id)
    members: dict[int, list[int]] = {}
    for doc, c in comp.items():
        members.setdefault(c, []).append(doc)
    for c, docs in members.items():
        assert c == min(docs), (c, docs)


def test_funnel_stages_monotone(spark, sf_dir):
    row = Q["events_funnel"](spark, sf_dir).collect()[0]
    assert row.n_signup >= row.n_click_after_signup >= row.n_purchase_after_click
    assert row.n_signup > 0


def test_stream_stream_join_equals_batch(spark, sf_dir):
    # the availableNow drain with an over-wide watermark must equal the
    # batch formulation of the same attribution join exactly
    from migbq_spark.catalog import load
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    batch = clicks.join(
        purch,
        F.expr("user_id = p_user AND p_ts >= c_ts"
               " AND p_ts <= c_ts + interval 1 hour"),
    ).select("click_id", "purchase_id")
    expected = {(r.click_id, r.purchase_id) for r in batch.collect()}
    got = {
        (r.click_id, r.purchase_id)
        for r in Q["stream_stream_join"](spark, sf_dir).collect()
    }
    assert got == expected and expected


def test_hll_wau_tracks_exact(spark, sf_dir):
    # sketch union across the 7-day window must estimate the exact WAU
    # within HLL error (lgK default 12 → ~1.6% rse; allow 5%)
    exact = {r.d: r.wau for r in Q["active_users_7d"](spark, sf_dir).collect()}
    est = {r.d: r.wau_est for r in Q["active_users_7d_hll"](spark, sf_dir).collect()}
    assert set(exact) == set(est)
    for d, wau in exact.items():
        assert abs(est[d] - wau) <= max(3, 0.05 * wau), (d, wau, est[d])


def test_hll_sliding_windows_track_exact(spark, sf_dir):
    """sliding_distinct_hll (hourly partials → 24h/6h sliding merge) must
    estimate the exact sliding count-distinct within HLL error, over the
    identical window grid (F.window on partials covers the same windows
    as F.window on raw events)."""
    from pyspark.sql import functions as F

    from migbq_spark.catalog import load

    exact = {
        r.window_start: r.au
        for r in load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "24 hours", "6 hours").alias("win"))
        .agg(F.countDistinct("user_id").alias("au"))
        .select(F.col("win.start").alias("window_start"), "au")
        .collect()
    }
    est = {
        r.window_start: r.au_est
        for r in Q["sliding_distinct_hll"](spark, sf_dir).collect()
    }
    assert set(exact) == set(est)
    for w, au in exact.items():
        assert abs(est[w] - au) <= max(3, 0.05 * au), (w, au, est[w])


def test_jaccard_tiling_invariant_under_skew(spark, monkeypatch):
    """The blocked jaccard kernel must return identical pairs whatever the
    tile width — including a degenerate tile smaller than any block — and
    under heavy source skew (one source holds ~80% of docs), the scenario
    where an untiled kernel would build one huge dense matrix."""
    from migbq_spark.operators import textsim

    rows = []
    # hot source: 40 docs, several exact near-dup clusters
    for i in range(40):
        base = "alpha beta gamma delta epsilon zeta eta theta"
        extra = f"tok{i % 5}"
        rows.append((i, f"{base} {extra}", "en", "hot", 0))
    # two cold sources
    for i in range(40, 50):
        rows.append((i, f"unique{i} words here only {i}", "en", f"cold{i % 2}", 0))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")

        def pairs(chunk):
            monkeypatch.setattr(textsim, "_JACCARD_CHUNK", chunk)
            out = {
                (r.a_id, r.b_id): (r.shared, r.n_a, r.n_b, r.jaccard)
                for r in textsim.near_dup_jaccard(spark, d).collect()
            }
            return out

        big = pairs(10_000)   # one tile covers everything (untiled semantics)
        tiny = pairs(3)       # many tiles, diagonal + off-diagonal paths
        assert big, "skewed fixture should produce near-dup pairs"
        assert big == tiny


def test_jaccard_hot_source_fans_out_across_tasks(spark):
    """A single hot source must NOT collapse to one applyInPandas task.
    The tile fan-out keys the kernel by
    (source, tile_i, tile_j): a single-source corpus spreads over
    T·(T+1)/2 shuffle groups, and the pair set is invariant to the tile
    count (tiles=1 reproduces the old one-task-per-source semantics)."""
    from pyspark.sql import functions as F

    from migbq_spark.common import tokens
    from migbq_spark.operators.textsim import jaccard_pairs_frame

    rows = [
        (i, "alpha beta gamma delta epsilon zeta eta theta " + f"tok{i % 5}",
         "onlysource")
        for i in range(60)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).select("doc_id", "source", F.array_distinct(tokens()).alias("toks"))

    def key_pairs(tiles):
        # tile_min_docs=0 forces the tiled path regardless of source size
        # (the adaptive floor would otherwise keep this 60-doc fixture
        # on the single-task path; see test_jaccard_adaptive_tile_floor).
        return {
            (r.a_id, r.b_id): (r.shared, r.n_a, r.n_b, r.jaccard)
            for r in jaccard_pairs_frame(
                spark, docs, tiles=tiles, tile_min_docs=0
            ).collect()
        }

    serial = key_pairs(1)
    fanned = key_pairs(8)
    assert serial and serial == fanned

    # the fan itself: one source → 36 distinct shuffle groups, every one
    # of the 8 tiles non-empty (pmod over dense doc_ids balances them)
    pairs_grid = spark.createDataFrame(
        [(i, j) for i in range(8) for j in range(i, 8)], "tile_i int, tile_j int"
    )
    fan = docs.withColumn("tile", F.pmod("doc_id", F.lit(8)).cast("int")).join(
        F.broadcast(pairs_grid),
        (F.col("tile") == F.col("tile_i")) | (F.col("tile") == F.col("tile_j")),
    )
    assert fan.select("source", "tile_i", "tile_j").distinct().count() == 36
    assert fan.select("tile").distinct().count() == 8


def test_jaccard_adaptive_tile_floor(spark):
    """Adaptive fan-out: sources below the tile floor
    must run as ONE shuffle group (no replication), sources at/above it
    must fan out over T·(T+1)/2 groups — and the pair set must be
    identical either way."""
    from pyspark.sql import functions as F

    from migbq_spark.common import tokens
    from migbq_spark.operators.textsim import jaccard_pairs_frame

    base = "alpha beta gamma delta epsilon zeta eta theta "
    rows = [(i, base + f"tok{i % 5}", "hot") for i in range(40)]
    rows += [(100 + i, base + f"cold{i % 3}", "cold") for i in range(10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).select("doc_id", "source", F.array_distinct(tokens()).alias("toks"))

    def pairs(**kw):
        return {
            (r.a_id, r.b_id): (r.shared, r.n_a, r.n_b, r.jaccard)
            for r in jaccard_pairs_frame(spark, docs, tiles=8, **kw).collect()
        }

    # floor between the two source sizes: hot (40 docs) tiles, cold
    # (10 docs) stays single-task — and the result is invariant.
    adaptive = pairs(tile_min_docs=20)
    forced = pairs(tile_min_docs=0)
    single = pairs(tile_min_docs=10**9)
    assert adaptive and adaptive == forced == single

    # group-count check on the fan itself: replicate the operator's
    # internal fan and count distinct shuffle groups per source.
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("src_n"))
    grid = spark.createDataFrame(
        [(t, i, j) for t in (1, 8) for i in range(t) for j in range(i, t)],
        "grid_n int, tile_i int, tile_j int",
    )
    fan = (
        docs.join(F.broadcast(counts), "source")
        .withColumn(
            "n_tiles",
            F.when(F.col("src_n") >= 20, F.lit(8)).otherwise(F.lit(1)),
        )
        .withColumn("tile", F.pmod("doc_id", F.col("n_tiles")).cast("int"))
        .join(
            F.broadcast(grid),
            (F.col("n_tiles") == F.col("grid_n"))
            & (
                (F.col("tile") == F.col("tile_i"))
                | (F.col("tile") == F.col("tile_j"))
            ),
        )
    )
    groups = {
        (r.source, r.tile_i, r.tile_j)
        for r in fan.select("source", "tile_i", "tile_j").distinct().collect()
    }
    assert len([g for g in groups if g[0] == "hot"]) == 36
    assert [g for g in groups if g[0] == "cold"] == [("cold", 0, 0)]


def test_tdigest_rolling_quantiles_track_exact(spark, sf_dir):
    """Merged-sketch rolling quantiles must track the exact rolling
    percentile: K=64 equal-weight centroids bound rank error by ~1/64 per
    sketch; after a 7-way merge the p50/p95 must land within a few value
    percentiles of exact."""
    from pyspark.sql import functions as F

    est = {
        r.win_d: (r.n_est, r.p50, r.p95)
        for r in Q["rolling_quantile_tdigest"](spark, sf_dir).collect()
    }
    from migbq_spark.catalog import load

    days = load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "value"
    )
    exact_rows = days.collect()
    import collections

    by_day = collections.defaultdict(list)
    for r in exact_rows:
        by_day[r.d].append(r.value)
    import datetime
    import statistics

    assert est, "should produce full 7-day windows"
    for win_d, (n_est, p50, p95) in est.items():
        pool = []
        for off in range(7):
            pool.extend(by_day.get(win_d - datetime.timedelta(days=off), []))
        assert pool, win_d
        assert n_est == len(pool)
        pool.sort()
        exact_p50 = statistics.quantiles(pool, n=100)[49]
        exact_p95 = statistics.quantiles(pool, n=100)[94]
        spread = pool[-1] - pool[0] or 1.0
        assert abs(p50 - exact_p50) <= 0.05 * spread, (win_d, p50, exact_p50)
        assert abs(p95 - exact_p95) <= 0.05 * spread, (win_d, p95, exact_p95)


def test_keep_cluster_canonical_invariants(spark, sf_dir):
    """The keep/drop decision must cover the corpus exactly once and
    every kept doc must belong to its own component."""
    out = Q["dedup_keep_cluster_canonical"](spark, sf_dir).collect()
    n_docs_total = sum(r.n_docs for r in out)
    corpus = (
        spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    )
    assert n_docs_total == corpus  # complete partition of the corpus
    comps = {
        (r.doc_id, r.component_id)
        for r in Q["dedup_cross_source_cc"](spark, sf_dir).collect()
    }
    comp_ids = {c for _, c in comps}
    for r in out:
        assert r.n_dropped == r.n_docs - 1
        if r.n_docs == 1:
            # singleton: component id IS the kept doc
            assert r.kept_doc_id == r.component_id
        else:
            assert r.component_id in comp_ids
            assert (r.kept_doc_id, r.component_id) in comps


def test_warm_dedup_call_compiles_nothing(spark, sf_dir):
    """A repeated call must find all its generated classes in Spark's
    codegen cache.  The dedup generates more classes than the default
    cache of 100 holds, so with the default every warm call recompiles
    them all (Janino, then a fresh JIT of each class)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    Q["dedup_keep_cluster_canonical"](spark, sf_dir).collect()
    before = compiles.getCount()
    Q["dedup_keep_cluster_canonical"](spark, sf_dir).collect()
    recompiled = compiles.getCount() - before
    assert recompiled == 0, f"warm call compiled {recompiled} classes"


#: The three ways `_cc_twostar_components` can finish: two-star rounds to
#: the fixpoint (driver budget 0), rounds until the edges fit and then
#: the driver union-find, or the union-find alone (the module default).
CC_PATHS = ["rounds", "rounds_then_driver", "driver"]


def _cc_path(monkeypatch, path, fixpoint_edges):
    """Set the CC driver budget for `path` and count the two-star rounds
    and union-find tails that run.  `fixpoint_edges` is the graph's
    nodes − components, the edge count of its fixpoint star and the
    least any round can leave; as the budget it lets a graph with a
    cycle (more edges than that) start with rounds and finish on the
    driver.  A forest starts at that count, so it needs a cycle."""
    from migbq_spark.operators import pipeline

    seen = {"rounds": 0, "union_find": 0}
    large_star, union_find = pipeline._cc_large_star, pipeline._cc_union_find

    def counted_large_star(E):
        seen["rounds"] += 1
        return large_star(E)

    def counted_union_find(edges):
        seen["union_find"] += 1
        return union_find(edges)

    monkeypatch.setattr(pipeline, "_cc_large_star", counted_large_star)
    monkeypatch.setattr(pipeline, "_cc_union_find", counted_union_find)
    if path != "driver":
        budget = 0 if path == "rounds" else fixpoint_edges
        monkeypatch.setattr(pipeline, "_CC_DRIVER_EDGES", budget)
    return seen


def _assert_cc_path(seen, path):
    ran = (seen["rounds"] > 0, seen["union_find"])
    assert ran == {
        "rounds": (True, 0),
        "rounds_then_driver": (True, 1),
        "driver": (False, 1),
    }[path], seen


@pytest.mark.parametrize("path", CC_PATHS)
def test_cc_twostar_screened_fixpoint_chain(spark, monkeypatch, path):
    """The fixpoint loop's cheap (count, hash-sum)
    screen must not change the result — a 40-hop chain forces several
    contraction rounds (screen says 'changed', exceptAll skipped)
    before the exceptAll-proved final round, and every node must still
    root at the chain minimum, on every path to the labels.  The chord
    (100, 102) gives the chain the cycle the rounds-then-driver path
    needs."""
    from migbq_spark.operators.pipeline import _cc_twostar_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)] + [(100, 102)],
        "u: long, v: long",
    )
    seen = _cc_path(monkeypatch, path, fixpoint_edges=40)
    out = {
        (r.doc_id, r.component_id)
        for r in _cc_twostar_components(edges).collect()
    }
    assert out == {(i, 100) for i in range(100, 141)}
    _assert_cc_path(seen, path)


@pytest.mark.parametrize("path", CC_PATHS)
def test_dup_connected_components_long_chain(spark, sf_dir, monkeypatch, path):
    """A 31-node near-dup chain (30 hops, past any fixed round budget a
    min-label propagation would need; the chord (200, 202) shortens it
    by one) must come back fully contracted: every node rooted at the
    chain minimum, never a partial labelling, on every path."""
    from migbq_spark.operators import training

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200, 230)] + [(200, 202)],
        "a_id: long, b_id: long",
    )
    monkeypatch.setattr(training, "ngram_jaccard", lambda spark, sf_dir: chain)
    seen = _cc_path(monkeypatch, path, fixpoint_edges=30)
    out = {
        (r.doc_id, r.component_id)
        for r in Q["dup_connected_components"](spark, sf_dir).collect()
    }
    assert out == {(i, 200) for i in range(200, 231)}
    _assert_cc_path(seen, path)


@pytest.mark.parametrize("path", CC_PATHS)
def test_ckpt_fusion_value_neutral(spark, sf_dir, monkeypatch, path):
    """The lazy localCheckpoint at the fused loop sites (materialized by
    each round's action) must give the values the eager form
    gave: pinned for the CC fixpoint on every path (the chord (0, 2)
    gives the chain a cycle) and, once, for the BPE trainer."""
    from migbq_spark.operators.pipeline import _cc_twostar_components
    from migbq_spark.operators.training import _bpe_train

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 25)] + [(0, 2), (50, 52), (52, 54)],
        "u: long, v: long",
    )
    seen = _cc_path(monkeypatch, path, fixpoint_edges=27)
    comps = {
        (r.doc_id, r.component_id)
        for r in _cc_twostar_components(edges).collect()
    }
    assert comps == {(i, 0) for i in range(26)} | {
        (50, 50), (52, 50), (54, 50)
    }
    _assert_cc_path(seen, path)
    if path == "rounds" and sf_dir.rstrip("/").endswith("sf0.001"):
        merges, _ = _bpe_train(spark, sf_dir, n_merges=4)
        assert merges == [
            (0, "e", "r", 4650),
            (1, "e", "_", 4644),
            (2, "n", "_", 2898),
            (3, "o", "r", 2880),
        ]


def _random_cc_graph(seed):
    """Chains, stars and isolated pairs over sparse bigint ids, with
    chords (cycles), repeated and reversed edges and self-loops."""
    import random

    rng = random.Random(seed)
    ids = iter(rng.sample(range(1, 10**12), 400))
    edges, comps = [], []
    for kind in rng.choices(["chain", "star", "pair"], k=40):
        k = {"chain": rng.randint(3, 15), "star": rng.randint(3, 10), "pair": 2}
        nodes = [next(ids) for _ in range(k[kind])]
        if kind == "star":
            edges += [(nodes[0], x) for x in nodes[1:]]
        else:
            edges += list(zip(nodes, nodes[1:]))
        if kind != "pair" and rng.random() < 0.7:
            edges.append(tuple(rng.sample(nodes, 2)))
        comps.append(nodes)
    edges += [(v, u) for u, v in rng.sample(edges, 10)]
    edges += [(u, u) for u, _ in rng.sample(edges, 5)]
    rng.shuffle(edges)
    return edges, comps


def _components_by_search(edges):
    """Plain-Python reference: (node, min node reachable) by graph search."""
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    label = {}
    for start in adj:
        if start in label:
            continue
        seen, stack = {start}, [start]
        while stack:
            for y in adj[stack.pop()] - seen:
                seen.add(y)
                stack.append(y)
        root = min(seen)
        label.update((x, root) for x in seen)
    return set(label.items())


@pytest.mark.parametrize("path", CC_PATHS)
def test_cc_random_graph_matches_reference(spark, monkeypatch, path):
    """A seeded random graph with non-contiguous bigint ids gets the same
    labels as a plain-Python graph search on every path."""
    from migbq_spark.operators.pipeline import _cc_twostar_components

    edges, comps = _random_cc_graph(seed=9)
    nodes = sum(len(c) for c in comps)
    seen = _cc_path(monkeypatch, path, fixpoint_edges=nodes - len(comps))
    out = _cc_twostar_components(
        spark.createDataFrame(edges, "u: bigint, v: bigint")
    ).collect()
    assert len(out) == nodes
    assert {(r.doc_id, r.component_id) for r in out} == _components_by_search(
        edges
    )
    _assert_cc_path(seen, path)


@pytest.mark.parametrize("rows", [[], [(3, 3), (7, 7)]], ids=["empty", "self_loops"])
def test_cc_without_edges_is_empty(spark, rows):
    from migbq_spark.operators.pipeline import _cc_twostar_components

    out = _cc_twostar_components(spark.createDataFrame(rows, "u: long, v: long"))
    assert out.columns == ["doc_id", "component_id"]
    assert out.collect() == []


@pytest.mark.parametrize("path", ["rounds", "driver"])
@pytest.mark.parametrize("id_type", ["int", "bigint"])
def test_cc_keeps_id_type(spark, monkeypatch, id_type, path):
    from migbq_spark.operators.pipeline import _cc_twostar_components

    _cc_path(monkeypatch, path, fixpoint_edges=0)
    out = _cc_twostar_components(
        spark.createDataFrame([(5, 6), (6, 7)], f"u: {id_type}, v: {id_type}")
    )
    assert [f.dataType.simpleString() for f in out.schema] == [id_type] * 2
    assert sorted(out.collect()) == [(5, 5), (6, 5), (7, 5)]


def test_cc_under_budget_is_two_jobs_without_conf_writes(spark, monkeypatch):
    """An edge set within the driver budget is read in one bounded job
    after the canonical edges' shuffle, and the session-global
    `spark.sql.shuffle.partitions` is never written."""
    from pyspark.sql.conf import RuntimeConfig

    from migbq_spark.operators.pipeline import _cc_twostar_components

    writes = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def recording_set(self, key, value):
        writes.append(key)
        return real_set(self, key, value)

    def recording_unset(self, key):
        writes.append(key)
        return real_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    monkeypatch.setattr(RuntimeConfig, "unset", recording_unset)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 60)], "u: long, v: long"
    )
    sc = spark.sparkContext
    group = "cc-under-budget"
    sc.setJobGroup(group, group)
    try:
        _cc_twostar_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 2, f"{len(jobs)} jobs"
    assert "spark.sql.shuffle.partitions" not in writes


def test_dedup_joins_driver_labels_as_local_relation(spark, sf_dir):
    """The union-find labels come back as a local relation of known size:
    the executed dedup plan scans no Python RDD, and its quality join
    broadcasts the labels."""
    df = Q["dedup_keep_cluster_canonical"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    assert "LocalTableScan" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_minhash_merge_equals_full_recompute(spark, sf_dir):
    """Merged base+delta signatures must equal a one-shot full
    aggregation (min-monoid mergeability) computed Spark-side too."""
    from pyspark.sql import functions as F

    from migbq_spark.operators.pipeline import _MINHASH_K, _tok_df

    def h(i):
        return F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(i), F.col("token"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")

    full = {
        (r.source, i): r[f"v{i}"]
        for r in _tok_df(spark, sf_dir)
        .groupBy("source")
        .agg(*[F.min(h(i)).alias(f"v{i}") for i in range(_MINHASH_K)])
        .collect()
        for i in range(_MINHASH_K)
    }
    merged = {
        (r.source, r.seed): r.v
        for r in Q["minhash_merge_incremental"](spark, sf_dir).collect()
    }
    assert merged == full


def test_pack_sequences_contiguous(spark, sf_dir):
    """Per source, offsets must tile the concatenated stream with no
    gaps or overlaps, and chunk spans must match the offsets."""
    rows = sorted(
        Q["pack_sequences_budget"](spark, sf_dir).collect(),
        key=lambda r: (r.source, r.doc_id),
    )
    import itertools

    for _src, grp in itertools.groupby(rows, key=lambda r: r.source):
        expect = 0
        for r in grp:
            assert r.off == expect
            assert r.start_chunk == r.off // 256
            assert r.end_chunk == (r.off + r.n_tokens - 1) // 256
            assert r.n_chunks == r.end_chunk - r.start_chunk + 1
            expect = r.off + r.n_tokens


def test_shard_export_covers_corpus(spark, sf_dir):
    """The 8 shards must partition the corpus exactly (no doc lost
    or duplicated by the write→read-back round trip)."""
    out = Q["shard_export_training"](spark, sf_dir).collect()
    assert {r.shard for r in out} <= set(range(8))
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in out) == corpus


def test_pkrange_source_plans_and_prunes_strides():
    """The Python DataSource must plan one stride per batch_size
    from row-group stats, and pushFilters must consume pk predicates and
    prune whole strides before planning."""
    from pyspark.sql.datasource import GreaterThan, LessThanOrEqual

    from migbq_spark.pkrange_source import PkRangeReader

    opts = {
        "path": "/root/testdata/sf0.01/orders.parquet",
        "pk": "o_orderkey",
        "batch_size": "4096",
    }
    r = PkRangeReader(opts, ["o_orderkey"])
    full = r.partitions()
    assert len(full) == 4  # 15000 keys / 4096
    assert full[0].lo == 0 and full[-1].hi == 15000

    r2 = PkRangeReader(opts, ["o_orderkey"])
    leftover = list(
        r2.pushFilters([GreaterThan(("o_orderkey",), 10000)])
    )
    assert leftover == []  # consumed
    pruned = r2.partitions()
    assert len(pruned) == 2  # [10001, 14097), [14097, 15000)
    assert pruned[0].lo == 10001

    # unsupported filter (non-pk column) must be returned to Spark
    r3 = PkRangeReader(opts, ["o_orderkey"])
    back = list(r3.pushFilters([LessThanOrEqual(("o_custkey",), 5)]))
    assert len(back) == 1


def test_pkrange_source_reads_files_without_pk_statistics(spark, tmp_path):
    """A parquet file whose pk column has no row-group statistics must
    still be planned over its real key range: the batch source returns
    every row, and the same rows the stream source drains."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from migbq_spark.pkrange_source import PkRangeStreamReader, register_sources

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_sources(spark)
    n = 1_000
    t = pa.table(
        {
            "pk": pa.array(range(5_000, 5_000 + n), pa.int64()),
            "v": pa.array(range(n), pa.int64()),
        }
    )
    no_stats = tmp_path / "no_stats.parquet"
    pq.write_table(t, no_stats, write_statistics=False, row_group_size=300)
    v_stats = tmp_path / "v_stats_only.parquet"
    pq.write_table(t, v_stats, write_statistics=["v"], row_group_size=300)
    for path in (no_stats, v_stats):
        got = sorted(
            tuple(r)
            for r in spark.read.format("migbq_pkrange")
            .option("path", str(path))
            .option("pk", "pk")
            .option("batch_size", "100")
            .load()
            .collect()
        )
        assert got == sorted(zip(range(5_000, 5_000 + n), range(n)))
        reader = PkRangeStreamReader(
            {"path": str(path), "pk": "pk", "batch_size": "100"}
        )
        off, drained = reader.initialOffset(), []
        while True:
            it, off = reader.read(off)
            batch = list(it)
            if not batch:
                break
            drained += batch
        assert got == sorted(drained)


def test_loadjob_sink_commit_protocol(spark, tmp_path):
    """The custom sink must publish atomically — a commit leaves
    parts + manifest and no staging dir; a mid-write task failure must
    leave NOTHING visible in the destination."""
    import json
    from pathlib import Path

    from pyspark.sql import functions as F

    from migbq_spark.pkrange_source import register_sources

    register_sources(spark)
    df = spark.range(100).select(F.col("id").cast("long").alias("id"))

    ok_dest = str(tmp_path / "ok")
    df.write.format("migbq_loadjob").option("path", ok_dest).mode(
        "append"
    ).save()
    man = json.loads((Path(ok_dest) / "_MANIFEST.json").read_text())
    assert man["n_rows"] == 100
    assert man["n_files"] == len(list(Path(ok_dest).glob("part-*.jsonl.gz")))
    assert not (Path(ok_dest) / "_staging").exists()

    bad_dest = str(tmp_path / "bad")
    bad = df.select(
        F.when(F.col("id") < 99, F.col("id"))
        .otherwise(F.raise_error(F.lit("boom")))
        .alias("id")
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="boom"):
        bad.write.format("migbq_loadjob").option("path", bad_dest).mode(
            "append"
        ).save()
    # abort: no committed parts, no manifest
    assert not list(Path(bad_dest).glob("part-*.jsonl.gz"))
    assert not (Path(bad_dest) / "_MANIFEST.json").exists()


def test_ann_rp_lsh_recall_vs_brute_force(spark, sf_dir):
    """Sign-LSH recall on this CLUSTER-FREE random fixture is
    theoretically ≈ (1 - θ/π)^12 × 13 ≈ 0.04 (true neighbors sit at
    cosine ≈ 0.35 ⇒ θ ≈ 69°, per-plane collision ≈ 0.61) — the pin is
    that measured recall beats the probed corpus FRACTION (13/2^12 ≈
    0.3%) by an order of magnitude, i.e. the buckets are genuinely
    similarity-biased, not random.  On real embeddings (near-dup cosine
    → 1) per-plane collision → 1 and recall rises accordingly."""
    exact = {
        (r.q_id, r.n_id) for r in Q["cosine_topk"](spark, sf_dir).collect()
    }
    approx = {
        (r.q_id, r.n_id) for r in Q["ann_rp_lsh_topk"](spark, sf_dir).collect()
    }
    assert approx
    recall = len(exact & approx) / len(exact)
    probed_fraction = 13 / 2 ** 12
    print(f"RP-LSH recall @5: {recall:.3f} (probed {probed_fraction:.4f})")
    assert recall >= 10 * probed_fraction


def test_bpe_merges_match_reference(spark, sf_dir):
    """The distributed BPE trainer must learn exactly the merge
    table a pure-Python reference BPE learns from the same word
    frequencies (same tie-break: weight desc, then pair text asc)."""
    from collections import Counter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    freqs = Counter()
    for r in docs:
        for w in r.text.split(" "):
            if w:
                freqs[w] += 1

    def ref_bpe(freqs, n_merges):
        words = {tuple(list(w) + ["_"]): c for w, c in freqs.items()}
        merges = []
        for rank in range(n_merges):
            pairs = Counter()
            for syms, c in words.items():
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] += c
            if not pairs:
                break
            (left, right), weight = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((rank, left, right, weight))
            merged = left + right
            new_words = {}
            for syms, c in words.items():
                out = []
                for x in syms:
                    if out and out[-1] == left and x == right:
                        out[-1] = merged
                    else:
                        out.append(x)
                new_words[tuple(out)] = new_words.get(tuple(out), 0) + c
            words = new_words
        return merges

    expect = ref_bpe(freqs, 8)
    got = [
        (r.rank, r.left, r.right, r.weight)
        for r in Q["tokenizer_bpe_train_merges"](spark, sf_dir)
        .orderBy("rank")
        .collect()
    ]
    assert got == expect


def test_dup_span_ratio_hashed_twin_exact(spark, sf_dir):
    """The xxhash64-keyed production twin must emit
    bit-identical per-doc ratios to the string-keyed path (no 64-bit
    span collisions at fixture scale — and a collision would surface
    here AND in the shared oracle hash)."""
    a = sorted(map(tuple, Q["dup_span_ratio"](spark, sf_dir).collect()))
    b = sorted(map(tuple, Q["dup_span_ratio_hashed"](spark, sf_dir).collect()))
    assert a == b
    assert a, "fixture produced no span rows"


def test_bpe_batched_trainer_exact_and_fewer_rounds(spark, sf_dir):
    """The batched-round trainer must learn the
    EXACT merge table of the sequential path (disjoint-prefix batching
    is equality-preserving, see _bpe_train) in strictly fewer driver
    rounds — merges/rounds ratio > 1 is the whole point."""
    from migbq_spark.operators.training import _bpe_train

    seq_merges, seq_rounds = _bpe_train(spark, sf_dir, n_merges=8, batch_k=1)
    bat_merges, bat_rounds = _bpe_train(spark, sf_dir, n_merges=8, batch_k=8)
    assert bat_merges == seq_merges
    assert seq_rounds == 8
    assert bat_rounds < seq_rounds, (
        f"batched trainer used {bat_rounds} rounds for 8 merges"
    )
    # and the registered twin matches the registered sequential op
    a = [tuple(r) for r in Q["tokenizer_bpe_train_merges"](spark, sf_dir)
         .orderBy("rank").collect()]
    b = [tuple(r) for r in Q["tokenizer_bpe_train_batched"](spark, sf_dir)
         .orderBy("rank").collect()]
    assert a == b


def test_bpe_batched_trainer_exact_at_64_merges(spark, sf_dir):
    """Twin equality pinned BEYOND the toy count —
    at 64 merges the tie-hardened prefix rule must still reproduce the
    sequential table exactly (the sf1 measurement: 57 rounds vs 64,
    exact equality; deeper fixture runs exhaust the 31-word vocab)."""
    from migbq_spark.operators.training import _bpe_train

    seq, seq_rounds = _bpe_train(spark, sf_dir, n_merges=64, batch_k=1)
    bat, bat_rounds = _bpe_train(spark, sf_dir, n_merges=64, batch_k=64)
    assert bat == seq
    assert bat_rounds <= seq_rounds


def test_bpe_apply_consistent_with_reference_tokenization(spark, sf_dir):
    """Corpus BPE token counts from the distributed apply must equal
    tokenizing every word with the reference merge algorithm."""
    from collections import Counter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    merges = [
        (r.left, r.right)
        for r in Q["tokenizer_bpe_train_merges"](spark, sf_dir)
        .orderBy("rank")
        .collect()
    ]

    def tok_len(word):
        syms = list(word) + ["_"]
        for left, right in merges:
            out = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            syms = out
        return len(syms)

    cache = {}
    expect = Counter()
    for r in docs:
        for w in r.text.split(" "):
            if w:
                if w not in cache:
                    cache[w] = tok_len(w)
                expect[r.source] += cache[w]
    got = {
        r.source: r.n_bpe_tokens
        for r in Q["tokenizer_bpe_apply"](spark, sf_dir).collect()
    }
    assert got == dict(expect)


def test_bpe_apply_trie_twin_exact_and_single_arrow_node(spark, sf_dir):
    """The broadcast-table pandas-UDF apply path must (a) produce
    EXACTLY the fold path's per-source audit and (b) plan tokenization
    as a single Arrow-batched Python node (no chained fold expressions,
    no extra Python stages) — the production ~50k-merge plan shape."""
    fold = {
        tuple(r) for r in Q["tokenizer_bpe_apply"](spark, sf_dir).collect()
    }
    trie_df = Q["tokenizer_bpe_apply_trie"](spark, sf_dir)
    assert {tuple(r) for r in trie_df.collect()} == fold
    plan = trie_df._jdf.queryExecution().executedPlan().toString()
    # AQE prints the final plan followed by the initial plan: count
    # Python nodes in the FINAL section only
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in final  # no row-at-a-time Python


def test_rp_lsh_portable_hashable_and_recall(spark, sf_dir, duck):
    """The fixed-point sign-LSH twin must (a) value-hash-match its
    DuckDB oracle (the portability claim) and (b) keep the float twin's
    recall bar vs exact brute-force cosine."""
    from migbq_spark.testing import compare_driver

    from __spark_entry__ import oracle_sql

    r = compare_driver(
        Q["ann_rp_lsh_topk_portable"](spark, sf_dir),
        duck,
        oracle_sql()["ann_rp_lsh_topk_portable"],
    )
    assert r["ok"], r

    exact = {
        (r.q_id, r.n_id) for r in Q["cosine_topk"](spark, sf_dir).collect()
    }
    approx = {
        (r.q_id, r.n_id)
        for r in Q["ann_rp_lsh_topk_portable"](spark, sf_dir).collect()
    }
    assert approx
    recall = len(exact & approx) / len(exact)
    probed_fraction = 13 / 2 ** 12
    print(f"portable RP-LSH recall @5: {recall:.3f}")
    assert recall >= 10 * probed_fraction


def test_semantic_lsh_dedup_hashable_and_recall(spark, sf_dir, duck):
    """The unsupervised sign-LSH embedding near-dup must (a) value-
    hash-match its DuckDB oracle and (b) recover a predictable fraction
    of the brute-force pair set at the fixture threshold (banded
    candidates: P = 1-(1-p^4)^3; the fixture's tau=0.3 pairs sit near
    per-plane agreement p ~ 0.6 -> expected recall ~ 0.3; production
    thresholds ~0.85 push recall toward 1)."""
    from migbq_spark.testing import compare_driver

    from __spark_entry__ import oracle_sql

    r = compare_driver(
        Q["dedup_semantic_lsh_portable"](spark, sf_dir),
        duck,
        oracle_sql()["dedup_semantic_lsh_portable"],
    )
    assert r["ok"], r

    # brute-force truth: same fixed-point quantization, all pairs
    exact = {
        (a, b)
        for a, b, s in duck.execute("""
            WITH scaled AS (
                SELECT vec_id,
                       list_transform(embedding, x ->
                           CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0)
                                AS BIGINT)) AS se
                FROM embeddings
            )
            SELECT a.vec_id, b.vec_id,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                        i -> a.se[i] * b.se[i])) AS BIGINT)
            FROM scaled a JOIN scaled b ON a.vec_id < b.vec_id
        """).fetchall()
        if s >= 300_000_000_000
    }
    got = {
        (r.a_id, r.b_id)
        for r in Q["dedup_semantic_lsh_portable"](spark, sf_dir).collect()
    }
    assert got <= exact  # every emitted pair is a true pair (exact verify)
    recall = len(got) / len(exact)
    print(f"semantic LSH recall @tau=0.3: {recall:.3f} ({len(got)}/{len(exact)})")
    assert 0.1 <= recall <= 0.9  # banded-candidate regime, not all/nothing


def test_cluster_canonical_and_funnel_drop_zero_token_docs(spark, tmp_path):
    """Docs with zero non-empty tokens must be
    EXCLUDED from the keep/drop decision on both engines — the Spark
    side used to keep them with quality = 0/0 = NULL while the oracle's
    inner join dropped them. The shipped fixtures contain no empty
    docs, so this pins the fix on a synthetic corpus that does."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from migbq_spark.testing import compare_driver

    from __spark_entry__ import oracle_sql

    texts = ["alpha beta gamma", "alpha beta gamma", "", "   ", "delta"]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["src0", "src0", "src1", "src1", "src2"],
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = tmp_path / "sfz"
    sf.mkdir()
    pq.write_table(pa.Table.from_pandas(pdf), str(sf / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    for qid in ("dedup_keep_cluster_canonical", "corpus_curation_funnel"):
        r = compare_driver(Q[qid](spark, str(sf)), con, oracle_sql()[qid])
        assert r["ok"], (qid, {k: v for k, v in r.items() if k != "ok"})
    # and the zero-token docs are really absent from the decision
    out = Q["dedup_keep_cluster_canonical"](spark, str(sf)).collect()
    decided = {r.kept_doc_id for r in out}
    assert decided <= {0, 1, 4} and sum(r.n_docs for r in out) == 3


def test_collapse_repeated_tokens_properties(spark, tmp_path):
    """The stutter collapse must be (a) idempotent — collapsing the
    cleaned text again removes nothing — and (b) correct — no adjacent
    duplicate survives, and removal count equals the adjacent-dup count
    of the input.  Pinned on a synthetic corpus with heavy planted
    stutter (the shipped fixtures' stutter is incidental)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [
        "the the the cat sat sat on the mat",
        "a a b b c c a a",
        "x",
        "no stutter at all here",
        "z z z z z z z z",
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s0"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    d = tmp_path / "sf_synth"
    d.mkdir()
    pq.write_table(pa.Table.from_pandas(pdf), d / "documents.parquet")

    out = {
        r.doc_id: r
        for r in Q["collapse_repeated_tokens"](spark, str(d)).collect()
    }
    for doc_id, text in enumerate(texts):
        toks = [t for t in text.split(" ") if t]
        expect = [t for i, t in enumerate(toks) if i == 0 or t != toks[i - 1]]
        r = out[doc_id]
        assert r.cleaned == " ".join(expect)
        assert r.n_removed == len(toks) - len(expect)
        # no adjacent dup survives
        ct = r.cleaned.split(" ")
        assert all(ct[i] != ct[i - 1] for i in range(1, len(ct)))

    # idempotence: collapse(collapse(x)) == collapse(x)
    pdf2 = pdf.assign(text=[out[i].cleaned for i in range(len(texts))])
    d2 = tmp_path / "sf_synth2"
    d2.mkdir()
    pq.write_table(pa.Table.from_pandas(pdf2), d2 / "documents.parquet")
    out2 = {
        r.doc_id: r
        for r in Q["collapse_repeated_tokens"](spark, str(d2)).collect()
    }
    assert all(out2[i].n_removed == 0 for i in range(len(texts)))
    assert all(out2[i].cleaned == out[i].cleaned for i in range(len(texts)))


def test_r7_batch_semantics(spark, sf_dir):
    """Semantic invariants beyond the oracle hash parity —
    CMS never under-estimates; matryoshka funnel recall is a valid
    fraction over exactly the 10 probes; chunking tiles each doc
    exactly (first chunk at 0, stride 48, last chunk ends at n_toks);
    the first document is 100% novel by construction; bag-fingerprint
    groups partition the corpus."""
    cms = Q["sketch_count_min_heavy_hitters"](spark, sf_dir).collect()
    assert len(cms) == 10
    assert all(r.cms_estimate >= r.true_count for r in cms)
    assert all(r.overestimate == r.cms_estimate - r.true_count for r in cms)

    mat = Q["matryoshka_prefix_rerank"](spark, sf_dir).collect()
    assert sorted(r.q_id for r in mat) == list(range(10))
    assert all(0.0 <= r.recall_at_5 <= 1.0 and 0 <= r.n_overlap <= 5
               for r in mat)

    chunks = Q["doc_chunk_stride"](spark, sf_dir).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    docs = {r.doc_id: len([t for t in r.text.split(" ") if t])
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()}
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_no)
        assert rows[0].start_tok == 0
        assert all(r.start_tok == i * 48 for i, r in enumerate(rows))
        last = rows[-1]
        assert last.start_tok + last.n_chunk_toks == docs[doc_id]
        # no chunk is fully contained in its predecessor: chunk ends
        # strictly increase, i.e. every chunk adds unseen tokens
        ends = [r.start_tok + r.n_chunk_toks for r in rows]
        assert all(b > a for a, b in zip(ends, ends[1:]))

    nov = Q["doc_ngram_novelty"](spark, sf_dir).collect()
    first_doc = min(r.doc_id for r in nov)
    first = next(r for r in nov if r.doc_id == first_doc)
    assert first.novelty_ratio == 1.0 and first.n_novel == first.n_distinct_ngrams

    fp = Q["dedup_token_sort_fingerprint"](spark, sf_dir).collect()
    assert len(fp) == len(docs)
    canon = {r.fingerprint: r.canonical_id for r in fp}
    for r in fp:
        assert r.canonical_id == canon[r.fingerprint] <= r.doc_id
        assert r.is_dup == (r.doc_id != r.canonical_id)


def test_r8_final_batch_semantics(spark, sf_dir):
    """Semantic invariants beyond the oracle hash —
    paragraph dedup conserves blocks, keeps exactly one copy of each
    distinct block corpus-wide, and an untouched doc's kept_md5 equals
    the md5 of its re-tokenized text; the bloom decontaminator has NO
    false negatives (every exact-dropped doc is bloom-dropped) and
    false_drop is exactly the disagreement; the skew audit's bucket
    loads sum to the events row count; the ring audit moves ~1/9 under
    the ring vs ~8/9 under mod-N."""
    pd_rows = Q["paragraph_dedup_ccnet"](spark, sf_dir).collect()
    blk = Q["boilerplate_top_blocks"](spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    toks = {
        r.doc_id: [t for t in r.text.split(" ") if t] for r in docs
    }
    n_blocks_expected = {
        d: (len(t) - 1) // 8 + 1 for d, t in toks.items() if t
    }
    assert {r.doc_id: r.n_blocks for r in pd_rows} == n_blocks_expected
    # total kept == number of DISTINCT blocks in the corpus
    distinct_blocks = {
        " ".join(t[i * 8:i * 8 + 8])
        for t in toks.values() if t
        for i in range((len(t) - 1) // 8 + 1)
    }
    assert sum(r.n_kept for r in pd_rows) == len(distinct_blocks)
    import hashlib
    untouched = [r for r in pd_rows if r.n_kept == r.n_blocks]
    assert untouched, "fixture should contain fully-novel docs"
    r0 = untouched[0]
    assert r0.kept_md5 == hashlib.md5(
        " ".join(toks[r0.doc_id]).encode()
    ).hexdigest()
    # boilerplate: full-width blocks only, counts sorted descending
    assert all(len(r.block.split(" ")) == 8 for r in blk)
    occs = [r.n_occ for r in blk]
    assert occs == sorted(occs, reverse=True) and all(o >= 2 for o in occs)

    bl = Q["decontaminate_bloom_portable"](spark, sf_dir).collect()
    assert all(r.n_bloom >= r.n_exact for r in bl)  # no false negatives
    assert all(
        (not r.exact_dropped) or r.bloom_dropped for r in bl
    )
    assert all(
        r.false_drop == (r.bloom_dropped and not r.exact_dropped)
        for r in bl
    )

    sk = Q["partition_skew_audit"](spark, sf_dir).collect()
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(r.n_rows for r in sk) == n_events
    # is_hot is decided on the UNROUNDED mean (skew_factor is display-
    # rounded), so recompute the exact rule
    assert all(
        r.is_hot == (r.n_rows > 2 * n_events / 32) for r in sk
    )

    ring = {r.scheme: r for r in Q["shard_ring_rebalance_audit"](spark, sf_dir).collect()}
    assert ring["mod"].frac_moved > 0.75       # ~8/9 expected
    assert ring["ring"].frac_moved < 0.25      # ~1/9 expected
    assert ring["mod"].n_docs == ring["ring"].n_docs == len(
        [t for t in toks.values()]
    )


def test_r8_trio_semantics(spark, sf_dir):
    """Invariants beyond the oracle hash — band-shape
    candidate sets are NESTED by construction (a 2x8 band is the
    concatenation of two 4x4 bands, so a 2x8 match implies both 4x4
    matches), hence n_cand/n_hit/recall are monotone in band count;
    containment >= jaccard on every emitted pair and every same-source
    exact Jaccard-dup appears as a containment pair with proper_subset
    False; the log2 histogram partitions the corpus and its cumulative
    share ends at 1."""
    sw = {r.shape: r for r in Q["minhash_band_shape_sweep"](spark, sf_dir).collect()}
    assert set(sw) == {"2x8", "4x4", "8x2"}
    assert sw["2x8"].n_cand <= sw["4x4"].n_cand <= sw["8x2"].n_cand
    assert sw["2x8"].n_hit <= sw["4x4"].n_hit <= sw["8x2"].n_hit
    assert len({r.n_true for r in sw.values()}) == 1

    cont = Q["dedup_containment_superset"](spark, sf_dir).collect()
    assert all(r.containment >= r.jaccard for r in cont)
    assert all(r.n_a <= r.n_b and r.containment >= 0.8 for r in cont)
    cont_pairs = {frozenset((r.a_id, r.b_id)): r for r in cont}
    jd = Q["near_dup_jaccard"](spark, sf_dir).collect()
    for r in jd:
        c = cont_pairs.get(frozenset((r.a_id, r.b_id)))
        assert c is not None, (r.a_id, r.b_id)
        assert not c.proper_subset

    h = sorted(Q["doc_length_log2_histogram"](spark, sf_dir).collect(),
               key=lambda r: r.bin)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from pyspark.sql import functions as SF
    n_nonempty = docs.filter(
        SF.size(SF.expr("filter(split(text, ' '), t -> t <> '')")) >= 1
    ).count()
    assert sum(r.n_docs for r in h) == n_nonempty
    assert abs(h[-1].cum_pct_tokens - 1.0) < 1e-9
    assert all(r.lo_toks == 2 ** r.bin and r.hi_toks == 2 ** (r.bin + 1) - 1
               for r in h)


def test_r8_last_trio_semantics(spark, sf_dir):
    """Probe-sweep candidate sets are nested in n_probe, and every
    truth member present in a candidate set necessarily surfaces in
    the retrieved top-5 (truth = global top-5 under the same total
    order), so n_cand and n_overlap are monotone in probes; mixing
    weights are distributions and the shift column is exactly
    aware - naive; the unigram seed is a valid top-64 by freq x len."""
    sw = Q["ann_ivf_probe_sweep"](spark, sf_dir).collect()
    by_q = {}
    for r in sw:
        by_q.setdefault(r.q_id, {})[r.probes] = r
    assert len(by_q) == 10 and all(set(v) == {1, 2, 4} for v in by_q.values())
    for v in by_q.values():
        assert v[1].n_cand <= v[2].n_cand <= v[4].n_cand
        assert v[1].n_overlap <= v[2].n_overlap <= v[4].n_overlap
        assert all(0 <= r.n_overlap <= 5 for r in v.values())

    mx = Q["mix_dedup_aware_weights"](spark, sf_dir).collect()
    assert abs(sum(r.naive_share for r in mx) - 1.0) < 0.01
    assert abs(sum(r.dedup_aware_weight for r in mx) - 1.0) < 0.01
    for r in mx:
        assert r.n_unique <= r.n_docs and r.dup_rate >= 0
        assert abs(r.weight_shift - (r.dedup_aware_weight - r.naive_share)) < 2e-4

    seed = Q["tokenizer_unigram_seed_vocab"](spark, sf_dir).collect()
    assert len(seed) == 64
    assert all(r.gram_len in (2, 3, 4) and len(r.gram) == r.gram_len
               for r in seed)
    assert all(r.score == r.total_freq * r.gram_len for r in seed)
    scores = [r.score for r in seed]
    assert scores == sorted(scores, reverse=True)


def test_r8_stats_pair_semantics(spark, sf_dir):
    """KS statistic is a valid probability-scale gap recomputable from
    the raw values (checked exactly via numpy ECDF on the quantized
    points); Neyman allocation is a distribution whose budget never
    exceeds K=1000 and which beats proportional allocation exactly on
    the high-variance strata."""
    import math
    r = Q["ks_test_two_sample"](spark, sf_dir).collect()[0]
    assert 0.0 <= r.d_stat <= 1.0
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where("event_type in ('click','view')")
        .select("event_type", "value")
        .collect()
    )
    a = sorted(math.floor(x.value * 1000000.0) for x in rows
               if x.event_type == "click")
    b = sorted(math.floor(x.value * 1000000.0) for x in rows
               if x.event_type == "view")
    assert (r.n_a, r.n_b) == (len(a), len(b))
    import bisect
    pts = sorted(set(a) | set(b))
    dnum = max(
        abs(bisect.bisect_right(a, v) * len(b)
            - bisect.bisect_right(b, v) * len(a))
        for v in pts
    )
    assert r.d_stat == round(dnum / (len(a) * len(b)), 4)

    ney = Q["sample_allocation_neyman"](spark, sf_dir).collect()
    assert abs(sum(x.neyman_share for x in ney) - 1.0) < 0.01
    assert sum(x.k_neyman for x in ney) <= 1000
    assert sum(x.k_proportional for x in ney) <= 1000
    assert all(x.sd >= 0 and x.n_rows > 0 for x in ney)


def test_r8_rank_tests_semantics(spark, sf_dir):
    """Mann-Whitney U and chi-square recomputed independently in pure
    Python from the raw events (midrank algebra vs a literal
    rank-then-sum; chi2 vs a literal contingency recompute) — the same
    guard style as the KS numpy pin."""
    import math
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", "value", "ts")
        .collect()
    )
    a = sorted(math.floor(r.value * 1000000.0) for r in rows
               if r.event_type == "click")
    b = sorted(math.floor(r.value * 1000000.0) for r in rows
               if r.event_type == "view")
    allv = sorted([(v, 0) for v in a] + [(v, 1) for v in b])
    # literal midranks
    ranks = {}
    i = 0
    while i < len(allv):
        j = i
        while j < len(allv) and allv[j][0] == allv[i][0]:
            j += 1
        mid = (i + 1 + j) / 2.0
        ranks.setdefault(allv[i][0], mid)
        i = j
    ra = sum(ranks[v] for v in a)
    u_ref = ra - len(a) * (len(a) + 1) / 2.0
    r_u = Q["mannwhitney_u_test"](spark, sf_dir).collect()[0]
    assert (r_u.n_a, r_u.n_b) == (len(a), len(b))
    assert r_u.u_stat == round(u_ref, 4)

    from collections import Counter
    obs = Counter(
        (r.event_type, (r.ts.weekday())) for r in rows
    )
    n = sum(obs.values())
    rt = Counter(); ct = Counter()
    for (t, d), o in obs.items():
        rt[t] += o; ct[d] += o
    chi2_ref = sum(
        math.floor((o * n - rt[t] * ct[d]) ** 2
                   / (float(n) * rt[t] * ct[d]) * 1000000.0)
        for (t, d), o in obs.items()
    ) / 1000000.0
    r_c = Q["chi2_independence_dow"](spark, sf_dir).collect()[0]
    assert r_c.n_cells == len(obs)
    assert r_c.dof == (len(rt) - 1) * (len(ct) - 1)
    assert r_c.chi2 == round(chi2_ref, 4)


def test_r8_planning_trio_semantics(spark, sf_dir):
    """Join-cardinality: exact pair count recomputed from a literal
    Counter; the estimate's heavy-hitter part makes it exact when
    n_keys <= 20.  SemDeDup: every dropped vector's kept canonical has
    a smaller id, sim >= 0.3, and dropped/kept sets are disjoint.
    Theil-Sen: slope recomputed from a literal pairwise median."""
    from collections import Counter
    import math
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    jc = Q["join_cardinality_estimate"](spark, sf_dir).collect()[0]
    cnts = Counter(r.user_id for r in ev.select("user_id").collect())
    assert jc.n_rows == sum(cnts.values()) and jc.n_keys == len(cnts)
    assert jc.exact_pairs == sum(c * c for c in cnts.values())
    assert jc.rel_err >= 0

    sd = Q["semdedup_centroid_prune"](spark, sf_dir).collect()
    dropped = {r.vec_id for r in sd}
    for r in sd:
        assert r.kept_id < r.vec_id and r.sim >= 0.3 and r.n_similar >= 1
    # if the smallest kept_id were itself dropped, ITS kept_id would be
    # an even smaller kept_id — so the global minimum canonical survives
    assert sd and min(r.kept_id for r in sd) not in dropped

    ts = Q["theil_sen_daily_trend"](spark, sf_dir).collect()[0]
    daily = Counter(r.ts.date() for r in ev.select("ts").collect())
    days = sorted(daily)
    slopes = sorted(
        math.floor((daily[d2] - daily[d1]) * 1000000.0 / (d2 - d1).days)
        for i, d1 in enumerate(days) for d2 in days[i + 1:]
    )
    m = len(slopes)
    mid = {slopes[(m + 1) // 2 - 1], slopes[m // 2]}
    mids = [slopes[(m + 1) // 2 - 1], slopes[m // 2]]
    ref = (sum(set(mids)) / len(set(mids)) if mids[0] == mids[1]
           else sum(mids) / 2.0) / 1000000.0
    assert ts.n_days == len(days) and ts.n_pairs == m
    assert ts.slope_per_day == round(ref, 4)


def test_containment_estimator_semantics(spark, sf_dir):
    """Estimator audit rows align 1:1 with the exact containment op's
    pairs; the estimate is the exact rational m(na+nb)/((16+m)na); and
    on these >=0.8-containment pairs the sketch is informative (mean
    abs_err well under the trivial 0.5-everywhere error)."""
    est = Q["minhash_containment_estimate"](spark, sf_dir).collect()
    exact = Q["dedup_containment_superset"](spark, sf_dir).collect()
    assert {(r.a_id, r.b_id) for r in est} == {
        (r.a_id, r.b_id) for r in exact
    }
    for r in est:
        ref = r.n_match * (r.n_a + r.n_b) / ((16 + r.n_match) * r.n_a)
        assert r.est_containment == round(ref, 4)
        assert r.abs_err == round(abs(ref - r.exact_containment), 4) or \
            abs(r.abs_err - abs(r.est_containment - r.exact_containment)) <= 2e-4
    mae = sum(r.abs_err for r in est) / len(est)
    assert mae < 0.25, mae


def test_cusum_drift_daily_invariants(spark, sf_dir):
    """CUSUM one-sided statistics are non-negative by construction, the
    frame is one row per distinct day, and the closed form must equal
    the textbook recurrence replayed in python."""
    rows = Q["cusum_drift_daily"](spark, sf_dir).orderBy("d").collect()
    from migbq_spark.catalog import load
    from pyspark.sql import functions as F

    days = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .count()
        .orderBy("d")
        .collect()
    )
    assert len(rows) == len(days)
    xs = [r["count"] for r in days]
    n, t = len(xs), sum(xs)
    sp = sn = 0.0
    mu = t / n
    for r, x in zip(rows, xs):
        assert r.cnt == x
        sp = max(0.0, sp + (x - mu))
        sn = max(0.0, sn + (mu - x))
        assert r.cusum_pos >= 0 and r.cusum_neg >= 0
        # output is rounded to 4 decimals -> quantization half-step 5e-5
        assert abs(r.cusum_pos - sp) < 5.1e-5 + 1e-9 * abs(sp), (r.d, sp)
        assert abs(r.cusum_neg - sn) < 5.1e-5 + 1e-9 * abs(sn), (r.d, sn)


def test_kneser_ney_probability_bounds(spark, sf_dir):
    """Every emitted KN probability is a valid probability, is strictly
    positive (the continuation term guarantees mass), and the smoothed
    estimate never exceeds the MLE by more than the continuation mass."""
    rows = Q["ngram_lm_kneser_ney"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.p_kn <= 1.0 + 1e-9, r
        assert 0.0 < r.p_mle <= 1.0 + 1e-9, r


def test_bbit_estimator_tracks_full_width(spark, sf_dir):
    """The 2-bit estimator must track exact Jaccard about as well as the
    full-width estimator on HIGH-similarity pairs (where b-bit theory
    says the penalty is small): mean abs error within 3x of full-width
    + the sketch's own quantization floor."""
    rows = Q["minhash_bbit_estimate"](spark, sf_dir).collect()
    assert rows
    hi = [r for r in rows if r.jac_exact >= 0.5]
    for r in rows:
        assert 0 <= r.m_bbit <= 16 and 0 <= r.m_full <= 16
        assert r.m_bbit >= r.m_full  # equal wide values => equal low bits
    if hi:
        mean_full = sum(r.err_full for r in hi) / len(hi)
        mean_bbit = sum(r.err_bbit for r in hi) / len(hi)
        assert mean_bbit <= 3.0 * mean_full + 0.2, (mean_full, mean_bbit)


def test_pareto_skyline_matches_bruteforce(spark, sf_dir):
    """Every skyline point must be non-dominated against the FULL
    per-doc frame (brute force replay), and every non-dominated doc
    must be in the output — set equality, not just soundness."""
    from migbq_spark.catalog import load
    from pyspark.sql import functions as F

    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    stats = (
        d.select(
            "doc_id",
            F.size(toks).alias("n"),
            F.size(F.array_distinct(toks)).alias("u"),
        )
        .filter(F.col("n") >= 1)
        .collect()
    )
    pts = {r.doc_id: (r.n, (1000000 * r.u) // r.n) for r in stats}

    def dominated(a):
        ca, qa = pts[a]
        return any(
            (cb <= ca and qb >= qa and (cb < ca or qb > qa))
            for b, (cb, qb) in pts.items()
            if b != a
        )

    expect = {a for a in pts if not dominated(a)}
    got = {
        r.doc_id
        for r in Q["pareto_skyline_quality_cost"](spark, sf_dir).collect()
    }
    assert got == expect


def test_curriculum_interleave_properties(spark, sf_dir):
    """pos is a contiguous 1..N permutation; rank caps at 25; rn is
    non-decreasing along the curriculum (round-robin by rank); within a
    source the quality ordering is respected."""
    rows = (
        Q["curriculum_interleave_order"](spark, sf_dir)
        .orderBy("pos")
        .collect()
    )
    assert [r.pos for r in rows] == list(range(1, len(rows) + 1))
    assert all(1 <= r.rn <= 25 for r in rows)
    assert all(a.rn <= b.rn for a, b in zip(rows, rows[1:]))
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src_rows in by_src.values():
        qs = [r.uniq_ppm for r in src_rows]  # already rank-ordered
        assert qs == sorted(qs, reverse=True), qs[:5]


def test_token_budget_epoch_plan_conserves_budget(spark, sf_dir):
    """Target shares sum to 1, epochs reproduce B*w/tokens for B = 4x
    corpus, and the oversampled flag agrees with the rounded epochs."""
    rows = Q["token_budget_epoch_plan"](spark, sf_dir).collect()
    assert rows
    total = sum(r.n_tokens for r in rows)
    z = sum(r.n_tokens**0.5 for r in rows)
    assert abs(sum(r.share_target for r in rows) - 1.0) < 1e-3
    for r in rows:
        w = r.n_tokens**0.5 / z
        ref = w * 4.0 * total / r.n_tokens
        assert abs(r.epochs - ref) < 5.1e-5 + 1e-9 * ref, (r.source, ref)
        assert r.oversampled == (r.epochs > 1.0)


def test_snm_candidate_budget_and_verification(spark, sf_dir):
    """SNM's defining property: every emitted pair really is jaccard
    >= 0.5 (exact replay on the token sets), pairs are distinct, and
    the candidate set respects the hard 4n budget."""
    from migbq_spark.catalog import load
    from pyspark.sql import functions as F

    rows = Q["dedup_sorted_neighborhood"](spark, sf_dir).collect()
    assert rows
    n_docs = load(spark, sf_dir, "documents").count()
    assert len(rows) <= 4 * n_docs
    assert len({(r.a_id, r.b_id) for r in rows}) == len(rows)
    toks = {
        r.doc_id: set(r.text.split()) - {""}
        for r in load(spark, sf_dir, "documents").collect()
    }
    for r in rows[:200]:
        a, b = toks[r.a_id], toks[r.b_id]
        shared = len(a & b)
        assert shared == r.shared and len(a) == r.n_a and len(b) == r.n_b
        assert 2 * shared >= len(a | b)
        assert r.jaccard >= 0.3333  # 0.5 threshold rounds no lower


def test_knn_graph_properties(spark, sf_dir):
    """Every node emits <= 3 edges ranked by descending integer dot;
    the mutual flag is exactly 'reverse edge exists in the edge set'."""
    rows = Q["knn_graph_rp_portable"](spark, sf_dir).collect()
    assert rows
    edges = {(r.q_id, r.n_id) for r in rows}
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    for q, es in by_q.items():
        assert len(es) <= 3
        es.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in es] == list(range(1, len(es) + 1))
        sims = [r.sim_scaled for r in es]
        assert sims == sorted(sims, reverse=True)
    for r in rows:
        assert r.mutual == ((r.n_id, r.q_id) in edges), (r.q_id, r.n_id)


def test_bm25_beats_stopwords(spark, sf_dir):
    """BM25's saturation + length norm must rank source-distinct
    content terms, and scores must be positive and rank-consistent."""
    rows = Q["bm25_top_terms_source"](spark, sf_dir).collect()
    assert rows
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src_rows in by_src.values():
        src_rows.sort(key=lambda r: r.rn)
        assert [r.rn for r in src_rows] == list(range(1, len(src_rows) + 1))
        scores = [r.bm25 for r in src_rows]
        assert all(s > 0 for s in scores)
        assert scores == sorted(scores, reverse=True)


def test_kaplan_meier_replays_textbook_estimator(spark, sf_dir):
    """Replay the KM product-limit estimator in python over the
    per-user lifetimes and match every emitted row."""
    from migbq_spark.catalog import load
    from pyspark.sql import functions as F

    u = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.to_date("ts")).alias("f"),
            F.max(F.to_date("ts")).alias("l"),
        )
        .collect()
    )
    max_d = max(r.l for r in u)
    lts = [((r.l - r.f).days, r.l == max_d) for r in u]
    times = sorted({t for t, _ in lts})
    s, out = 1.0, {}
    for t in times:
        n_risk = sum(1 for x, _ in lts if x >= t)
        d = sum(1 for x, c in lts if x == t and not c)
        if d >= 1:
            s *= 1.0 - d / n_risk
            out[t] = (n_risk, d, s)
    rows = Q["kaplan_meier_retention"](spark, sf_dir).collect()
    assert {r.t_days for r in rows} == set(out)
    for r in rows:
        n_risk, d, s = out[r.t_days]
        assert (r.n_risk, r.n_deaths) == (n_risk, d)
        assert abs(r.survival - s) < 5.1e-5
        assert 0.0 <= r.survival <= 1.0


def test_ewma_exact_integer_weights(spark, sf_dir):
    """The unrolled EWMA must equal the adjusted closed form replayed
    in exact python rationals (integer weights 3^k 4^(15-k))."""
    from fractions import Fraction

    rows = Q["ewma_daily_volume"](spark, sf_dir).orderBy("d").collect()
    assert len(rows) >= 16
    xs = [r.cnt for r in rows]
    for i, r in enumerate(rows):
        num = den = 0
        for k in range(16):
            if i - k < 0:
                break
            wgt = 3**k * 4 ** (15 - k)
            num += xs[i - k] * wgt
            den += wgt
        ref = Fraction(num, den)
        assert abs(r.ewma_16d - float(ref)) < 5.1e-5, (r.d, float(ref))
        assert r.ewma_16d > 0


def test_pagerank_mass_conservation_and_ordering(spark, sf_dir):
    """Both iterations approximately conserve probability mass (up to
    the 1e-12 quantization floor x N), every rank is positive, and the
    rnk column orders by pr_iter2 descending."""
    rows = Q["pagerank_event_graph"](spark, sf_dir).collect()
    assert rows
    n = len(rows)
    for it in ("pr_iter1", "pr_iter2"):
        mass = sum(getattr(r, it) for r in rows)
        assert abs(mass - 1.0) < 1e-3, (it, mass)
        assert all(getattr(r, it) >= 0.15 / n / 2 for r in rows)
    ordered = sorted(rows, key=lambda r: (-r.pr_iter2, r.event_type))
    assert [r.rnk for r in ordered] == list(range(1, n + 1))


def test_dq_expectation_suite_all_pass_on_clean_fixture(spark, sf_dir):
    """The shipped fixture is referentially clean — every expectation
    must pass with 0 violations and a full checked count."""
    rows = {r.check_name: r for r in Q["dq_expectation_suite"](spark, sf_dir).collect()}
    assert len(rows) == 7
    for r in rows.values():
        assert r.passed and r.n_violations == 0, r
        assert r.n_checked > 0


def test_weighted_median_matches_bruteforce(spark, sf_dir):
    """Replay the lower weighted median in python per return flag."""
    from migbq_spark.catalog import load
    from pyspark.sql import functions as F

    li = (
        load(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag",
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("pc"),
            F.col("l_quantity").cast("bigint").alias("w"),
        )
        .collect()
    )
    by_k: dict[str, list] = {}
    for r in li:
        by_k.setdefault(r.l_returnflag, []).append((r.pc, r.w))
    out = {r.l_returnflag: r for r in Q["weighted_median_per_key"](spark, sf_dir).collect()}
    assert set(out) == set(by_k)
    for k, vals in by_k.items():
        vals.sort()
        tw = sum(w for _, w in vals)
        cw = 0
        for pc, w in vals:
            cw += w
            if 2 * cw >= tw:
                break
        assert out[k].total_weight == tw
        assert abs(out[k].weighted_median_price - pc / 100.0) < 1e-9


def test_share_of_parent_sums_to_one(spark, sf_dir):
    """Within each region the nation shares sum to 1; region shares of
    total sum to 1 (counted once per region)."""
    rows = Q["share_of_parent_rollup"](spark, sf_dir).collect()
    assert rows
    by_region: dict[str, list] = {}
    for r in rows:
        by_region.setdefault(r.region, []).append(r)
    region_share = {}
    for region, rs in by_region.items():
        assert abs(sum(x.share_of_region for x in rs) - 1.0) < 1e-4
        shares = {x.region_share_of_total for x in rs}
        assert len(shares) == 1  # constant within the region
        region_share[region] = shares.pop()
    assert abs(sum(region_share.values()) - 1.0) < 1e-4


def test_backlog_sweep_line_invariants(spark, sf_dir):
    """Backlog equals opened-minus-closed replayed cumulatively, never
    goes negative on the clean fixture, and ends at the count of
    orders with no shipped-last-line date beyond the horizon."""
    rows = (
        Q["open_orders_backlog_daily"](spark, sf_dir).orderBy("d").collect()
    )
    assert rows
    run = 0
    for r in rows:
        run += r.n_opened - r.n_closed
        assert r.backlog == run, (r.d, run)
        assert r.backlog >= 0
    total_opened = sum(r.n_opened for r in rows)
    total_closed = sum(r.n_closed for r in rows)
    assert rows[-1].backlog == total_opened - total_closed


def test_rake_scores_replay(spark, sf_dir):
    """Replay RAKE end-to-end in python on the raw text and match the
    emitted top-5 phrases and scores per source."""
    from migbq_spark.catalog import load
    from migbq_spark.operators.training import _RAKE_STOPS

    docs = load(spark, sf_dir, "documents").collect()
    phrases = {}
    for doc in docs:
        words = [w for w in doc.text.split(" ") if w != ""]
        pid = 0
        for w in words:
            if w in _RAKE_STOPS:
                pid += 1
            else:
                phrases.setdefault((doc.doc_id, pid, doc.source), []).append(w)
    freq, degree = {}, {}
    for (d_id, pid, src), ws in phrases.items():
        for w in ws:
            freq[w] = freq.get(w, 0) + 1
            degree[w] = degree.get(w, 0) + len(ws)
    import math
    sq = {w: math.floor(degree[w] * 1e8 / freq[w]) for w in freq}
    best: dict[str, dict[str, tuple]] = {}
    for (d_id, pid, src), ws in phrases.items():
        if len(ws) < 2:
            continue
        phrase = " ".join(ws)
        score = sum(sq[w] for w in ws)
        n, s, _ = best.setdefault(src, {}).get(phrase, (0, score, len(ws)))
        best[src][phrase] = (n + 1, score, len(ws))
    rows = Q["keyphrase_rake_top"](spark, sf_dir).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        expect = sorted(
            best[src].items(), key=lambda kv: (-kv[1][1], kv[0])
        )[: len(rs)]
        rs.sort(key=lambda r: r.rn)
        for r, (phrase, (n, score, ln)) in zip(rs, expect):
            assert r.phrase == phrase, (src, r.phrase, phrase)
            assert r.n_occur == n and r.plen == ln
            # output is ROUND(.,4): half-step quantization tolerance
            assert abs(r.rake_score - score / 1e8) < 5.1e-5


def test_fulfillment_sla_counts(spark, sf_dir):
    """Monotone containment (30d count <= 90d count <= orders) and the
    rate is exactly the 30d ratio."""
    rows = Q["orders_fulfillment_sla"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_within_30d <= r.n_within_90d <= r.n_orders
        assert r.sla_30d_rate == round(r.n_within_30d / r.n_orders, 4)
        # the synthetic fixture contains ship dates before the order
        # date, so lead days may be negative — no sign assertion


def test_bootstrap_ci_brackets_point(spark, sf_dir):
    """The CI must bracket the point estimate (32 resamples around the
    mean), be ordered, and be plausibly tight (within 50% of point)."""
    r = Q["bootstrap_ci_event_value"](spark, sf_dir).collect()
    assert len(r) == 1
    r = r[0]
    assert r.n_resamples == 32
    assert r.ci_lo <= r.ci_hi
    assert r.ci_lo <= r.point_mean <= r.ci_hi
    assert abs(r.ci_hi - r.ci_lo) < 0.5 * abs(r.point_mean) + 1.0


def test_session_timeout_sweep_monotone(spark, sf_dir):
    """More timeout => fewer sessions (monotone), bounded between
    |users| and |events|; events_per_session is the exact ratio."""
    from migbq_spark.catalog import load
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    n_events = ev.count()
    rows = sorted(
        Q["session_timeout_sweep"](spark, sf_dir).collect(),
        key=lambda r: r.timeout_s,
    )
    assert [r.timeout_s for r in rows] == [300, 1800, 7200, 21600]
    prev = None
    for r in rows:
        assert n_users <= r.n_sessions <= n_events
        assert r.events_per_session == round(n_events / r.n_sessions, 4)
        if prev is not None:
            assert r.n_sessions <= prev
        prev = r.n_sessions


def test_srm_check_replays_assignment(spark, sf_dir):
    """Replay the md5 assignment in python: per-variant counts match,
    shares sum to 1, and the chi-square agrees with the formula."""
    import hashlib

    from migbq_spark.catalog import load

    users = {
        r.user_id
        for r in load(spark, sf_dir, "events").select("user_id").distinct().collect()
    }
    counts = {0: 0, 1: 0}
    for u in users:
        h = int(hashlib.md5(f"exp1:{u}".encode()).hexdigest()[:8], 16)
        counts[h % 2] += 1
    n = len(users)
    chi2 = sum((c - n / 2.0) ** 2 / (n / 2.0) for c in counts.values())
    rows = {r.variant: r for r in Q["ab_assignment_srm_check"](spark, sf_dir).collect()}
    assert {v: rows[v].n_users for v in rows} == counts
    for r in rows.values():
        assert abs(r.srm_chi2 - chi2) < 5.1e-5
        assert r.srm_flag == (chi2 > 3.841)


def test_variant_extract_matches_string_path(spark, sf_dir):
    """The VARIANT path must agree with the legacy string
    get_json_object path on every aggregate."""
    from migbq_spark.catalog import load
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events")
    legacy = (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("s"))
        .collect()
    )
    got = {r.event_type: r for r in Q["props_variant_extract"](spark, sf_dir).collect()}
    assert len(got) == len(legacy)
    for r in legacy:
        g = got[r.event_type]
        assert g.n == r.n
        assert g.k_avg == round(r.s / r.n, 4)


def test_pipe_syntax_equals_dataframe_q6(spark, sf_dir):
    """The pipe-SQL Q6 must equal the equivalent DataFrame chain."""
    from migbq_spark.catalog import load
    from migbq_spark.common import dec
    from pyspark.sql import functions as F

    li = load(spark, sf_dir, "lineitem")
    ref = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                (dec("l_extendedprice") * dec("l_discount")).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .collect()[0]
    )
    got = Q["tpch_q6_pipe_syntax"](spark, sf_dir).collect()[0]
    assert got.n_lines == ref.n_lines
    assert abs(got.revenue - ref.revenue) < 1e-6


def test_q14_promo_pct_bounds(spark, sf_dir):
    """The promo share is a valid percentage and the month filter
    bounds the line count below the full table."""
    from migbq_spark.catalog import load

    got = Q["tpch_q14_promo_effect"](spark, sf_dir).collect()[0]
    assert 0.0 <= got.promo_revenue_pct <= 100.0
    assert 0 < got.n_lines < load(spark, sf_dir, "lineitem").count()


def test_burst_dp_replays_viterbi_forward(spark, sf_dir):
    """Replay the two-state forward DP in exact python ints and match
    every emitted cost and flag."""
    import math

    from migbq_spark.catalog import load
    from pyspark.sql import functions as F

    days = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .count()
        .orderBy("d")
        .collect()
    )
    xs = [r["count"] for r in days]
    n, total = len(xs), sum(xs)
    lam0 = total * 1.0 / n
    lam1 = 2.0 * total / n
    tu = math.floor(math.log(n * 1.0) * 1e6)
    e0 = [math.floor((lam0 - x * math.log(lam0)) * 1e6) for x in xs]
    e1 = [math.floor((lam1 - x * math.log(lam1)) * 1e6) for x in xs]
    c0, c1 = e0[0], e1[0] + tu
    expect = [(c0, c1)]
    for t in range(1, n):
        c0, c1 = e0[t] + min(c0, c1), e1[t] + min(c0 + tu, c1)
        expect.append((c0, c1))
    rows = (
        Q["burst_detection_twostate"](spark, sf_dir).orderBy("d").collect()
    )
    assert len(rows) == n
    for r, (c0_, c1_) in zip(rows, expect):
        assert r.cost_base == round(c0_ / 1e6, 4), (r.d, c0_)
        assert r.cost_burst == round(c1_ / 1e6, 4), (r.d, c1_)
        assert r.in_burst == (c1_ < c0_)


def test_skip_bigram_pmi_properties(spark, sf_dir):
    """Support floor respected, ranks contiguous and ordered by the
    rounded PMI, and every pair is a genuine distance-2 pair in some
    doc (spot-check the top pair)."""
    rows = sorted(
        Q["pmi_skip_bigrams"](spark, sf_dir).collect(), key=lambda r: r.rn
    )
    assert rows and len(rows) <= 20
    assert [r.rn for r in rows] == list(range(1, len(rows) + 1))
    assert all(r.n_pair >= 5 for r in rows)
    pmis = [r.pmi for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    from migbq_spark.catalog import load

    top = rows[0]
    found = False
    for doc in load(spark, sf_dir, "documents").collect():
        ws = [w for w in doc.text.split(" ") if w]
        for i in range(2, len(ws)):
            if ws[i - 2] == top.w1 and ws[i] == top.w2:
                found = True
                break
        if found:
            break
    assert found, (top.w1, top.w2)


def test_orc_roundtrip_matches_parquet_source(spark, sf_dir):
    """The ORC read-back checksum must equal the same rollup computed
    directly on the parquet source (write->read loses nothing)."""
    from migbq_spark.catalog import load
    from pyspark.sql import functions as F

    direct = {
        r.n_regionkey: (r.n_nations, r.key_sum, r.names_md5)
        for r in load(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("n_nationkey").cast("bigint").alias("key_sum"),
            F.md5(
                F.array_join(F.array_sort(F.collect_list("n_name")), "|")
            ).alias("names_md5"),
        )
        .collect()
    }
    got = {
        r.n_regionkey: (r.n_nations, r.key_sum, r.names_md5)
        for r in Q["orc_sink_roundtrip"](spark, sf_dir).collect()
    }
    assert got == direct


def test_quantile_normalization_aligns_sources(spark, sf_dir):
    """After normalization every source's per-decile mean must be
    (near-)identical — that IS the definition of the transform; raw
    means meanwhile differ source-to-source only by sampling noise.
    Also: decile rollup covers 10 deciles per source, counts sum to
    the source sizes."""
    from migbq_spark.catalog import load

    rows = Q["quantile_normalize_by_type"](spark, sf_dir).collect()
    by_decile: dict[int, list] = {}
    by_src: dict[str, int] = {}
    for r in rows:
        by_decile.setdefault(r.decile, []).append(r.norm_mean)
        by_src[r.src] = by_src.get(r.src, 0) + r.n
    assert set(by_decile) == set(range(1, 11))
    for d, means in by_decile.items():
        lo, hi = min(means), max(means)
        # aligned distributions: per-decile means agree across sources
        # to well under the decile's own width
        assert hi - lo <= max(0.05 * abs(hi), 1.0), (d, means)
    totals = {
        r.event_type: r.n
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert by_src == totals


def test_arrow_udf_kernels_propagate_null(spark, tmp_path, sf_dir):
    """NULL inputs must yield NULL outputs from both
    Arrow-path kernels — the SQL oracles propagate NULL, so a ''
    fallback (0 counts) or a TypeError on None would be a latent
    parity divergence the non-null fixtures never exercise.  Pin it
    by running each op over a COPY of its input table with a NULL row
    appended."""
    import pyspark.sql.functions as F

    from migbq_spark import registry

    Q = registry.queries()

    # documents with one NULL-text row -> mapinarrow_batch_audit
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    null_row = docs.limit(1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        *[
            F.lit(None).cast(dict(docs.dtypes)[c]).alias(c)
            for c in docs.columns
            if c != "doc_id"
        ],
    )
    docs_dir = tmp_path / "docs_null"
    docs.unionByName(null_row).write.parquet(str(docs_dir / "documents.parquet"))
    out = Q["mapinarrow_batch_audit"](spark, str(docs_dir))
    nulls = out.filter(F.col("doc_id") == 1_000_000).collect()
    assert len(nulls) == 1
    assert all(
        nulls[0][c] is None
        for c in ("n_letters", "n_digits", "n_spaces", "n_other")
    )

    # orders with one NULL-totalprice row -> udf_arrow_scalar
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(20)
    null_o = orders.limit(1).select(
        (F.col("o_orderkey") + 1_000_000).alias("o_orderkey"),
        *[
            F.lit(None).cast(dict(orders.dtypes)[c]).alias(c)
            for c in orders.columns
            if c != "o_orderkey"
        ],
    )
    orders_dir = tmp_path / "orders_null"
    orders.unionByName(null_o).write.parquet(
        str(orders_dir / "orders.parquet")
    )
    out = Q["udf_arrow_scalar"](spark, str(orders_dir))
    row = out.filter(F.col("o_orderkey") == 1_000_000).collect()
    assert len(row) == 1 and row[0]["price_mod"] is None


def test_python_function_ops_raise_no_type_hint_warning(spark, sf_dir):
    """The grouped-map kernels of `semdedup_centroid_prune` and
    `near_dup_jaccard` and the `udf_python_scalar` UDF carry no type
    hints PySpark cannot read, so building these ops raises no "Cannot
    infer the eval type" warning."""
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        Q["semdedup_centroid_prune"](spark, sf_dir)
        Q["near_dup_jaccard"](spark, sf_dir)
        Q["udf_python_scalar"](spark, sf_dir)
    assert not [w for w in caught if "Cannot infer the eval type" in str(w.message)]
