"""Unit tests: band-expression validation/sandboxing, pixel kernels,
dedup internals (LSH vs exact recall), similarity recall, multimodal
plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bdc_collection_builder_spark.functions.expression import (
    BandExpressionError,
    compile_band_expression,
    validate_expression,
)


BANDS = {"B02", "B04", "B08"}


def test_expression_validation_accepts_reference_indexes():
    # The two derived-band expressions shipped in the reference example
    # collection (sentinel-2-l2a.json; index_generator.py:75-77).
    validate_expression("10000. * ((B08 - B04) / (B08 + B04))", BANDS)
    validate_expression(
        "10000. * 2.5 * (B08 - B04) / (B08 + 6. * B04 - 7.5 * B02 + 10000.)",
        BANDS)


@pytest.mark.parametrize("bad", [
    "__import__('os').system('rm -rf /')",     # the interpreter.py:35 gap
    "B08.__class__",
    "open('/etc/passwd')",
    "B99 + B04",                                # unknown band
    "lambda: 1",
    "[x for x in B04]",
])
def test_expression_validation_rejects(bad):
    with pytest.raises(BandExpressionError):
        validate_expression(bad, BANDS)


def test_compiled_expression_clamps_and_fills(spark):
    df = spark.createDataFrame(
        [(200.0, 100.0), (None, 100.0), (0.0, 0.0)], "B08 double, B04 double")
    col = compile_band_expression(
        "NDVI = (B08 - B04) / (B08 + B04)", {"B04", "B08"},
        dtype="int16", nodata=-9999.0, scale=30000.0)
    vals = [r[0] for r in df.select(col).collect()]
    assert vals[0] == 10000.0                     # clamped 30000*(1/3) -> 10000? no: (200-100)/(200+100)=1/3*30000=10000
    assert vals[1] == -9999.0                     # null -> nodata
    assert vals[2] == -9999.0                     # 0/0 -> null -> nodata


def test_lsh_recall_vs_exact(spark, sf_dir):
    from bdc_collection_builder_spark.extensions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    corpus, _ = _dedup_corpus(spark, sf_dir)
    exact = {(r.doc_a, r.doc_b) for r in
             ngram_jaccard_pairs(corpus, threshold=0.5).collect()}
    lsh = {(r.doc_a, r.doc_b) for r in
           minhash_lsh_pairs(corpus, threshold=0.5).collect()}
    assert lsh <= exact, "LSH must not produce false positives (verified)"
    assert len(lsh) >= 0.9 * len(exact), "recall >= 90% on near-exact dups"


@pytest.mark.slow  # >8s e2e pin: round-close gate (--runslow)
def test_polygon_intersects_exact_cases(spark):
    """Hand-built truth table for the X17 exact predicate: edge
    crossing, containment both ways, envelope-overlap-but-disjoint
    (the false positive the bbox approximation cannot reject), and
    fully disjoint."""
    from bdc_collection_builder_spark.functions.geometry import (
        envelopes_overlap,
        point_in_polygon,
        polygon_intersects,
    )

    def ring(*pts):
        return F.array(*[F.struct(F.lit(float(x)).alias("x"),
                                  F.lit(float(y)).alias("y"))
                         for x, y in pts])

    # concave L-shape occupying the left+bottom of a 4x4 square
    lshape = ring((0, 0), (4, 0), (4, 1), (1, 1), (1, 4), (0, 4))
    cases = [
        # (polygon, expected_env, expected_intersects)
        (ring((2, 2), (3, 2), (3, 3), (2, 3)), True, False),   # in the notch
        (ring((0.2, 0.2), (0.8, 0.2), (0.5, 0.8)), True, True),  # contained
        (ring((-1, -1), (9, -1), (9, 9), (-1, 9)), True, True),  # contains
        (ring((3, 0.5), (5, 0.5), (5, 2), (3, 2)), True, True),  # edge cross
        (ring((10, 10), (11, 10), (11, 11)), False, False),      # disjoint
    ]
    df = spark.createDataFrame([(i,) for i in range(len(cases))], "i int")
    for i, (poly, exp_env, exp_ix) in enumerate(cases):
        row = df.filter(F.col("i") == i).select(
            envelopes_overlap(poly, lshape).alias("env"),
            polygon_intersects(poly, lshape).alias("ix"),
        ).collect()[0]
        assert row.env == exp_env, f"case {i} envelope"
        assert row.ix == exp_ix, f"case {i} exact"
    # ray-casting sanity on the concave region
    pip = df.limit(1).select(
        point_in_polygon(
            F.struct(F.lit(0.5).alias("x"), F.lit(0.5).alias("y")),
            lshape).alias("inside"),
        point_in_polygon(
            F.struct(F.lit(2.5).alias("x"), F.lit(2.5).alias("y")),
            lshape).alias("notch"),
    ).collect()[0]
    assert pip.inside and not pip.notch


def _dedup_corpus(spark, sf_dir):
    """The fixture the dd_* queries use (every-5th doc plus near-dup
    copies of every-20th, suffix-perturbed, shifted ids) and the ids
    of the planted copies' seed documents."""
    from bdc_collection_builder_spark.plans.extensions import _aug_corpus

    corpus = _aug_corpus(spark, sf_dir)
    return corpus, {r.doc_id - 1000000 for r in
                    corpus.filter(F.col("doc_id") >= 1000000).collect()}


def test_minhash_production_path_pinned_to_md5_twin(spark, sf_dir):
    """The rows-only xxhash64 production path must emit the SAME
    verified pairs (and exact-Jaccard scores) as the oracle-green
    md5-60bit twin — pinning it transitively to the DuckDB oracle."""
    from bdc_collection_builder_spark.extensions.dedup import minhash_lsh_pairs

    corpus, planted = _dedup_corpus(spark, sf_dir)
    md5 = {(r.doc_a, r.doc_b): r.jaccard for r in
           minhash_lsh_pairs(corpus, threshold=0.5,
                             engine_neutral=True).collect()}
    prod = {(r.doc_a, r.doc_b): r.jaccard for r in
            minhash_lsh_pairs(corpus, threshold=0.5).collect()}
    assert set(prod) == set(md5), "verified pairs differ across hash families"
    assert prod == md5, "exact-Jaccard verification scores differ"
    # candidate generation (whatever the family) must retain every
    # planted near-dup: verified output is a subset of candidates, so
    # planted ⊆ verified ⇒ planted ⊆ candidates on both paths
    planted_pairs = {(d, d + 1000000) for d in planted}
    assert planted_pairs <= set(prod)


def test_simhash_bucketing_is_exact_per_hash_family(spark, sf_dir):
    """md5-60bit and xxhash64-64bit signatures legitimately disagree on
    borderline pairs, so the pinning is per family: quarter-bucketed
    candidate generation must reproduce EXACTLY the brute-force
    Hamming-≤r pair set over the same signatures (the pigeonhole
    guarantee: ≤3 differing bits ⇒ ≥1 of 4 quarters agrees)."""
    from bdc_collection_builder_spark.extensions.dedup import (
        simhash_near_pairs,
        simhash_signatures,
    )

    corpus, _ = _dedup_corpus(spark, sf_dir)

    def exact_pairs(bits, base_hash):
        sig = simhash_signatures(corpus, "text", "doc_id", bits, base_hash)
        a = sig.select(F.col("doc_id").alias("doc_a"),
                       F.col("simhash").alias("sig_a"))
        b = sig.select(F.col("doc_id").alias("doc_b"),
                       F.col("simhash").alias("sig_b"))
        ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        # test-only brute force (125 docs) — the reference answer the
        # bucketed production plan must match
        return {(r.doc_a, r.doc_b) for r in
                a.join(b, F.col("doc_a") < F.col("doc_b"))
                .select("doc_a", "doc_b", ham.alias("h"))
                .filter(F.col("h") <= 3).collect()}

    prod = simhash_near_pairs(corpus, radius=3)
    md5 = simhash_near_pairs(corpus, radius=3, engine_neutral=True)
    assert {(r.doc_a, r.doc_b) for r in prod.collect()} == \
        exact_pairs(64, "xxhash64")
    assert {(r.doc_a, r.doc_b) for r in md5.collect()} == \
        exact_pairs(60, "md5")
    assert all(r.hamming <= 3 for r in prod.collect() + md5.collect())


@pytest.mark.slow  # >8s e2e pin: round-close gate (--runslow)
def test_embedding_lsh_pairs_match_brute_force(spark, sf_dir):
    """The registered LSH-bucketed near-pair query must reproduce the
    brute-force twin exactly on the planted-dup corpus (parallel
    vectors collide in every hyperplane table, so recall is exact)."""
    from bdc_collection_builder_spark.extensions.dedup import (
        embedding_near_pairs,
        embedding_near_pairs_lsh,
    )
    from bdc_collection_builder_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scaled = (
        emb.filter(F.col("vec_id") % 25 == 0)
        .select((F.col("vec_id") + 1000000).alias("vec_id"),
                F.transform("embedding",
                            lambda x: (x * 1.01).cast("float"))
                .alias("embedding")))
    corpus = emb.unionByName(scaled)
    brute = {(r.id_a, r.id_b): r.cosine for r in
             embedding_near_pairs(corpus, threshold=0.95,
                                  left_stride=4).collect()}
    lsh = {(r.id_a, r.id_b): r.cosine for r in
           embedding_near_pairs_lsh(corpus, threshold=0.95,
                                    left_stride=4).collect()}
    assert lsh == brute
    assert len(brute) > 0, "fixture must plant at least one near-dup pair"


def test_ann_lsh_recall(spark, sf_dir):
    from bdc_collection_builder_spark.extensions.similarity import (
        brute_force_topk,
        lsh_topk,
    )
    from bdc_collection_builder_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = lsh_topk(emb, queries, k=5).collect()
    exact_top1 = {r.query_id: r.vec_id for r in exact if r.rank == 1}
    approx_hits = {(r.query_id, r.vec_id) for r in approx}
    top1_recall = sum(
        1 for q, v in exact_top1.items() if (q, v) in approx_hits
    ) / len(exact_top1)
    assert top1_recall >= 0.5, f"ANN top-1 recall too low: {top1_recall}"


def test_pq_ann_recall(spark, sf_dir):
    """PQ/ADC top-k must recover a reasonable share of the exact top-k
    (8 subspaces × 16 codewords on random 64-dim data is a coarse
    code, so the bar is recall of the shortlist+re-rank pipeline, not
    the code alone)."""
    from bdc_collection_builder_spark.extensions.similarity import (
        brute_force_topk,
        pq_topk_seeded,
    )
    from bdc_collection_builder_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = pq_topk_seeded(emb, queries, k=5).collect()
    exact_top1 = {r.query_id: r.vec_id for r in exact if r.rank == 1}
    approx_hits = {(r.query_id, r.vec_id) for r in approx}
    top1_recall = sum(
        1 for qid, v in exact_top1.items() if (qid, v) in approx_hits
    ) / len(exact_top1)
    assert top1_recall >= 0.5, f"PQ top-1 recall too low: {top1_recall}"


@pytest.mark.slow  # >8s e2e pin: round-close gate (--runslow)
def test_star_cc_matches_propagation(spark, sf_dir):
    """Star-contraction connected components must produce exactly the
    same (node → component-min) labeling as min-label propagation —
    including on a deep chain, where propagation needs diameter rounds
    but star contraction stays O(log n)."""
    import random

    from bdc_collection_builder_spark.extensions.dedup import (
        connected_components,
        connected_components_star,
    )

    def labels(df):
        return {(r.doc_id, r.component_id) for r in df.collect()}

    # deep chain 0-1-2-...-60 plus a few random components
    rng = random.Random(11)
    edges = [(i, i + 1) for i in range(60)]
    edges += [(100 + rng.randrange(40), 100 + rng.randrange(40))
              for _ in range(50)]
    edges = [(a, b) for a, b in edges if a != b]
    edf = spark.createDataFrame(edges, "doc_a long, doc_b long")
    # star contraction must converge well under the chain's diameter
    got = labels(connected_components_star(edf, max_iter=8))
    want = labels(connected_components(edf, max_iter=80))
    assert got == want
    # and on the real near-dup pair graph
    from bdc_collection_builder_spark.extensions.dedup import (
        minhash_lsh_pairs,
    )

    corpus, _ = _dedup_corpus(spark, sf_dir)
    pairs = minhash_lsh_pairs(corpus, threshold=0.5)
    assert labels(connected_components_star(pairs)) == \
        labels(connected_components(pairs))


def test_star_cc_stops_at_star_forest(spark, monkeypatch):
    """Star contraction labels every node with its component minimum
    (checked against a Python union-find) and stops at the first state
    that is a star forest: every node with a smaller neighbor has
    exactly one neighbor. The deep 0-60 chain converges within 8
    rounds."""
    import random

    from bdc_collection_builder_spark.extensions import dedup
    from bdc_collection_builder_spark.functions import iterate as it

    finals = []

    def spy(*args, **kwargs):
        finals.append(it.iterate(*args, **kwargs))
        return finals[-1]

    monkeypatch.setattr(dedup, "iterate", spy)

    def component_mins(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        return {(x, find(x)) for x in parent}

    def is_star_forest(state):
        nbrs = {}
        for r in state.collect():
            nbrs.setdefault(r.u, []).append(r.v)
        return all(len(vs) == 1 for u, vs in nbrs.items() if min(vs) < u)

    rng = random.Random(7)
    graphs = [([(i, i + 1) for i in range(60)], 8)]
    for _ in range(20):
        n = rng.randint(2, 12)
        graphs.append(([(rng.randrange(n), rng.randrange(n))
                        for _ in range(rng.randint(1, 15))], 20))
    for edges, max_iter in graphs:
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        edf = spark.createDataFrame(edges, "doc_a long, doc_b long")
        it.reset()
        got = {(r.doc_id, r.component_id) for r in
               dedup.connected_components_star(edf, max_iter=max_iter)
               .collect()}
        assert got == component_mins(edges)
        assert it.taken() < max_iter, "stopped by the cap, not the test"
        assert is_star_forest(finals[-1])


def test_multimodal_decode_plumbing(spark):
    from bdc_collection_builder_spark.extensions.multimodal import (
        decode_image_features,
        frame_sample_plan,
        synthetic_media,
    )

    media = synthetic_media(spark, n=30)
    feats = decode_image_features(media).collect()
    assert len(feats) == 30
    assert all(len(r.feature) == 8 for r in feats)
    assert all(r.sha256 is not None and r.n_bytes > 0 for r in feats)
    # determinism across runs (stub codec)
    again = decode_image_features(media).collect()
    assert {r.media_id: r.sha256 for r in feats} == \
        {r.media_id: r.sha256 for r in again}
    # real codec is an explicit seam, not a silent fake
    with pytest.raises(NotImplementedError):
        decode_image_features(media, codec="pillow").collect()
    frames = frame_sample_plan(media).collect()
    assert frames and all(r.frame_ts_ms % 1000 == 0 for r in frames)


def test_quicklook_and_resample_kernels(spark):
    from bdc_collection_builder_spark.functions.pixel import (
        quicklook_radiometry,
        resample_nearest,
        synthetic_pixels,
    )

    px = synthetic_pixels(spark, n_scenes=2, height=8, width=8)
    ql = px.select(quicklook_radiometry(F.col("B04")).alias("v")).collect()
    assert all(0 <= r.v <= 255 for r in ql)
    small = resample_nearest(px, 2, ["B04"]).collect()
    assert len(small) == 2 * 4 * 4


def test_ann_ivf_recall(spark, sf_dir):
    from bdc_collection_builder_spark.extensions.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from bdc_collection_builder_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=4).collect()
    exact_top1 = {r.query_id: r.vec_id for r in exact if r.rank == 1}
    approx_hits = {(r.query_id, r.vec_id) for r in approx}
    top1_recall = sum(
        1 for q, v in exact_top1.items() if (q, v) in approx_hits
    ) / len(exact_top1)
    assert top1_recall >= 0.5, f"IVF top-1 recall too low: {top1_recall}"


def test_connected_components_chain_and_islands(spark):
    from bdc_collection_builder_spark.extensions.dedup import (
        connected_components,
    )

    # chain 1-2-3-4 (needs >1 propagation round), island {7,8}, and a
    # doc with no edges never appears in the output
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (7, 8)], ["doc_a", "doc_b"])
    got = {r.doc_id: r.component_id
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


@pytest.mark.slow  # >8s e2e pin: round-close gate (--runslow)
def test_ivf_index_persisted_matches_in_memory(spark, sf_dir, tmp_path):
    from bdc_collection_builder_spark.extensions.similarity import (
        build_ivf_index,
        ivf_index_topk,
        ivf_topk,
    )
    from bdc_collection_builder_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_centroids=16, seed=42)

    got = ivf_index_topk(spark, idx, queries, k=5, nprobe=4)
    want = ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=4, seed=42)
    as_set = lambda rows: {(r.query_id, r.vec_id, r.cosine, r.rank)  # noqa: E731
                           for r in rows}
    assert as_set(got.collect()) == as_set(want.collect())

    # the probe must be a partition-pruned scan: centroid_id arrives as
    # a static PartitionFilter, never a full-index read
    plan = spark._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted")
    assert "PartitionFilters: [centroid_id" in plan


def test_footprint_hull_geometric_invariants(spark, sf_dir):
    """Independent verification of the rows-only x14 hull kernel:
    the polygon must be convex, every vertex a valid pixel, and every
    valid pixel inside-or-on it (checked with plain cross products —
    no reuse of the kernel's monotone chain)."""
    from bdc_collection_builder_spark.functions.pixel import (
        NODATA_SENTINEL,
        synthetic_pixels,
    )
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )

    all_queries()
    hulls = {r.scene_id: r.footprint_wkt for r in
             QUERY_REGISTRY["x14_footprint_hull"].spark_fn(
                 spark, sf_dir).collect()}
    px = synthetic_pixels(spark, n_scenes=4, height=16, width=16)
    valid = (px.filter(F.col("B04") != NODATA_SENTINEL)
             .select("scene_id", "x", "y").collect())
    pts_by_scene: dict[int, set] = {}
    for r in valid:
        pts_by_scene.setdefault(r.scene_id, set()).add((r.x, r.y))

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    for sid, wkt in hulls.items():
        ring = [tuple(map(int, p.split()))
                for p in wkt[len("POLYGON(("):-2].split(",")]
        assert ring[0] == ring[-1], "ring must close"
        verts = ring[:-1]
        pts = pts_by_scene[sid]
        assert set(verts) <= pts, "hull vertices must be valid pixels"
        # convex + consistently oriented: all turns the same sign
        turns = [cross(verts[i], verts[(i + 1) % len(verts)],
                       verts[(i + 2) % len(verts)])
                 for i in range(len(verts))]
        assert all(t > 0 for t in turns) or all(t < 0 for t in turns)
        # containment: every valid pixel on the inner side of every edge
        sign = 1 if turns[0] > 0 else -1
        for p in pts:
            for i in range(len(verts)):
                e = cross(verts[i], verts[(i + 1) % len(verts)], p)
                assert sign * e >= 0, f"{p} outside hull of scene {sid}"


def test_approx_distinct_within_documented_error(spark, sf_dir):
    """Companion check for the rows-only a11 query: the HLL++ estimate
    must land within the configured 2%-rsd bound (checked loosely at
    5%) of the exact per-type distinct count."""
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )
    from bdc_collection_builder_spark.sources.tables import load_table

    all_queries()
    approx = {r.event_type: r.approx_users for r in
              QUERY_REGISTRY["a11_approx_distinct"].spark_fn(
                  spark, sf_dir).collect()}
    exact = {r.event_type: r.n for r in
             load_table(spark, sf_dir, "events")
             .groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert set(approx) == set(exact)
    for etype, n in exact.items():
        assert abs(approx[etype] - n) <= max(1, 0.05 * n), \
            f"{etype}: approx {approx[etype]} vs exact {n}"


def test_approx_percentiles_near_exact(spark, sf_dir):
    """Companion check for the rows-only a15 query: sketch estimates
    must land within 1% of a12's exact (oracle-checked) percentiles."""
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )

    all_queries()
    exact = {r.l_returnflag: (r.p50, r.p90) for r in
             QUERY_REGISTRY["a12_group_percentiles"].spark_fn(
                 spark, sf_dir).collect()}
    approx = {r.l_returnflag: (r.p50_approx, r.p90_approx) for r in
              QUERY_REGISTRY["a15_approx_percentiles"].spark_fn(
                  spark, sf_dir).collect()}
    assert set(exact) == set(approx)
    for flag, (p50, p90) in exact.items():
        a50, a90 = approx[flag]
        assert abs(a50 - p50) <= 0.01 * p50, f"{flag} p50: {a50} vs {p50}"
        assert abs(a90 - p90) <= 0.01 * p90, f"{flag} p90: {a90} vs {p90}"


def test_ccnet_cutpoint_scale_path_pins_to_ntile(spark, sf_dir):
    """The approx-percentile cut-point bucketing (the 100 TB path that
    replaces tx_ccnet_buckets' per-lang ntile sort) must agree with the
    exact tercile split except at boundary scores — and any
    disagreement must be between ADJACENT buckets with the cut-point
    path choosing the lower one (its documented tie rule)."""
    from bdc_collection_builder_spark.extensions.text import (
        perplexity_buckets_by_cutpoints,
    )
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )

    all_queries()
    exact = QUERY_REGISTRY["tx_ccnet_buckets"].spark_fn(spark, sf_dir)
    scored = exact.select(
        "doc_id", "lang", F.col("avg_logprob").alias("lp"))
    approx = perplexity_buckets_by_cutpoints(scored)
    ex = {r.doc_id: (r.bucket, r.avg_logprob, r.lang)
          for r in exact.collect()}
    ap = {r.doc_id: r.bucket for r in approx.collect()}
    assert set(ex) == set(ap)
    order = {"head": 0, "middle": 1, "tail": 2}
    n_disagree = 0
    for doc, (b_ex, _, _) in ex.items():
        b_ap = ap[doc]
        if b_ex != b_ap:
            n_disagree += 1
            # adjacent buckets only, and approx takes the LOWER one
            assert order[b_ap] - order[b_ex] == 1, (doc, b_ex, b_ap)
    assert n_disagree <= 0.05 * len(ex)
    # within every language, both assignments are monotone in lp:
    # no 'tail' doc outscores a 'head' doc
    by_lang: dict[str, list] = {}
    for doc, (b, lp, lang) in ex.items():
        by_lang.setdefault(lang, []).append((lp, order[b], order[ap[doc]]))
    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: -r[0])
        for col in (1, 2):
            seq = [r[col] for r in rows]
            assert seq == sorted(seq), f"non-monotone buckets for {lang}"


def test_ivfpq_ann_recall_and_candidate_pruning(spark, sf_dir):
    """IVF-PQ must (a) keep useful recall after BOTH pruning stages
    stack, and (b) never score a candidate outside the query's probed
    buckets — the property that makes its cost |bucket|×nprobe
    instead of |corpus|."""
    from bdc_collection_builder_spark.extensions.similarity import (
        brute_force_topk,
        ivfpq_topk_seeded,
    )
    from bdc_collection_builder_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = ivfpq_topk_seeded(emb, queries, k=5).collect()
    exact_top1 = {r.query_id: r.vec_id for r in exact if r.rank == 1}
    approx_hits = {(r.query_id, r.vec_id) for r in approx}
    top1_recall = sum(
        1 for qid, v in exact_top1.items() if (qid, v) in approx_hits
    ) / len(exact_top1)
    # two stacked approximations on random data: recall above chance,
    # below PQ-alone — the documented trade for bucket-bounded cost
    assert top1_recall >= 0.25, f"IVF-PQ top-1 recall too low: {top1_recall}"
    # every query returns k results (buckets are never empty here)
    per_q = {}
    for r in approx:
        per_q.setdefault(r.query_id, set()).add(r.rank)
    assert all(ranks == {1, 2, 3, 4, 5} for ranks in per_q.values())


def test_hll_rollup_merge_equals_single_pass(spark, sf_dir):
    """Union of per-day HLL sketches must return the IDENTICAL
    estimate as one full-pass sketch (register-max merge losslessness)
    and land within 5% of the exact distinct count."""
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )
    from bdc_collection_builder_spark.sources.tables import load_table

    all_queries()
    a18 = {r.event_type: r for r in QUERY_REGISTRY["a18_hll_rollup"]
           .spark_fn(spark, sf_dir).collect()}
    rolled = {et: r.approx_users for et, r in a18.items()}
    events = load_table(spark, sf_dir, "events")
    single = {r.event_type: r.approx for r in
              events.groupBy("event_type")
              .agg(F.hll_sketch_estimate(
                  F.hll_sketch_agg("user_id", 12))
                  .cast("bigint").alias("approx")).collect()}
    # The exact side IS the driver-oracled twin (a18b) — the pairing
    # that lets the rows-only sketch stay out of driver rotation.
    twin = {r.event_type: r for r in
            QUERY_REGISTRY["a18b_distinct_rollup_exact"]
            .spark_fn(spark, sf_dir).collect()}
    assert rolled == single, "daily-union estimate != full-pass estimate"
    assert set(a18) == set(twin)
    for et, est in rolled.items():
        exact = twin[et].exact_users
        assert abs(est - exact) <= 0.05 * exact + 2, (et, est, exact)
        # day counts are exact on both sides — must agree exactly
        assert a18[et].n_days == twin[et].n_days, et


def test_filter_funnel_keeper_window_attribution(spark):
    """The round-10 min-window keeper reproduces the agg+join-back
    exact-dup semantics: the LOWEST doc_id of a byte-identical text
    group is kept, every other member attributes to exact_dup (when
    no earlier stage claims it first), and the pct column still sums
    to 1 after the grouped persist."""
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )

    all_queries()
    fn = QUERY_REGISTRY["cu_filter_funnel"].spark_fn

    import tempfile

    # Passes every pre-dup stage: 20..20000 chars, stopword-rich
    # ('en' + quality >= 0.6), alphanumeric, short words.
    good = ("the data is in the table and the rows are in the file "
            "and they all have the same shape as before")
    with tempfile.TemporaryDirectory() as d:
        rows = [
            (5, good),                   # dup group member, NOT keeper
            (2, good),                   # keeper (min doc_id)
            (9, good),                   # dup group member
            (7, "the and of it"),        # 'en' but < 20 chars -> length
        ]
        spark.createDataFrame(rows, "doc_id long, text string") \
            .withColumn("lang", F.lit("en")) \
            .withColumn("source", F.lit("s")) \
            .withColumn("n_chars", F.length("text")) \
            .write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {r.stage: r for r in fn(spark, d).collect()}
        assert out["kept"].n_docs == 1        # doc 2 only
        assert out["exact_dup"].n_docs == 2   # docs 5 and 9
        assert out["length"].n_docs == 1      # doc 7
        assert abs(sum(r.pct for r in out.values()) - 1.0) < 1e-6


def test_span_dedup_edges(spark):
    """Documents shorter than the 8-token window drop out entirely;
    a span duplicated only WITHIN one document does not count as
    corpus-duplicated (cross-doc semantics)."""
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )

    all_queries()
    fn = QUERY_REGISTRY["tx_span_dedup"].spark_fn

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        rows = [
            (1, "too short to span"),                       # < 8 tokens
            (2, "a b c d e f g h a b c d e f g h"),         # self-repeat
            (3, "one two three four five six seven eight"),  # unique
        ]
        spark.createDataFrame(rows, "doc_id long, text string") \
            .withColumn("lang", F.lit("en")) \
            .withColumn("source", F.lit("s")) \
            .withColumn("n_chars", F.length("text")) \
            .write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {r.doc_id: r for r in fn(spark, d).collect()}
        assert 1 not in out, "sub-window doc must not appear"
        # doc 2 repeats its own 8-gram; no OTHER doc shares it
        assert out[2].n_dup_spans == 0
        assert out[3].n_dup_spans == 0


def test_dsir_weights_defined_without_target_docs(spark):
    """Add-one smoothing keeps DSIR weights finite when the target
    slice is empty (no 'en' documents): every token backs off to the
    uniform 1/(0+V) target probability."""
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )

    all_queries()
    fn = QUERY_REGISTRY["cu_dsir_weights"].spark_fn

    import math
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        rows = [(1, "alpha beta", "de"), (2, "beta gamma", "fr")]
        spark.createDataFrame(rows, "doc_id long, text string, lang string") \
            .withColumn("source", F.lit("s")) \
            .withColumn("n_chars", F.length("text")) \
            .write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = fn(spark, d).collect()
        assert len(out) == 2
        assert all(math.isfinite(r.dsir_weight) for r in out)


def test_semantic_dedup_trained_quantizer(spark, sf_dir):
    """Production SemDeDup path: Lloyd's-trained centroids (literals,
    map-only assignment) must flag exactly the planted scaled copies
    that the seeded relational quantizer flags — the dedup decision is
    quantizer-robust because parallel vectors always share a cluster."""
    from pyspark.sql import functions as F

    from bdc_collection_builder_spark.extensions.dedup import semantic_dedup
    from bdc_collection_builder_spark.extensions.similarity import (
        _train_centroids,
    )
    from bdc_collection_builder_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scaled = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding",
                    lambda x: (x * 1.01).cast("float")).alias("embedding"))
    corpus = emb.unionByName(scaled)
    cents = _train_centroids(corpus, "embedding", n_centroids=16, dim=64)
    got = semantic_dedup(corpus, threshold=0.97, centroids=cents)
    flagged = {r.vec_id for r in got.filter("is_dup").collect()}
    planted = {r.vec_id for r in scaled.select("vec_id").collect()}
    # every planted copy is a dup (its source has the smaller id and
    # cosine 1.0, and parallel vectors share every quantizer's argmax);
    # nothing else in the synthetic corpus clears 0.97
    assert flagged == planted
    assert got.count() == corpus.count()


def test_bloom_decontaminate_superset_of_exact(spark, sf_dir):
    """Bloom decontamination must flag every exactly-contaminated doc
    (zero false negatives — the guarantee the scale path sells) and
    per flagged doc report at least as many shingles as the exact
    overlap count; false positives stay a small deterministic tail."""
    from pyspark.sql import functions as F

    from bdc_collection_builder_spark.extensions.curation import (
        bloom_decontaminate,
        decontaminate,
    )
    from bdc_collection_builder_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 17 != 0)
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    exact = {r.train_doc_id: r.n_common_shingles
             for r in decontaminate(train, bench, k=5).collect()}
    bloom = {r.train_doc_id: r.n_flagged_shingles
             for r in bloom_decontaminate(train, bench, k=5).collect()}
    assert set(exact) <= set(bloom)
    for doc, n in exact.items():
        assert bloom[doc] >= n
    # the filter must actually filter: flagged docs stay a small
    # fraction of the corpus (fp-rate sanity, not a tautology)
    assert len(bloom) < train.count() / 2


def test_kmeans_distributed_production_matches_ordered(spark, sf_dir):
    """The production k-means update (plain partial-agg avg, arbitrary
    summation order) must land every vector in the same cluster as the
    order-pinned oracle variant — means can differ in final ulps, but
    argmin assignments are ulp-robust on real data. Also pins that the
    clustering is non-trivial (several clusters populated)."""
    from bdc_collection_builder_spark.extensions.similarity import (
        kmeans_assign_distributed,
    )
    from bdc_collection_builder_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    prod = {r.vec_id: r.cluster_id
            for r in kmeans_assign_distributed(emb, ordered=False).collect()}
    pinned = {r.vec_id: r.cluster_id
              for r in kmeans_assign_distributed(emb, ordered=True).collect()}
    assert prod == pinned
    assert len(set(prod.values())) >= 4


def test_tracked_persist_drains_between_queries(spark, sf_dir):
    """ADVICE-r3: persisted intermediates must not accumulate across a
    long query session. Invoking a query that uses tracked_persist,
    then ANY other query, must release the first query's cache blocks;
    nested query composition must NOT drain its caller's."""
    from bdc_collection_builder_spark.functions import persist as P
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )

    all_queries()
    P.drain_tracked()
    QUERY_REGISTRY["gr_pagerank"].spark_fn(spark, sf_dir).collect()
    assert len(P._TRACKED) >= 1  # src_deg persisted, not yet drained
    tracked_before = list(P._TRACKED)
    # next top-level query invocation drains the previous one's blocks
    QUERY_REGISTRY["a01_status_histogram"].spark_fn(spark, sf_dir).collect()
    assert not any(df is t for t in P._TRACKED for df in tracked_before)
    for df in tracked_before:
        assert df.storageLevel.useMemory is False, "cache block leaked"
    # nested composition: personalized pagerank calls gr_pagerank
    # internally — its persists survive to the outer result
    out = QUERY_REGISTRY["gr_personalized_pagerank"].spark_fn(
        spark, sf_dir)
    assert out.count() > 0
    P.drain_tracked()


def test_ivf_upsert_appends_without_rewriting(spark, sf_dir, tmp_path):
    """Incremental IVF maintenance contract: the upsert appends ONLY
    into touched centroid partitions (existing data files keep their
    paths), redelivered ids are discarded (idempotence), and a second
    identical upsert is a complete no-op."""
    import os

    from pyspark.sql import functions as F

    from bdc_collection_builder_spark.extensions.similarity import (
        build_ivf_index_seeded,
        upsert_ivf_index,
    )
    from bdc_collection_builder_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    path = str(tmp_path / "ivf")
    build_ivf_index_seeded(
        emb.filter((F.col("vec_id") % 2 == 0) | (F.col("vec_id") < 16)),
        path)

    def data_files():
        out = set()
        for root, _, names in os.walk(f"{path}/vectors"):
            out |= {os.path.join(root, n) for n in names
                    if n.endswith(".parquet")}
        return out

    before = data_files()
    n_base = spark.read.parquet(f"{path}/vectors").count()
    batch = emb.filter(F.col("vec_id") % 2 == 1).unionByName(
        emb.filter(F.col("vec_id") % 10 == 0))
    upsert_ivf_index(spark, path, batch)
    after = data_files()
    assert before <= after, "existing index files were rewritten"
    total = spark.read.parquet(f"{path}/vectors").count()
    assert total == emb.count()  # every vector exactly once
    assert total > n_base
    # replay the whole batch: nothing new may land
    upsert_ivf_index(spark, path, batch)
    assert spark.read.parquet(f"{path}/vectors").count() == total
    ids = spark.read.parquet(f"{path}/vectors").select("vec_id")
    assert ids.distinct().count() == total, "duplicate ids in index"


def test_crs_inverse_matches_numpy_reference(spark, sf_dir):
    """The SQL step chain (x13b) and the numpy evaluation of the same
    Karney series must agree to < 1e-9 degrees — catches any
    SQL-transcription slip in the 60-step expression DAG."""
    import numpy as np

    from bdc_collection_builder_spark.functions.crs import (
        utm_inverse_reference,
    )
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )

    all_queries()
    rows = (QUERY_REGISTRY["x13b_extent_to_wgs84_exact"]
            .spark_fn(spark, sf_dir).collect())
    for r in rows:
        k = r.scene_key
        xmin, ymax = 500000.0 + k * 1000, 8000000.0 - k * 1000
        xmax, ymin = xmin + 2560.0, ymax - 2560.0
        lon, lat = utm_inverse_reference(
            np.array([xmin, xmin, xmax, xmax]),
            np.array([ymin, ymax, ymin, ymax]))
        # query rounds to 1e-7 deg; series agreement is far tighter
        assert abs(r.lon_min - round(lon.min(), 7)) < 2e-7, r
        assert abs(r.lon_max - round(lon.max(), 7)) < 2e-7, r
        assert abs(r.lat_min - round(lat.min(), 7)) < 2e-7, r
        assert abs(r.lat_max - round(lat.max(), 7)) < 2e-7, r


def test_crs_roundtrip_and_meridian_arc():
    """Two independent validations of the transform constants, since
    pyproj is unavailable to compare against directly: (1) the forward
    series (separate alpha coefficients) must invert the inverse to
    sub-micrometer; (2) at the central meridian the northing must
    equal k0 x the meridian arc length computed by dense numerical
    integration of the meridional radius — no series involved."""
    import numpy as np

    from bdc_collection_builder_spark.functions.crs import (
        _K0,
        meridian_arc_reference,
        utm_forward_reference,
        utm_inverse_reference,
    )

    x = np.array([500000.0, 502560.0, 497440.0, 524000.0, 476000.0])
    y = np.array([8000000.0, 7997440.0, 8002560.0, 7976000.0,
                  8024000.0])
    lon, lat = utm_inverse_reference(x, y)
    assert abs(lon[0] - (-45.0)) < 1e-12  # central meridian is exact
    xb, yb = utm_forward_reference(lon, lat)
    assert np.abs(xb - x).max() < 1e-6
    assert np.abs(yb - y).max() < 1e-6
    arc = meridian_arc_reference(float(lat[0]))
    assert abs(_K0 * arc - (8000000.0 - 1e7)) < 1e-6
