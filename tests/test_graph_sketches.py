"""Independent invariants for the graph-analytics, sketch, and
tokenizer-statistics operators — checks that do NOT reuse the oracle
SQL, so a shared misconception between the Spark plan and its DuckDB
mirror cannot hide (the same belt-and-braces layering as
test_property.py's curation checks)."""

from __future__ import annotations

from itertools import combinations

import pytest

from bdc_collection_builder_spark.plans.registry import (
    QUERY_REGISTRY,
    all_queries,
)


@pytest.fixture(scope="module", autouse=True)
def _load():
    all_queries()


def run(name, spark, sf_dir):
    return QUERY_REGISTRY[name].spark_fn(spark, sf_dir)


def test_pagerank_mass_conservation(spark, sf_dir):
    """With self-loops kept there is no dangling leakage: total rank
    mass stays exactly 1 after every iteration (up to fp noise)."""
    ranks = run("gr_pagerank", spark, sf_dir).collect()
    total = sum(r.pagerank for r in ranks)
    assert abs(total - 1.0) < 1e-6
    assert all(r.pagerank > 0 for r in ranks)


def test_pagerank_uniform_on_first_moment(spark, sf_dir):
    """Every node's rank stays within [ (1-d)/n, 1 ) and the mean is
    exactly 1/n — the structural bounds of the damped walk."""
    ranks = [r.pagerank for r in run("gr_pagerank", spark, sf_dir).collect()]
    n = len(ranks)
    assert all(rk >= 0.15 / n - 1e-12 for rk in ranks)
    assert abs(sum(ranks) / n - 1.0 / n) < 1e-9


def test_iterate_bounded_plan_at_depth_10(spark, sf_dir):
    """Production-depth iteration: with localCheckpoint truncation the
    physical plan of a 10-round PageRank stays the size of a
    checkpoint_every-round plan; unrolled it grows linearly. Guards the
    VERDICT-r2 'parameterize iterative graph depth' requirement."""
    from pyspark.sql import functions as F

    from bdc_collection_builder_spark.plans.graph import (
        citation_edges,
        pagerank_loop,
    )

    nodes, edges, n = citation_edges(spark, sf_dir)
    outdeg = edges.groupBy("src").agg(F.count("*").cast("double").alias("deg"))
    src_deg = edges.join(outdeg, "src").persist()
    deep = pagerank_loop(nodes, src_deg, F.lit(1.0 / n), 10,
                         checkpoint_every=2)
    unrolled = pagerank_loop(nodes, src_deg, F.lit(1.0 / n), 10,
                             checkpoint_every=0)
    deep_plan = deep._jdf.queryExecution().executedPlan().toString()
    unrolled_plan = unrolled._jdf.queryExecution().executedPlan().toString()
    # the truncated plan holds <= 2 rounds of operators + one scan of
    # the checkpoint RDD; the unrolled one holds all 10 rounds
    assert len(deep_plan) < len(unrolled_plan) / 2
    src_deg.unpersist()


def test_iterate_checkpoint_matches_unrolled(spark, sf_dir):
    """localCheckpoint truncation must not change values: 4 rounds with
    checkpoint_every=1 are bit-equal to the pure unrolled loop."""
    from pyspark.sql import functions as F

    from bdc_collection_builder_spark.plans.graph import (
        citation_edges,
        pagerank_loop,
    )

    nodes, edges, n = citation_edges(spark, sf_dir)
    outdeg = edges.groupBy("src").agg(F.count("*").cast("double").alias("deg"))
    src_deg = edges.join(outdeg, "src").persist()
    ckpt = {r.doc_id: r.rank
            for r in pagerank_loop(nodes, src_deg, F.lit(1.0 / n), 4,
                                   checkpoint_every=1).collect()}
    plain = {r.doc_id: r.rank
             for r in pagerank_loop(nodes, src_deg, F.lit(1.0 / n), 4,
                                    checkpoint_every=0).collect()}
    assert ckpt.keys() == plain.keys()
    # tolerance, not bit-equality: per-node contribution sums reduce in
    # partition order, which the checkpoint boundary may reshuffle
    assert all(abs(ckpt[k] - plain[k]) < 1e-15 for k in ckpt)
    src_deg.unpersist()


def _counter_loop(spark, start, cap=None):
    """A one-row loop x -> x + 1 (optionally saturating at ``cap``),
    plus a log of the steps run and of the change tests' answers."""
    from pyspark.sql import functions as F

    log = {"steps": 0, "tests": []}

    def step(state, i):
        assert i == log["steps"]
        log["steps"] += 1
        nxt = F.col("x") + 1
        return state.select((nxt if cap is None
                             else F.least(nxt, F.lit(cap))).alias("x"))

    def changed(state):
        # the change test always sees a freshly checkpointed frame
        assert state._jdf.queryExecution().logical().toString() \
            .startswith("LogicalRDD")
        log["tests"].append(state.first().x < (cap or 1 << 30))
        return log["tests"][-1]

    return spark.range(1).select(F.lit(start).alias("x")), step, \
        changed, log


def test_iterate_stops_at_first_unchanged_round(spark):
    from bdc_collection_builder_spark.functions.iterate import (
        iterate,
        reset,
        taken,
    )

    init, step, changed, log = _counter_loop(spark, 0, cap=3)
    reset()
    out = iterate(init, step, 20, checkpoint_every=1, changed=changed)
    assert out.first().x == 3
    assert log["tests"] == [True, True, False]
    assert log["steps"] == taken() == 3


def test_iterate_max_rounds_caps_a_loop_that_never_converges(spark):
    from bdc_collection_builder_spark.functions.iterate import (
        iterate,
        reset,
        taken,
    )

    init, step, changed, log = _counter_loop(spark, 0)
    reset()
    out = iterate(init, step, 4, checkpoint_every=1, changed=changed)
    assert out.first().x == 4
    # the capped final round is neither checkpointed nor tested
    assert log["tests"] == [True] * 3
    assert log["steps"] == taken() == 4


def test_iterate_round_counter_counts_rounds_run(spark):
    from bdc_collection_builder_spark.functions.iterate import (
        iterate,
        reset,
        taken,
    )

    reset()
    init, step, _, _ = _counter_loop(spark, 0)
    iterate(init, step, 5, checkpoint_every=2)
    assert taken() == 5
    init, step, changed, log = _counter_loop(spark, 0, cap=2)
    iterate(init, step, None, checkpoint_every=1, changed=changed)
    assert log["steps"] == 2 and taken() == 5 + 2
    reset()
    assert taken() == 0


def test_iterate_converged_input_runs_one_round(spark):
    from bdc_collection_builder_spark.functions.iterate import (
        iterate,
        reset,
        taken,
    )

    init, step, changed, log = _counter_loop(spark, 3, cap=3)
    reset()
    out = iterate(init, step, None, checkpoint_every=1, changed=changed)
    assert out.first().x == 3
    assert log["tests"] == [False]
    assert log["steps"] == taken() == 1


@pytest.mark.slow  # >8s e2e pin: round-close gate (--runslow)
def test_hits_scores_utility(spark, sf_dir):
    """Parameterized HITS at depth 4: unit L2 norms each round,
    checkpointed == unrolled (to FP-reduction tolerance: the L2 sums
    reduce in partition order, which checkpointing may reshuffle),
    nonnegative scores."""
    from bdc_collection_builder_spark.plans.graph import (
        citation_edges,
        hits_scores,
    )

    nodes, edges, _ = citation_edges(spark, sf_dir)
    got = hits_scores(nodes, edges, 4, checkpoint_every=1).collect()
    by_id = {r.doc_id: (r.hub, r.authority) for r in got}
    plain = {r.doc_id: (r.hub, r.authority)
             for r in hits_scores(nodes, edges, 4, checkpoint_every=0)
             .collect()}
    assert by_id.keys() == plain.keys()
    assert all(abs(by_id[k][0] - plain[k][0]) < 1e-12
               and abs(by_id[k][1] - plain[k][1]) < 1e-12 for k in by_id)
    hub_norm = sum(r.hub ** 2 for r in got) ** 0.5
    auth_norm = sum(r.authority ** 2 for r in got) ** 0.5
    assert abs(hub_norm - 1.0) < 1e-9 and abs(auth_norm - 1.0) < 1e-9
    assert all(r.hub >= 0 and r.authority >= 0 for r in got)


def test_triangles_match_bruteforce(spark, sf_dir):
    """The oriented-wedge join equals a driver-side brute force over
    the (small, derived) edge set."""
    from bdc_collection_builder_spark.plans.graph import citation_edges

    _, edges, _ = citation_edges(spark, sf_dir)
    und = {tuple(sorted((r.src, r.dst)))
           for r in edges.collect() if r.src != r.dst}
    adj: dict[int, set[int]] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    brute = sum(
        1 for a in adj for b, c in combinations(sorted(adj[a]), 2)
        if a < b and tuple(sorted((b, c))) in und
    )
    got = run("gr_triangle_count", spark, sf_dir).collect()[0].n_triangles
    assert got == brute


def test_degree_histogram_totals(spark, sf_dir):
    """Histogram masses: node total equals the node count, weighted
    degree total equals the edge count."""
    from bdc_collection_builder_spark.plans.graph import citation_edges

    nodes, edges, n = citation_edges(spark, sf_dir)
    hist = run("gr_degree_histogram", spark, sf_dir).collect()
    assert sum(r.n_nodes for r in hist) == n
    assert sum(r.degree * r.n_nodes for r in hist) == edges.count()


def test_cms_never_underestimates(spark, sf_dir):
    """The defining CMS guarantee, checked over the WHOLE dictionary
    (the registered query truncates to top-50 for the oracle)."""
    from pyspark.sql import functions as F

    from bdc_collection_builder_spark.extensions.text import tokens
    from bdc_collection_builder_spark.plans import sketches
    from bdc_collection_builder_spark.plans._util import t

    # the registered fn truncates to top-50; rebuild unlimited here
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    from bdc_collection_builder_spark.extensions.dedup import md5_hash60

    rows = F.array(*[F.lit(r) for r in range(sketches._D)])

    def bucket(r_col, tok_col):
        return md5_hash60(
            F.concat(r_col.cast("string"), F.lit(":"), tok_col)
        ) % sketches._W

    sketch = (
        toks.select("tok", F.explode(rows).alias("r"))
        .select("r", bucket(F.col("r"), F.col("tok")).alias("b"))
        .groupBy("r", "b").agg(F.count("*").alias("c"))
    )
    dict_df = toks.groupBy("tok").agg(F.count("*").alias("exact_n"))
    probes = (
        dict_df.select("tok", "exact_n", F.explode(rows).alias("r"))
        .select("tok", "exact_n", "r",
                bucket(F.col("r"), F.col("tok")).alias("b"))
    )
    est = (
        probes.join(sketch, ["r", "b"])
        .groupBy("tok", "exact_n").agg(F.min("c").alias("est_n"))
    )
    bad = est.filter(F.col("est_n") < F.col("exact_n")).count()
    assert bad == 0


def test_cms_registered_heavy_hitters_exact(spark, sf_dir):
    """At d=4, w=256 over this vocabulary the top hitters should be
    estimated exactly or near-exactly; est >= exact always."""
    out = run("sk_heavy_hitters_cms", spark, sf_dir).collect()
    assert 0 < len(out) <= 50  # sf0.001's vocab is smaller than top-k
    assert all(r.est_n >= r.exact_n for r in out)


def test_bpe_pair_counts_invariants(spark, sf_dir):
    out = run("tk_bpe_pair_counts", spark, sf_dir).collect()
    assert 0 < len(out) <= 50
    counts = [r.pair_count for r in out]
    assert counts == sorted(counts, reverse=True)
    assert all(len(r.pair) == 2 for r in out)


def test_seed_vocab_contains_its_own_chars(spark, sf_dir):
    """Every multi-char piece's single-char prefix must also be a
    counted piece with count >= the longer piece's count (substring
    monotonicity of the seed-vocab construction)."""
    out = run("tk_seed_vocab_substrings", spark, sf_dir).collect()
    by_piece = {r.piece: r.piece_count for r in out}
    assert all(len(r.piece) <= 4 for r in out)
    for r in out:
        head = r.piece[0]
        if head in by_piece:
            assert by_piece[head] >= r.piece_count


def test_weighted_sample_prefers_heavy_docs(spark, sf_dir):
    """A-ES with w = n_chars must oversample long documents: the mean
    n_chars of sampled docs exceeds the corpus mean."""
    from pyspark.sql import functions as F

    from bdc_collection_builder_spark.plans._util import t

    sample = run("cu_weighted_sample_es", spark, sf_dir)
    docs = t(spark, sf_dir, "documents")
    sampled_mean = (
        sample.join(docs, "doc_id")
        .agg(F.avg("n_chars")).collect()[0][0])
    corpus_mean = docs.agg(F.avg("n_chars")).collect()[0][0]
    assert sampled_mean > corpus_mean
    # groups smaller than k keep everything, ranks are contiguous
    ranks = sample.groupBy("source").agg(
        F.max("sample_rank").alias("mx"),
        F.count("*").alias("n")).collect()
    assert all(r.mx == r.n <= 8 for r in ranks)


def test_roundtrip_connectors_lossless(spark, sf_dir):
    """JSONL and CSV read-backs agree with the parquet source on every
    row (set equality via anti-join both ways)."""
    from bdc_collection_builder_spark.plans._util import t

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars")
    for name in ("s18_jsonl_roundtrip", "s19_csv_roundtrip"):
        back = run(name, spark, sf_dir)
        assert back.exceptAll(docs).count() == 0, name
        assert docs.exceptAll(back).count() == 0, name
