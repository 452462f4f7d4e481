"""Benchmark harness: runs the headline query suite at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query is fully materialized through the ``noop`` sink so Catalyst
cannot prune the measured work (a bare count() would skip computed
columns). A warmup pass runs first so per-query numbers are comparable.

``python bench.py --queries a,b`` times only the named queries
(``$SPARK_GRAFT_BENCH_RUNS`` runs each, default 5) and prints one JSON
line per query: wall median/min/max, the median construction time and
the eager/total Spark job counts (see :func:`run_query`). It writes no
BENCH_FULL.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline suite: one representative per operator family, weighted
# toward the scale-relevant paths (joins, windows, dedup, ANN, text).
#
# DO NOT add the store-seam queries (s27, s33, s34, s35) to this
# suite without removing their per-sf_dir outcome caches first: each
# caches its store build in a module dict (deterministic and
# test-correct — the store work is idempotent), so only the FIRST
# invocation in a session measures the engine; every later run
# measures a dict lookup (VERDICT-r5 What's-wrong #3).
BENCH_QUERIES = [
    "q1_pricing_summary",        # multi-measure hash aggregate
    "j01_three_way_status_counts",  # 3-way join + agg
    "j05_latest_failed_per_scene",  # ranking window + broadcast join
    "j06_fk_broadcast_lookup",   # broadcast dim lookup over the fact table
    "f06_skip_published",        # anti-join reconciliation
    "w01_latest_execution",      # latest-per-key window
    "y01_tumbling_window",       # event-time window aggregate
    "y05_session_window",        # sessionization (lag + cumsum)
    "tj_asof_purchase_attribution",  # as-of join (union + carry-forward)
    "a12_group_percentiles",     # full-sort percentiles per group
    "px_x9_band_expression_ndvi",   # band-expression engine
    "dd_minhash_lsh_pairs",      # MinHash+LSH dedup (shuffle-heavy)
    "ss_brute_force_topk",       # cosine top-k
    "tx_text_stats",             # text analysis over documents
    "tx_fingerprint",            # rolling-hash fingerprint
    "x17_polygon_intersects",    # exact polygon predicate (codegen HOFs)
    "j10_spatial_grid_join",     # spatial join via grid-cell bucketing
    "tx_span_dedup",             # k-gram substring dedup (hash join-back)
    "cu_dsir_weights",           # DSIR importance weights (vocab join)
    "ss_ivfpq_topk",             # IVF-PQ composed ANN
    "gr_pagerank",               # iterative graph centrality (3 rounds)
    "sk_heavy_hitters_cms",      # count-min sketch build + probe
    "tk_bpe_pair_counts",        # BPE pair stats over the word dict
    # round-3 additions (VERDICT-r2 task 8: keep the bench honest as
    # the suite grows)
    "gr_hits_hubs_authorities",  # HITS mutual reinforcement (4 half-steps)
    "tx_line_dedup",             # per-line exact dedup (explode + count)
    "dd_semantic_dedup",         # embedding-LSH semantic dedup
    "st_stateful_sessionize",    # Structured Streaming drain cost
    # round-4 additions (keep the bench honest as the suite grows)
    "cu_filter_funnel",          # one-pass curation funnel report
    "ss_ivf_incremental_upsert",  # IVF index build + idempotent upsert
    "sk_kmv_overlap",            # bottom-k corpus-overlap sketches
    "gr_label_propagation",      # 4-round synchronous LPA communities
    "ss_multiprobe_lsh_topk",    # multi-probe LSH (8 tables x 3 probes)
    "tx_kneser_ney_bigram",      # KN-smoothed bigram LM scoring
    "tk_unigram_viterbi",        # unigram-LM DP over the word dict
    "tj_lttb_downsample",        # LTTB sequential bucket fold
    "ss_lsh_topk",               # 24-table single-probe LSH baseline
    "dd_embedding_near_pairs",   # LSH-bucketed near-dup pairs
    # round-4 third-wave additions
    "j18_small_quantity_revenue",  # Q17 shape (exchange-reusing agg join)
    "gr_jaccard_link_prediction",  # wedge join + degree-capped candidates
    "ss_mmr_diversified_topk",   # greedy MMR nested-HOF fold re-rank
    # round-4 fourth-wave additions
    "j22_bilateral_trade_flow",  # Q7 shape (5-way star, nation-pair prune)
    "j20_last_shipper_waiting",  # Q21 shape (decorrelated to one window)
    "st_stream_outer_join",      # watermarked outer-join state eviction
    "dq_gini_concentration",     # rank-identity Gini (window, no self-join)
    "tk_bpe_train_rounds",       # 3 chained BPE merge rounds
    "ss_kmeans_train_rounds",    # 2 Lloyd rounds, fixed-point updates
    # round-5 additions (VERDICT-r4 task 8: only genuinely new heavy
    # families from the rotation, so the shared-query delta stays
    # comparable)
    "tk_viterbi_em_counts",      # EM E-step argmax backtrace (16-way union)
    "s29_schema_evolution_timetravel",  # ADD COLUMN + snapshot reads
    # FROZEN-v2 members (VERDICT-r8 What's-wrong #3): 10 round-7/8
    # representatives, reported as "value_v2" for the one round-9
    # transition round and folded into the headline here (VERDICT-r9
    # task 2). Judge-suggested, with two documented substitutions:
    # gr_strongly_connected stays in BENCH_HEAVY (8s > the 5s suite
    # ceiling) -> replaced by gr_clustering_coefficient (the round-7
    # triangle/wedge graph rep); lo_dynamic_partition_pruning's first
    # call per (process, sf_dir) pays an O(table) partitioned rewrite
    # into a module cache, so its max/min spread would trip the noisy
    # flag every round -> replaced by tj_mann_kendall_trend (the
    # round-7 integer-stat temporal rep).
    "dd_hamming_near_pairs",     # pigeonhole segment-blocked join
    "sql01_shared_ansi_text",    # shared-ANSI-text dialect seam
    "tx_heaps_vocab_growth",     # vocab-growth log-log regression
    "dq_t_closeness",            # per-group EMD vs global dist
    "j31_waiting_supplier_blame",  # Q21 aggregate-decorrelation twin
    "a23_copurchase_support",    # pair-support self-join + prune
    "mm_audio_silence_trim",     # Arrow-batched PCM trim
    "st_incremental_near_dedup",  # streaming LSH dedup drain
    "gr_clustering_coefficient",  # triangle/wedge ratios
    "tj_mann_kendall_trend",     # integer S-statistic trend test
    # round-10 graduates (VERDICT-r9 task 2): both ex-heavies landed
    # under the 5s ceiling after the round-9 persist fix and warm-path
    # measurement, so they join the comparable suite. "value" is
    # therefore BENCH_r09's value_v2 membership + these two.
    "dd_prefix_filter_jaccard",  # exact AllPairs + per-pair verify
                                 # (13.6s -> 2.7s after the ordered-
                                 # tokens tracked_persist, round 9)
    "dd_edit1_near_pairs",       # FastSS deletion-neighborhood join
                                 # (7.3s cold / 1.3s warm — bench
                                 # sessions are warm by design)
    # round-11 graduates (VERDICT-r10 task 6): the round-10 rewrites
    # brought both ex-heavies to/under the 5s bar on quiet runs
    # (driver run: 5.84s / 3.38s), so they join the comparable suite
    # and get median-of-5 treatment. First round in "queries" — the
    # driver will see them as new_in_bench, same as the r10 graduates.
    "dd_exact_substring_maxlen",  # chunked-LCP sorted-neighbor dedup
                                  # (11.5s -> ~5s, round-10 rewrite)
    "tj_resample_interpolate",    # single-shuffle dual-bracket as-of
                                  # (7.4s -> ~3s, round-10 rewrite)
]

# BENCH_HEAVY (VERDICT-r7 What's-wrong #4): known >5s queries, measured
# ONCE per round and reported under a separate "heavy" key — NOT part
# of the frozen comparable suite or its totals, so tail-cost
# regressions become diff-able round-over-round without perturbing the
# headline comparability. Single cold run each (a median-of-5 would
# dominate the bench wall for queries this size; round-over-round
# deltas >2x are still unambiguous at this magnitude).
HEAVY_QUERIES = [
    "gr_strongly_connected",      # FW-BW SCC, frontier fixpoints
    # dd_exact_substring_maxlen and tj_resample_interpolate graduated
    # to BENCH_QUERIES in round 11 (VERDICT-r10 task 6) after the
    # round-10 rewrites brought them to/under the 5s bar.
    "dd_cluster_components_star", # star-contraction CC, a borderline-5s tail
    "dd_survivorship",            # promoted by the round-10 CLOSING
                                  # census: quiet-day warm median
                                  # ~4.3s after the score-after-join
                                  # reorder (commit 9fe72c4), ~6s on
                                  # the degraded machine the closing
                                  # bench ran on (identical-code
                                  # parent-commit pairing 5.96 vs
                                  # 6.13s median ruled out a
                                  # regression) — the same borderline
                                  # class as dd_exact_substring, so
                                  # it graduates to heavy rather than
                                  # carrying a census triage that
                                  # re-fires every slow day.
    "tx_winnow_fingerprints",     # promoted by the round-10 census
                                  # (its first catch at sf0.1): found
                                  # at 10.8s, cut to ~5s by swapping
                                  # the 30M per-gram md5s for an
                                  # exact-int64 polynomial over a
                                  # once-per-row codepoint array plus
                                  # a measured-win persist of the
                                  # selected prints; the residual is
                                  # a genuine 60k-doc x 505-gram
                                  # winnow + corpus print join
]

_BLOB_TRIAGE = (
    "constant-size synthetic raster (4 scenes x 16x16 px, "
    "SF-independent): the ~5-6s wall is star-contraction round "
    "overhead (a fixed number of tiny Spark jobs), not a data-scale "
    "tail — sf0.001 and sf0.1 census times are within 2s of each "
    "other. Not promoted to BENCH_HEAVY because its cost cannot "
    "regress with data; round-over-round tracking would only "
    "re-measure scheduler latency.")

# Census triage (VERDICT-r9 task 3): every registered query gets ONE
# warm run per round (see the census block in main); any census entry
# over 5s must either be promoted into BENCH_HEAVY or recorded here
# as (floor_s, reason), or the round-close checklist fails
# (tests/test_artifacts.py::test_census_has_no_untriaged_tail reads
# the committed BENCH_FULL.json). Reasons must explain why the cost
# is the workload, not a plan defect; the floor is the quiet-day wall
# the reason quotes, and census_flagged() trips at twice it.
CENSUS_TRIAGED: dict[str, tuple[float, str]] = {
    "px_blob_labeling": (5.0, _BLOB_TRIAGE),
    "st_stream_stream_join": (3.1, (
        "watermarked stream-stream drain: the wall is a scenario-fixed "
        "number of micro-batch trigger cycles x state-store commits "
        "(state is min-watermark-bounded; the trigger count does not "
        "grow with SF). Quiet-day census ~3.1s, warm floor 3.7-4.1s on "
        "the round-10 degraded closing machine, crossing 5s only in "
        "single contended samples — micro-batch machinery, not a plan "
        "defect (the drain class is documented as left-alone in "
        "OPTIMIZATION_r10.md).")),
    "s02_download_failover": (2.3, (
        "the md5 download/correction simulator "
        "(pipeline/stages.download_correction_stage): one scene "
        "repartition, a broadcast collections join and one mapInPandas "
        "pass per scene batch, so the wall is the Arrow boundary and "
        "Python-worker stage machinery, not plan shape. Warm median "
        "1.70-1.82s at sf0.1 on 4 cores (`python bench.py --queries "
        "s02_download_failover`, three runs of 5 samples; slowest "
        "sample 4.1-4.4s). The 2.3s floor is the round-10 warm median, "
        "kept; round-10 census one-offs reached ~17s under machine "
        "contention — documented as left-alone.")),
}


def census_flagged(name: str, seconds: float) -> bool:
    """The census gate: a sample over 5s trips it when the query is
    untriaged or when it is over twice its triaged floor."""
    if seconds <= 5.0:
        return False
    triage = CENSUS_TRIAGED.get(name)
    return triage is None or seconds > 2 * triage[0]


def fit_compact(compact: dict, spread: dict) -> None:
    """Trim the compact bench line in place until its JSON fits 1980
    chars. Trims run in a fixed order, each entry by entry:
    ``noisy_min`` least-noisy entry first (the worst spreads are the
    medians most in need of a replacement estimator), then the census
    gate list from its end, and as the last resort the ``queries`` map,
    noisiest entry first (its median is the least trustworthy); the
    BASELINE proxies (``proxy_*``) are never trimmed. Spread ties break
    on the name. Raises if even that cannot fit the budget."""

    def size() -> int:
        return len(json.dumps(compact, separators=(",", ":")))

    def over() -> bool:
        return size() > 1980

    def noise(name: str) -> float:
        return spread[name]["max"] / max(spread[name]["min"], 1e-9)

    for name in sorted(compact["noisy_min"], key=lambda n: (noise(n), n)):
        if not over():
            break
        del compact["noisy_min"][name]
    census = compact.get("census_over5s", [])
    while over() and census:
        census.pop()
    queries = [n for n in compact["queries"] if not n.startswith("proxy_")]
    for name in sorted(queries, key=lambda n: (-noise(n), n)):
        if not over():
            break
        del compact["queries"][name]
    if over():
        raise RuntimeError(
            f"compact bench line is {size()} chars after trimming, over "
            "the 1980-char budget: shorten the proxy keys")


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _warm(spark, sf_dir: str) -> None:
    """Touch every table so codegen/classloading noise stays out of the
    first measured query, and run one tiny mapInPandas so the Python
    workers are forked before any measured UDF stage (a cold spawn of
    local[N] workers costs seconds and is one-time)."""
    from bdc_collection_builder_spark.sources.tables import TABLES, load_table

    for name in TABLES:
        load_table(spark, sf_dir, name).limit(1).collect()
    materialize(spark.range(256).repartition(32).mapInPandas(
        lambda it: it, "id long"))


def run_query(spark, name: str, sf_dir: str) -> tuple[float, float, int, int]:
    """One cold run of registered query ``name`` through the noop sink,
    under its own Spark job group. Returns ``(construct_s, wall_s,
    eager_jobs, jobs)``: ``construct_s`` is building the DataFrame,
    including every eager barrier (localCheckpoint/count rounds) it
    runs; ``wall_s`` is construction plus the sink; ``eager_jobs`` and
    ``jobs`` count the group's Spark jobs before and after the sink.
    Jobs a streaming query runs on its own execution thread carry that
    query's group and are not counted. The cache is cleared afterwards
    so no later run is served from this run's persisted blocks."""
    from bdc_collection_builder_spark.plans.registry import QUERY_REGISTRY

    sc = spark.sparkContext
    group = f"bench:{name}:{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    tracker = sc.statusTracker()
    start = time.perf_counter()
    df = QUERY_REGISTRY[name].spark_fn(spark, sf_dir)
    construct_s = time.perf_counter() - start
    eager_jobs = len(tracker.getJobIdsForGroup(group))
    start = time.perf_counter()
    materialize(df)
    wall_s = construct_s + time.perf_counter() - start
    jobs = len(tracker.getJobIdsForGroup(group))
    spark.catalog.clearCache()
    return construct_s, wall_s, eager_jobs, jobs


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(
        description="Run the benchmark suite, or time only named queries.")
    parser.add_argument(
        "--queries", help="comma-separated registered query names: time "
        "only these and print one JSON line per query")
    args = parser.parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    from bdc_collection_builder_spark.plans.registry import QUERY_REGISTRY, all_queries
    from bdc_collection_builder_spark.session import get_spark

    all_queries()
    names = args.queries.split(",") if args.queries else []
    unknown = [n for n in names if n not in QUERY_REGISTRY]
    if unknown:
        parser.error(f"unknown queries: {','.join(unknown)}")
    spark = get_spark("bench")
    _warm(spark, sf_dir)
    if names:
        for name in names:
            runs = [run_query(spark, name, sf_dir) for _ in range(n_runs)]
            walls = sorted(r[1] for r in runs)
            print(json.dumps({
                "query": name,
                "median": round(statistics.median(walls), 3),
                "min": round(walls[0], 3),
                "max": round(walls[-1], 3),
                "construct_s": round(statistics.median(r[0] for r in runs), 3),
                "eager_jobs": statistics.median(r[2] for r in runs),
                "jobs": statistics.median(r[3] for r in runs),
            }))
        spark.stop()
        return

    # Median-of-N per query (VERDICT-r3: best-of-2 let unchanged plans
    # bounce ±25% round-to-round — dd_minhash 2.06→1.37→1.74s — so the
    # delta table cried wolf). Local-mode wall times carry scheduler/GC
    # noise a real cluster amortizes; the median over N runs is the
    # steady estimator, and min/max are kept in the JSON so real
    # regressions are distinguishable from spread.
    #
    # Every run is COLD: the cache clears after each run, so repeat
    # runs of persist()-reusing queries (graph suite, semantic dedup)
    # no longer hit the previous run's cache blocks through Spark's
    # canonicalized-plan cache lookup. Rounds ≤3 measured min-of-2
    # where run 2 was cache-warm, so r3→r4 deltas on those queries
    # (e.g. gr_hits ~1.3→~2.3s) are the estimator change, not a plan
    # regression — plan fingerprints in PLANMAP.md are unchanged.
    times: dict[str, float] = {}
    spread: dict[str, dict[str, float]] = {}
    for name in BENCH_QUERIES:
        samples = sorted(run_query(spark, name, sf_dir)[1]
                         for _ in range(n_runs))
        times[name] = round(statistics.median(samples), 3)
        spread[name] = {"min": round(samples[0], 3),
                        "max": round(samples[-1], 3)}

    # BASELINE.md §4 proxies: band-expression pixel throughput, scene
    # pipeline throughput, incremental merge cost. Best-of-2 like the
    # queries — the first run pays Python-worker spawn + codegen.
    # Re-warm the Python workers first: the JVM-only query block above
    # can outlive their idle reaper, and a cold respawn would bill ~3s
    # of fork cost to whichever proxy runs first.
    _warm(spark, sf_dir)
    for key, proxy in [
        ("proxy_px_expression_2m", lambda: _px_expression_proxy(spark)),
        ("proxy_pipeline_scenes", lambda: _pipeline_proxy(spark, sf_dir)),
        ("proxy_merge_batch", lambda: _merge_proxy(spark, sf_dir)),
    ]:
        samples = sorted(proxy() for _ in range(3))
        times[key] = samples[1]  # median of 3
        spread[key] = {"min": samples[0], "max": samples[-1]}

    heavy = {name: round(run_query(spark, name, sf_dir)[1], 3)
             for name in HEAVY_QUERIES}

    # Census (VERDICT-r9 task 3): ONE warm run of every registered
    # query not already measured above, registry order, cache cleared
    # between runs. This exists to catch unknown >5s tails by process
    # — tj_resample_interpolate sat at ~7s for rounds without anyone
    # noticing because only suite/heavy members were ever timed. The
    # census is NOT round-over-round comparable (single run, no
    # median); it feeds exactly one signal: the census_flagged() gate
    # below. The five store-seam queries (s27/s33-s36) stay out of
    # the SUITE because their module-level outcome caches make only
    # the first in-process invocation measure the engine — but the
    # census IS a single first invocation, so their numbers here are
    # honest build costs.
    measured = set(times) | set(heavy)
    census = {name: round(run_query(spark, name, sf_dir)[1], 3)
              for name in QUERY_REGISTRY if name not in measured}
    # Measurement fix (round 10, documented in OPTIMIZATION_r10.md):
    # a census entry is ONE sample, so a contention burst on this
    # machine (storms measured at 10-40x on otherwise sub-2s
    # queries) can push any query past the gate for one round —
    # the round-10 closing runs tripped three DIFFERENT quiet-day
    # sub-3s queries across consecutive runs. A flagged sample gets
    # exactly one confirmation run and keeps the MIN: a storm
    # sample does not reproduce, a genuine tail does. The first
    # sample is preserved in the artifact via census_retried.
    census_retried: dict[str, float] = {}
    for name, first in list(census.items()):
        if census_flagged(name, first):
            census_retried[name] = first
            census[name] = min(
                first, round(run_query(spark, name, sf_dir)[1], 3))
    # the key name predates the triage floors: it lists every entry
    # the gate still flags after its confirmation run
    census_over5s = sorted(n for n, t in census.items()
                           if census_flagged(n, t))

    total = round(sum(times.values()), 3)
    # Contention self-report (VERDICT-r6 What's-wrong #1): round 6's
    # driver machine was contended — j10 median 3.99s with spread min
    # 1.40s on a plan unchanged since r5 — and the total read as a 17%
    # regression until the judge re-ran it clean. A query whose
    # max/min spread exceeds 2.5 is flagged `noisy`; the suite also
    # reports `clean_queries_total` (sum over un-flagged queries) so a
    # contaminated round self-identifies instead of crying regression.
    noisy = {n for n, s in spread.items()
             if s["min"] > 0 and s["max"] / s["min"] > 2.5}
    for n in spread:
        spread[n]["noisy"] = n in noisy
    clean_total = round(sum(t for n, t in times.items()
                            if n not in noisy), 3)
    # Per-query delta vs the LATEST recorded round: surfaces
    # regressions query-by-query instead of letting suite growth mask
    # them (per VERDICT-r9, per-query deltas with noisy exclusion are
    # the only round-over-round signal this machine supports — suite
    # totals swing ±15% on identical code). Noisy queries are
    # EXCLUDED — their medians are contaminated. Delta source
    # (ADVICE-r9): the compact line carries 1-dp medians, so reading
    # them back gives deltas a ±0.05s quantization floor; when the
    # committed BENCH_FULL.json is the SAME run as the newest
    # BENCH_r{N}.json (2-dp totals match — the driver commits both
    # together), prefer its 3-dp map.
    here = os.path.dirname(os.path.abspath(__file__))
    recorded = sorted(f for f in os.listdir(here)
                      if f.startswith("BENCH_r") and f.endswith(".json"))
    deltas: dict[str, float] = {}
    prev_round = None
    delta_source = None
    # Walk newest→oldest: a driver record can have "parsed": null when
    # its stdout tail capture truncated (BENCH_r04), so fall back to
    # the newest round that actually parsed.
    for fname in reversed(recorded):
        try:
            with open(os.path.join(here, fname)) as fh:
                doc = json.load(fh)
            # the driver wraps the bench line under "parsed"
            parsed = doc.get("parsed", doc) or {}
            prev = parsed.get("queries", {})
        except (json.JSONDecodeError, OSError):
            continue
        if prev:
            prev_round = fname.removesuffix(".json")
            delta_source = "compact_1dp"
            try:
                with open(os.path.join(here, "BENCH_FULL.json")) as fh:
                    prev_full = json.load(fh)
                full_q = prev_full.get("queries", {})
                # same-run check: every shared query's 3-dp median
                # rounds to the compact line's 1-dp value
                if full_q and all(
                        abs(full_q.get(n, 1e9) - v) <= 0.05 + 1e-9
                        for n, v in prev.items() if n in full_q):
                    prev = {**prev, **{n: t for n, t in full_q.items()
                                       if n in prev}}
                    delta_source = "full_3dp"
            except (json.JSONDecodeError, OSError):
                pass
            deltas = {n: round(t - prev[n], 3)
                      for n, t in times.items()
                      if n in prev and n not in noisy}
            break
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full record (spread + census + per-query deltas) goes to a FILE
    # and a PRECEDING stdout line; the driver's tail capture keeps
    # only the last ~2000 chars of stdout, and the
    # one-line-with-everything format outgrew that in round 4
    # ("parsed": null). The LAST line is a compact summary sized under
    # the capture window so BENCH_r{N}.json parses.
    full = {
        "metric": "headline_query_suite_wall",
        "value": total,
        "clean_queries_total": clean_total,
        # One-round comparability note (VERDICT-r10 task 6): this
        # 65-entry suite is r10's frozen-v2-63 plus the two round-11
        # graduates dd_exact_substring_maxlen + tj_resample_interpolate
        # (ex-BENCH_HEAVY), so "value" grows by their ~9s; per-query
        # medians remain the comparable signal.
        "suite": "frozen-v2-65",
        "noisy_queries": sorted(noisy),
        "unit": "sec",
        "n": n_runs,
        "queries": times,
        "heavy": heavy,
        "census": census,
        "census_retried_first_sample": census_retried,
        "census_over5s_untriaged": census_over5s,
        "census_triaged": CENSUS_TRIAGED,
        "query_spread": spread,
        "delta_vs_prev": deltas,
        "delta_source": delta_source,
        "prev_round": prev_round,
        "sf": sf_val,
    }
    with open(os.path.join(here, "BENCH_FULL.json"), "w") as fh:
        json.dump(full, fh, indent=1)
    print(json.dumps(full))
    # Compact line — the ONE line the driver parses (its stdout tail
    # capture keeps only the last 2000 chars). Round-11 contract fix
    # (VERDICT-r10 What's-wrong #1/#2, Next-round item 1):
    #   * the 3 BASELINE proxies are BACK in the compact queries map
    #     (r10 trimmed them "for budget" and the driver recorded them
    #     as dropped_from_bench — a reporting regression);
    #   * `noisy_min` maps every noisy-flagged suite entry (max/min
    #     spread > 2.5) to its per-query MIN — the contention-robust
    #     estimator (contention only ever adds time) — so a storm-
    #     contaminated median is visible AND replaceable downstream.
    # The 65-entry queries map is ~1.8k chars on its own, so the line
    # can no longer also carry heavy/clean_queries_total/delta_worst
    # (the r10 line was 1984 chars with 60 entries and no proxies —
    # at the capture limit already). Those moved to (a) the committed
    # BENCH_FULL.json (3-dp, everything, always) and (b) a short
    # "heavy" JSON line printed immediately BEFORE the compact line:
    # the driver parses only the last line, but its 2000-char tail
    # still shows the heavy line on quiet runs. fit_compact keeps the
    # compact line itself under 1980 chars, and raises if trimming
    # cannot bring it under the budget.
    print(json.dumps(
        {"heavy": {n: round(t, 2) for n, t in heavy.items()}},
        separators=(",", ":")))
    noisy_min = {n: round(spread[n]["min"], 1) for n in sorted(noisy)}
    compact = {
        "metric": "headline_query_suite_wall",
        "value": round(total, 2),
        "unit": "sec",
        "queries": {n: round(t, 1) for n, t in times.items()},
        "noisy_min": noisy_min,
        "sf": sf_val,
    }
    # the census gate list is empty on every passing round (the
    # committed BENCH_FULL.json + test_artifacts enforce it); spend
    # the ~20 chars on it only when it actually fires
    if census_over5s:
        compact["census_over5s"] = census_over5s

    fit_compact(compact, spread)
    print(json.dumps(compact, separators=(",", ":")))
    spark.stop()


def _px_expression_proxy(spark) -> float:
    """NDVI band expression over ~2M pixels (8 scenes x 512x512) —
    pixels/s for the X9 engine; whole-stage codegen, no Python."""
    from pyspark.sql import functions as F

    from bdc_collection_builder_spark.functions.expression import (
        compile_band_expression,
    )
    from bdc_collection_builder_spark.functions.pixel import synthetic_pixels

    px = synthetic_pixels(spark, n_scenes=8, height=512, width=512)
    ndvi = compile_band_expression(
        "NDVI = (B08 - B04) / (B08 + B04)", {"B04", "B08"},
        dtype="int16", nodata=-9999.0, scale=10000.0)
    start = time.perf_counter()
    materialize(px.select("scene_id", "y", "x", ndvi.alias("ndvi")))
    return round(time.perf_counter() - start, 3)


def _pipeline_proxy(spark, sf_dir: str) -> float:
    """Scene-pipeline throughput: search-shaped scenes through the
    download-failover + processor stages (deterministic simulators —
    measures the Spark plumbing, not network)."""
    from pyspark.sql import functions as F

    from bdc_collection_builder_spark.pipeline.stages import (
        download_correction_stage,
        split_fused,
    )
    from bdc_collection_builder_spark.sources.tables import load_table

    scenes = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.concat(F.lit("S2A_"), F.col("o_orderkey").cast("string"))
            .alias("scene_id"),
            (F.col("o_orderkey") % 3 + 1).cast("int").alias("collection_id"),
        )
    )
    collections = spark.createDataFrame(
        [(i, '{"processors":[{"name":"sen2cor"}]}') for i in (1, 2, 3)],
        "id int, metadata string")
    start = time.perf_counter()
    _, corrected = split_fused(download_correction_stage(
        scenes, ["usgs", "scihub", "creodias"], collections))
    materialize(corrected)
    return round(time.perf_counter() - start, 3)


def _merge_proxy(spark, sf_dir: str) -> float:
    """Idempotent MERGE batch cost (Y3): upsert 1k item rows into a
    10k-row catalog on a scratch store."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from bdc_collection_builder_spark.catalog.fixtures import make_fixtures
    from bdc_collection_builder_spark.catalog.store import CatalogStore

    scratch = tempfile.mkdtemp(prefix="bdc_bench_merge_")
    try:
        store = CatalogStore(spark, scratch)
        items = make_fixtures(spark, n_scenes=10000, n_tiles=32)["items"]
        store.overwrite("items", items)
        batch = store.read("items").limit(1000).withColumn(
            "cloud_cover", F.lit(42.0))
        start = time.perf_counter()
        store.merge_upsert("items", batch)
        return round(time.perf_counter() - start, 3)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
