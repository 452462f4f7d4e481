"""Deduplication operators over a document table.

Five dedup families, each with a distinct scale profile:

- **exact**: hash-groupBy on the full text — one shuffle on md5(text).
- **n-gram Jaccard (exact)**: shingle-explode → self-join on shingle →
  per-pair intersection counts. Exact but O(pairs sharing a shingle);
  the scale path prunes with MinHash first.
- **MinHash + LSH**: per-doc signature (k xxhash64 seeds, min over
  shingles), banded into b buckets; candidate pairs = docs sharing a
  band bucket (equi-join on (band, bucket) — no cross join anywhere);
  candidates verified with exact Jaccard. This is the 100 TB path:
  cost is O(docs · k) + O(candidate pairs).
- **SimHash**: 64-bit signature via per-bit majority vote of token
  hashes; near-dups = signatures within a Hamming radius, bucketed by
  signature quarters (any pair within radius 3 shares ≥1 of 4 exact
  quarter-keys — pigeonhole).
- **embedding cosine**: near-dup pairs above a cosine threshold (see
  similarity.py for the ANN machinery).

All joins are equi-joins on derived keys; nothing collects to the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bdc_collection_builder_spark.extensions.text import tokens
from bdc_collection_builder_spark.functions.iterate import iterate
from bdc_collection_builder_spark.functions.persist import tracked_persist


def exact_duplicates(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group on content hash, keep the minimum id as the
    canonical document, count members."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_docs"))
    )


def shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             k: int = 5, hashed: bool = False) -> DataFrame:
    """Distinct k-token shingles per document (long format).

    ``hashed=True`` collapses each shingle to its xxhash64 INSIDE the
    per-doc array (then re-dedupes the array), so the exploded table is
    an exact set of 8-byte keys per document with no extra shuffle —
    a post-explode ``dropDuplicates`` would move every shingle across
    the cluster just to kill the vanishingly rare hash collision."""
    # Materialize the token array in its own projection first: lambda
    # bodies re-evaluate captured expressions per element, so an inline
    # tokens() would recompute the regex split once per shingle index
    # (O(tokens²) per document).
    from bdc_collection_builder_spark.functions.parallel import spread

    tok_df = spread(docs).select(F.col(id_col).alias("doc_id"),
                                 tokens(F.col(text_col)).alias("__toks"))
    toks = F.col("__toks")
    sh = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # array_distinct dedupes within the document BEFORE the explode —
    # the same result as .distinct() on (doc_id, shingle) rows but with
    # no shuffle at all (per-doc arrays are small; the old Exchange
    # moved every shingle string across the cluster).
    arr = F.array_distinct(sh)
    if hashed:
        arr = F.array_distinct(F.transform(arr, lambda s: F.xxhash64(s)))
    return tok_df.select("doc_id", F.explode(arr).alias("shingle"))


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (doc_a < doc_b, jaccard >= t).

    Self-join on shingle → count common shingles per pair → Jaccard from
    per-doc shingle counts. Exact baseline the LSH path is verified
    against."""
    sh = tracked_persist(shingles(docs, text_col, id_col, k))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "doc_a").join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


_MERSENNE_31 = 2147483647  # 2^31 - 1


def _hash_family(n_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Carter-Wegman (a, b) pairs over GF(2^31 - 1)."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31))
            for _ in range(n_hashes)]


def md5_hash60(col) -> "F.Column":
    """First 60 bits of md5 as a non-negative bigint — the
    engine-neutral base hash (DuckDB: CAST('0x'||substr(md5(x),1,15) AS
    BIGINT) produces the identical value, so hash-driven operators
    become oracle-checkable end-to-end). xxhash64 stays the production
    default: one JVM intrinsic vs md5's full digest."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def minhash_signatures_from_shingles(sh: DataFrame, n_hashes: int = 32,
                                     base_hash: str = "xxhash64") -> DataFrame:
    """MinHash signatures from a (doc_id, shingle) table.

    The shingle string is hashed ONCE (xxhash64, or md5-60bit when
    ``base_hash='md5'`` for cross-engine verification); the n_hashes
    family members are universal-hash rewrites of that value,
    ``(a_i * h + b_i) mod (2^31 - 1)`` — 1 string hash + n multiply-adds
    per row instead of n string hashes (~n x cheaper map side). Operands
    stay < 2^62 so the arithmetic is ANSI-overflow-safe. One map-side-
    combined aggregation; the signature rides as an array column."""
    fam = _hash_family(n_hashes)
    if base_hash == "md5":
        base = sh.withColumn(
            "__h", md5_hash60(F.col("shingle")) % _MERSENNE_31)
    elif base_hash == "prehashed":
        # shingle column already holds the xxhash64 long
        base = sh.withColumn(
            "__h", F.pmod(F.col("shingle"), F.lit(_MERSENNE_31)))
    else:
        base = sh.withColumn(
            "__h", F.pmod(F.xxhash64("shingle"), F.lit(_MERSENNE_31)))
    # Cached SQL text (see similarity._cached_expr): composing 32
    # universal-hash aggregates through the Column API costs ~0.5s of
    # py4j driver time per invocation; the parsed expressions are
    # identical arithmetic and memoized process-wide.
    from bdc_collection_builder_spark.extensions.similarity import (
        _cached_expr,
    )

    mins = [
        _cached_expr(f"min((__h * {a} + {b}) % {_MERSENNE_31})")
        .alias(f"h{i}")
        for i, (a, b) in enumerate(fam)
    ]
    sig = base.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id",
        _cached_expr("array(" + ", ".join(
            f"h{i}" for i in range(n_hashes)) + ")").alias("signature"),
    )


def lsh_candidates(sig: DataFrame, bands: int, rows_per_band: int,
                   engine_neutral: bool = False) -> DataFrame:
    """Banded LSH candidate pairs (doc_a < doc_b) from a (doc_id,
    signature) table: explode each signature into its band keys, then
    ONE equi-join on (band, band_key) — never all-pairs. Shared by the
    near-dup pipeline and the sketch-accuracy eval."""
    from bdc_collection_builder_spark.extensions.similarity import (
        _cached_expr,
    )

    def band_key_sql(band: int) -> str:
        refs = [f"signature[{band * rows_per_band + r}]"
                for r in range(rows_per_band)]
        if engine_neutral:
            casted = ", ".join(f"CAST({r} AS STRING)" for r in refs)
            return f"concat_ws('|', {casted})"
        # 8-byte join key instead of a concat'd string: the band's
        # sub-signature collapses through one xxhash64
        return f"xxhash64({', '.join(refs)})"

    banded_sql = "array(" + ", ".join(
        f"named_struct('band', {band}, 'band_key', {band_key_sql(band)})"
        for band in range(bands)) + ")"
    banded = sig.select(
        "doc_id",
        F.explode(_cached_expr(banded_sql)).alias("bb"),
    ).select("doc_id", "bb.band", "bb.band_key")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 5, n_hashes: int = 32,
                      bands: int = 8, threshold: float = 0.5,
                      engine_neutral: bool = False) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, verified with exact Jaccard.

    Banding: n_hashes/bands rows per band; docs sharing any band's full
    sub-signature become candidates (equi-join on (band, band_key)).
    With 32 hashes / 8 bands the S-curve crosses ~0.5 Jaccard — tune
    (n_hashes, bands) for other thresholds. Candidates are then scored
    with exact Jaccard so false positives drop out; false-negative rate
    is the standard 1-(1-s^r)^b curve.

    The shingle table is computed once and persisted — it feeds the
    signatures AND both sides of the verification join; without the
    persist the whole explode recomputes per plan branch.

    ``engine_neutral=True`` swaps xxhash64 for md5-60bit as the base
    hash and joins bands on the raw sub-signature string instead of its
    xxhash64 — identical algorithm, every intermediate reproducible in
    ANSI SQL (the dd_minhash_lsh_md5 oracle recomputes the whole thing
    in DuckDB)."""
    rows_per_band = n_hashes // bands
    if engine_neutral:
        sh = tracked_persist(shingles(docs, text_col, id_col, k))
        sig = minhash_signatures_from_shingles(sh, n_hashes, "md5")
        # sig (one row per doc, 32 longs) feeds BOTH sides of the banded
        # self-join; without the persist the 32-min aggregate over the
        # whole shingle table replays once per side (|frame| << producing
        # work, the round-10 persist rule)
        sig = tracked_persist(sig)
    else:
        # Production path: collapse each shingle string to its xxhash64
        # ONCE, inside the per-doc array (shingles(hashed=True)) — the
        # cached table, the signature build, and both sides of the
        # verification join then move 8-byte longs instead of ~40-byte
        # strings (equal-hash stands in for equal-shingle), and the
        # in-array re-dedupe keeps the table an exact set per doc even
        # when two distinct shingles collide in xxhash64, with no
        # post-explode shuffle. The md5 path keeps strings: its DuckDB
        # oracle recomputes every intermediate from them.
        sh = tracked_persist(shingles(docs, text_col, id_col, k, hashed=True))
        sig = minhash_signatures_from_shingles(sh, n_hashes, "prehashed")
        # same both-sides-of-the-self-join reuse as the md5 branch
        sig = tracked_persist(sig)

    candidates = lsh_candidates(sig, bands, rows_per_band,
                                engine_neutral)
    # Exact-Jaccard verification restricted to the candidate pairs —
    # never all-pairs: two equi-joins against the shingle table, keyed
    # (doc, shingle), so cost scales with candidates, not corpus².
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "doc_a").join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", bits: int = 64,
                       base_hash: str = "xxhash64") -> DataFrame:
    """SimHash per document: per-bit majority vote over token hashes
    (64-bit xxhash64 by default; 60-bit md5 when ``base_hash='md5'``
    for cross-engine verification). Explode tokens → per-(doc, bit)
    vote sum → assemble bits. Two shuffles on doc_id, both
    partial-aggregated map-side."""
    from bdc_collection_builder_spark.functions.parallel import spread

    toks = spread(docs).select(F.col(id_col).alias("doc_id"),
                               F.explode(tokens(F.col(text_col))).alias("tok"))
    if base_hash == "md5":
        assert bits <= 60, "md5-60bit base hash carries only 60 bits"
        toks = toks.withColumn("h", md5_hash60(F.col("tok")))
    else:
        toks = toks.withColumn("h", F.xxhash64("tok"))
    # Cached SQL text for the 64 vote aggregates and the 64-term bit
    # assembly (see similarity._cached_expr) — the Column composition
    # cost ~1.4s of py4j driver time per invocation; arithmetic is
    # identical (shiftleft wraps JVM-style, no literal 1<<63 overflow).
    from bdc_collection_builder_spark.extensions.similarity import (
        _cached_expr,
    )

    votes = [
        _cached_expr(
            f"sum(CASE WHEN (shiftright(h, {bit}) & 1) = 1 "
            "THEN 1 ELSE -1 END)").alias(f"b{bit}")
        for bit in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    sig = _cached_expr("(" + " | ".join(
        f"(CASE WHEN b{bit} > 0 "
        f"THEN shiftleft(CAST(1 AS BIGINT), {bit}) "
        "ELSE CAST(0 AS BIGINT) END)"
        for bit in range(bits)) + ")")
    return agg.select("doc_id", sig.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", radius: int = 3,
                       engine_neutral: bool = False) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius. Bucketing by the
    4 quarters of the signature (16 bits each, 15 for the md5-60bit
    engine-neutral variant): any pair with ≤3 differing bits agrees
    exactly on ≥1 quarter (pigeonhole), so candidates come from
    4 equi-joins, not a cross join."""
    bits = 60 if engine_neutral else 64
    # sig (one long per doc) feeds both sides of the quarter self-join;
    # persist so the 64-vote corpus aggregate computes once, not per side
    # (|frame| << producing work, the round-10 persist rule)
    sig = tracked_persist(simhash_signatures(
        docs, text_col, id_col, bits,
        "md5" if engine_neutral else "xxhash64"))
    qbits = bits // 4
    quarters = sig.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(q).alias("q"),
                F.shiftright(F.col("simhash"), q * qbits)
                 .bitwiseAND(F.lit((1 << qbits) - 1)).alias("qkey"),
            ) for q in range(4)
        ])).alias("qq"),
    ).select("doc_id", "simhash", "qq.q", "qq.qkey")
    a = quarters.alias("a")
    b = quarters.alias("b")
    cand = (
        a.join(b, (F.col("a.q") == F.col("b.q")) & (F.col("a.qkey") == F.col("b.qkey"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                F.col("a.simhash").alias("sig_a"), F.col("b.simhash").alias("sig_b"))
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= radius)
    )


def embedding_near_pairs(embeddings: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         threshold: float = 0.95,
                         left_stride: int = 1) -> DataFrame:
    """Embedding-cosine near-dup pairs above a threshold (brute-force
    baseline; the LSH path lives in similarity.py). ``left_stride``
    samples the left side for bounded pair counts during verification."""
    from bdc_collection_builder_spark.extensions.similarity import dot, norm

    # Norms computed once per side, not inside every pair's cosine —
    # identical arithmetic, ~3x less higher-order-function work.
    left = embeddings.select(F.col(id_col).alias("id_a"),
                             F.col(vec_col).alias("v_a"),
                             norm(F.col(vec_col)).alias("n_a"))
    if left_stride > 1:
        left = left.filter(F.col("id_a") % left_stride == 0)
    right = embeddings.select(F.col(id_col).alias("id_b"),
                              F.col(vec_col).alias("v_b"),
                              norm(F.col(vec_col)).alias("n_b"))
    pairs = left.join(right, F.col("id_a") < F.col("id_b"))
    sim = dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b"))
    return (
        pairs.select("id_a", "id_b", F.round(sim, 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_pairs_lsh(embeddings: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             threshold: float = 0.95, left_stride: int = 1,
                             n_tables: int = 16, n_bits: int = 12,
                             dim: int = 64, seed: int = 42) -> DataFrame:
    """Embedding-cosine near-dup pairs — the SCALE path: hyperplane-LSH
    bucketed candidates + exact cosine re-rank, no all-pairs join.

    Each vector lands in ``n_tables`` sign-LSH buckets; only pairs
    sharing a (table, bucket) key are scored. The self-join is an
    equi-join on the bucket key (id_a < id_b is a residual predicate on
    it, not the join condition), so cost scales with bucket occupancy,
    not corpus². Parallel vectors (cosine 1.0 — the scaled-copy dups
    exact dedup misses) produce identical signs on every hyperplane and
    therefore collide in EVERY table: recall for exact-direction dups
    is 1.0 by construction. For threshold-grade pairs (0.95) the
    default (16 tables x 12 bits) gives ~99.4% expected recall
    (per-bit collision 1-acos(0.95)/pi ~= 0.90, standard
    1-(1-0.90^12)^16 curve). :func:`embedding_near_pairs` is the exact
    brute-force twin used by the test suite to verify this path."""
    from bdc_collection_builder_spark.extensions.similarity import (
        _hyperplanes, dot, hash_buckets, norm)

    from bdc_collection_builder_spark.functions.parallel import spread

    planes = _hyperplanes(n_tables, n_bits, dim, seed)
    keys = hash_buckets(vec_col, planes)
    # (A candidate persist of the signature frame measured as a local
    # LOSS — the cache write of corpus × (vec + key array) rows costs
    # more than replaying the hashing scan twice; reverted.)
    bucketed = spread(embeddings).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
        F.posexplode(keys).alias("table_id", "bucket"))
    left = (bucketed.filter(F.col("vid") % left_stride == 0)
            if left_stride > 1 else bucketed)
    # Score + threshold at the collision site so the dedup exchange
    # carries (id_a, id_b, cosine) for MATCHING pairs only — the old
    # form shuffled both 64-float vectors for every candidate
    # collision (guide §2.3). Duplicate collisions score identically,
    # so filter-then-dedup equals the old dedup-then-filter. Trade
    # (ADVICE-r10): exact-direction duplicates collide in all tables,
    # so the hottest pairs pay up to n_tables x the 64-float dot in
    # exchange for the smaller shuffle — measured a win at dim=64 /
    # current table counts; re-measure if dim or n_tables grows
    # substantially.
    sim = dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.nrm")
                                                 * F.col("b.nrm"))
    return (
        left.alias("a").join(
            bucketed.alias("b"),
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")))
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"),
                F.round(sim, 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def _seeded_assignment(base: DataFrame, n_centroids: int,
                       id_col: str) -> DataFrame:
    """Seeded relational quantizer shared by the SemDeDup paths: the
    first ``n_centroids`` vectors (by id) are the centroids, collapsed
    to one broadcast array row; assignment is an argmax scan with ties
    toward the lower centroid id (matching the oracle's row_number
    ORDER BY sim DESC, cid)."""
    from bdc_collection_builder_spark.extensions.similarity import dot

    cent = base.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cid"), F.col("vec").alias("cent_vec"),
        F.col("nrm").alias("cent_norm"))
    carr = cent.agg(F.array_sort(F.collect_list(
        F.struct("cid", "cent_vec", "cent_norm"))).alias("cents"))
    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            (dot(F.col("vec"), c["cent_vec"])
             / (F.col("nrm") * c["cent_norm"])).alias("sim"),
            (-c["cid"]).alias("negcid")))
    return (
        base.crossJoin(F.broadcast(carr))
        .withColumn(
            "centroid_id",
            -F.reverse(F.array_sort(scored))[0]["negcid"])
        .drop("cents"))


def semantic_dup_max_sim(embeddings: DataFrame, n_centroids: int = 16,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Per vector, the MAXIMUM cosine to any LOWER-id member of its
    cluster (NULL when it has none) — the quantity SemDeDup thresholds;
    exposing it lets a threshold-sensitivity sweep run from ONE pair
    scan instead of re-running the dedup per candidate threshold."""
    from bdc_collection_builder_spark.extensions.similarity import (
        dot, norm)
    from bdc_collection_builder_spark.functions.parallel import spread

    base = spread(embeddings).select(
        F.col(id_col), F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"))
    assigned = tracked_persist(_seeded_assignment(base, n_centroids,
                                                  id_col))
    pair_sim = F.round(
        dot(F.col("a.vec"), F.col("b.vec"))
        / (F.col("a.nrm") * F.col("b.nrm")), 6)
    best = (
        assigned.alias("a").join(
            assigned.alias("b"),
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"b.{id_col}").alias(id_col),
                pair_sim.alias("sim"))
        .groupBy(id_col).agg(F.max("sim").alias("max_sim")))
    return (
        assigned.select(id_col, "centroid_id")
        .join(best, id_col, "left"))


def connected_components(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b", max_iter: int = 20) -> DataFrame:
    """Connected components over a near-duplicate pair graph — the step
    that turns pairwise dedup output into dedup GROUPS (keep one doc
    per component, drop the rest).

    Iterative min-label propagation: every node repeatedly adopts the
    smallest label among itself and its neighbors; converged when an
    iteration changes nothing. Each round is one shuffle-join + one
    aggregate, all distributed — no driver-side union-find. Rounds
    needed = graph diameter, and near-dup clusters are shallow (a dup
    cluster's diameter is almost always ≤ 3; the large-star/small-star
    rewrite that guarantees O(log n) rounds plugs in here if a corpus
    ever produces deep chains). ``localCheckpoint`` truncates the plan
    each round so the lineage doesn't grow quadratically.

    Returns (doc_id, component_id) for every node appearing in an edge,
    component_id = min doc_id reachable."""
    both = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        # materialized once — every propagation round re-reads the edge
        # set, and without this each round would recompute the (possibly
        # expensive) upstream pair-generation plan from scratch
        .localCheckpoint(eager=True)
    )
    labels = (
        both.select(F.col("a").alias("doc_id")).distinct()
        .withColumn("component_id", F.col("doc_id"))
    )

    def propagate(state: DataFrame, _i: int) -> DataFrame:
        labels = state.select("doc_id", "component_id")
        # smallest neighbor label per node, then min with own label
        neighbor_min = (
            both.join(labels, both.b == labels.doc_id)
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("component_id").alias("nbr_min"))
        )
        return (
            labels.join(neighbor_min, "doc_id", "left")
            .select("doc_id",
                    F.least("component_id", "nbr_min").alias("component_id"),
                    (F.col("nbr_min") < F.col("component_id")).alias("chg"))
        )

    return iterate(
        labels, propagate, max_iter, checkpoint_every=1,
        changed=lambda s: s.filter(F.col("chg")).limit(1).count() > 0,
    ).select("doc_id", "component_id")


def connected_components_star(edges: DataFrame, src: str = "doc_a",
                              dst: str = "doc_b",
                              max_iter: int = 20) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rewrites (Kiveris et al., "Connected Components in MapReduce and
    Beyond", public) — the documented escape hatch of
    :func:`connected_components` for graphs with DEEP chains: min-label
    propagation needs diameter rounds, star contraction needs
    O(log n) regardless of diameter.

    Each round is join-shaped (per-node min via groupBy, joined back) —
    no per-node neighbor lists are ever collected, so a hot node (one
    doc near-duplicating millions) never concentrates on one task:

    - large-star: every neighbor v > u re-points to m(u), the minimum
      of u's closed neighborhood;
    - small-star: every neighbor v ≤ u re-points to m(u).

    A state is a fixpoint exactly when it is a star forest: every node
    that has a smaller neighbor has exactly one neighbor, so each
    component is its minimum plus leaves. The loop stops at the first
    such state; the result maps every node to its component minimum,
    exactly like the propagation variant (equivalence is pytest-pinned
    on random graphs)."""
    both = (
        edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
        .union(edges.select(F.col(dst).cast("long").alias("u"),
                            F.col(src).cast("long").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def star(e: DataFrame, large: bool) -> DataFrame:
        # m(u) = min over closed neighborhood (neighbors ∪ self);
        # min(v) then least with the grouping key itself — one agg
        # buffer, not two (first(u) == u under groupBy(u))
        mins = (e.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least(F.col("u"), F.col("mv")).alias("m")))
        half = e.filter(F.col("v") > F.col("u")) if large \
            else e.filter(F.col("v") <= F.col("u"))
        relinked = (half.join(mins, "u")
                    .select(F.col("v").alias("u"), F.col("m").alias("v"))
                    .filter(F.col("u") != F.col("v")))
        # keep u→m(u) self-links so isolated-after-rewrite nodes retain
        # their pointer edge
        selfed = mins.filter(F.col("u") != F.col("m")).select(
            "u", F.col("m").alias("v"))
        out = relinked.union(selfed)
        return out.union(out.select(F.col("v").alias("u"),
                                    F.col("u").alias("v"))).distinct()

    def contract(e: DataFrame, _i: int) -> DataFrame:
        # The large-star checkpoint is load-bearing: star() reads its
        # input twice (the mins groupBy and the half filter), so an
        # unmaterialized large-star output would replay its plan per
        # reader (iterate() takes the small-star one).
        return star(star(e, large=True).localCheckpoint(eager=True),
                    large=False)

    def changed(e: DataFrame) -> bool:
        # not yet a star forest: some node has a smaller neighbor and
        # more than one neighbor
        return (e.groupBy("u")
                .agg(F.min("v").alias("mv"), F.count("*").alias("deg"))
                .filter((F.col("mv") < F.col("u")) & (F.col("deg") > 1))
                .limit(1).count() > 0)

    e = iterate(both, contract, max_iter, checkpoint_every=1,
                changed=changed)
    labels = (e.groupBy("u")
              .agg(F.least(F.min("v"), F.first("u")).alias("component_id"))
              .select(F.col("u").alias("doc_id"), "component_id"))
    # nodes that ended as pure component minima appear only on the v
    # side; give them their own label
    mins_only = (e.select(F.col("v").alias("doc_id")).distinct()
                 .join(labels.select("doc_id"), "doc_id", "left_anti")
                 .withColumn("component_id", F.col("doc_id")))
    return labels.unionByName(mins_only)


def banded_signatures(docs: DataFrame | None = None, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 5,
                      n_hashes: int = 32, bands: int = 8,
                      sh: DataFrame | None = None):
    """(shingle_table, banded_table) for ``docs`` on the PRODUCTION
    hash path — the reusable front half of :func:`minhash_lsh_pairs`
    (same shingling, same signature family, same 8-byte xxhash64 band
    keys), exposed so INCREMENTAL consumers (streaming near-dedup) can
    persist the two tables and probe them batch-by-batch instead of
    recomputing the corpus. Returns
    ``(sh: (doc_id, shingle-hash), banded: (doc_id, band, band_key))``.

    Pass a precomputed ``sh`` (doc_id, shingle-hash) to derive the
    signatures from it instead of re-shingling ``docs`` — the hook
    callers use to inject fallback shingles for sub-``k``-token docs.
    """
    rows_per_band = n_hashes // bands
    if sh is None:
        sh = shingles(docs, text_col, id_col, k, hashed=True)
    sig = minhash_signatures_from_shingles(sh, n_hashes, "prehashed")
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(band).alias("band"),
                    F.xxhash64(*[
                        F.col("signature")[band * rows_per_band + r]
                        for r in range(rows_per_band)
                    ]).alias("band_key"))
                for band in range(bands)
            ])
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.band_key")
    return sh, banded


def semantic_dedup(embeddings: DataFrame, n_centroids: int = 16,
                   threshold: float = 0.97, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   centroids: list[list[float]] | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then mark a document as a semantic duplicate when
    its cosine similarity to a LOWER-id member of the SAME cluster
    clears ``threshold`` (lowest id per duplicate group survives —
    deterministic representative choice).

    This is the scale path for embedding dedup at 100 TB: clustering
    bounds the pairwise comparison to within-cluster members, so cost
    is Σ|cluster|² instead of corpus² — with k ∝ √n clusters the
    expected work is ~n^1.5 spread over an equi-join shuffle keyed on
    ``centroid_id``, never a cross join.

    Quantizer is pluggable:

    - ``centroids=None`` (oracle-checked variant): seeded *relational*
      quantizer — the first ``n_centroids`` corpus vectors (by id) are
      the centroids, joined as one broadcast array row and argmax-
      scanned per vector (shuffle-free assignment, ties toward the
      lower centroid id). Every step replays verbatim in an external
      SQL engine.
    - ``centroids=[[...], ...]`` (production): a trained quantizer
      (e.g. :func:`similarity._train_centroids` Lloyd's on a bounded
      sample); centroids ship as literals — assignment stays a
      map-only projection.

    Returns one row per input vector: ``(id_col, centroid_id,
    is_dup)``.
    """
    from bdc_collection_builder_spark.extensions.similarity import (
        _nearest_centroids, dot, norm)
    from bdc_collection_builder_spark.functions.parallel import spread

    # safe to spread: both quantizer variants are partition-order
    # independent (id-filtered seeds / literal centroids), and the
    # within-cluster scan is keyed work
    base = spread(embeddings).select(
        F.col(id_col), F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"))
    if centroids is not None:
        assigned = base.withColumn(
            "centroid_id",
            _nearest_centroids(F.col("vec"), centroids, 1)[0])
    else:
        assigned = _seeded_assignment(base, n_centroids, id_col)
    # assigned feeds BOTH sides of the within-cluster pair join plus the
    # final flag join — without a persist the whole assignment subplan
    # (centroid broadcast + argmax scan) runs three times
    assigned = tracked_persist(assigned)
    pair_sim = F.round(
        dot(F.col("a.vec"), F.col("b.vec"))
        / (F.col("a.nrm") * F.col("b.nrm")), 6)
    dups = (
        assigned.alias("a").join(
            assigned.alias("b"),
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .filter(pair_sim >= threshold)
        .select(F.col(f"b.{id_col}").alias("dup_id"))
        .distinct())
    return (
        assigned.join(dups, assigned[id_col] == dups["dup_id"], "left")
        .select(F.col(id_col), F.col("centroid_id"),
                F.col("dup_id").isNotNull().alias("is_dup")))
