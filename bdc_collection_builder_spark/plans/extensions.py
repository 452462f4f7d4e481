"""Training-data pipeline queries: dedup, similarity search, text
analysis (SURVEY §7.1 item 7 / BASELINE north star).

The documents table has no natural duplicates, so dedup queries augment
the corpus with deterministic mutated/exact copies (same derivation on
both engines) — the operators then provably find exactly those.
Hash-based operators come in two registrations: the production path on
xxhash64 (Spark-intrinsic, rows-only, verified in tests against the
exact operators) and an engine-neutral md5-60bit variant
(dd_minhash_lsh_md5, dd_simhash_md5) whose every intermediate is
recomputed in DuckDB and hash-checked end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bdc_collection_builder_spark.functions.iterate import iterate
from bdc_collection_builder_spark.functions.persist import tracked_persist
from bdc_collection_builder_spark.plans._util import scratch_dir, t
from bdc_collection_builder_spark.plans.registry import query

# Tokenization shared by the DuckDB oracles (identical semantics to
# extensions.text.tokens).
_TOKS = r"list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"
_STOP_SQL = ("['the','a','an','of','to','in','and','or','is','are','was',"
             "'for','on','with','as','at','by','it','this','that']")


@query(
    "dd_exact_duplicates",
    survey=("DD-exact", "F10"),
    oracle="""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
        )
        SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
               count(*) AS n_docs
        FROM corpus GROUP BY md5(text)
    """,
)
def dd_exact_duplicates(spark, sf_dir):
    """Exact dedup: content-hash groupBy; every 10th doc gets an exact
    copy so duplicate groups exist on both engines."""
    from bdc_collection_builder_spark.extensions.dedup import exact_duplicates

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return exact_duplicates(docs.unionByName(copies))


_AUG_SQL = """
    SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 1000000, text || ' xy zz wq' AS text
    FROM documents WHERE doc_id % 20 = 0
"""


# Shared CTE chain: exact 5-gram Jaccard pairs over the augmented
# corpus — the jaccard query selects from it directly; the cluster
# query builds its component closure on top.
_JACCARD_CTES = f"""
        corpus AS ({_AUG_SQL}),
        shingled AS (
            SELECT DISTINCT doc_id, sh FROM (
                SELECT doc_id,
                       array_to_string(toks[i + 1 : i + 5], ' ') AS sh
                FROM (
                    SELECT doc_id, {_TOKS} AS toks FROM corpus
                ), UNNEST(generate_series(0, len(toks) - 5)) AS u(i)
                WHERE len(toks) >= 5
            )
        ),
        sizes AS (
            SELECT doc_id, count(*) AS n FROM shingled GROUP BY doc_id
        ),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM shingled a JOIN shingled b
              ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        jpairs AS (
            SELECT doc_a, doc_b,
                   round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4)
                     AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
        )"""


@query(
    "dd_ngram_jaccard_pairs",
    survey=("DD-jaccard",),
    oracle=f"""
        WITH {_JACCARD_CTES}
        SELECT doc_a, doc_b, jaccard FROM jpairs
    """,
)
def dd_ngram_jaccard_pairs(spark, sf_dir):
    """Exact 5-gram Jaccard near-dup pairs over an augmented corpus
    (every 20th doc gets a slightly-extended copy → true near-dups)."""
    from bdc_collection_builder_spark.extensions.dedup import ngram_jaccard_pairs

    docs = t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") % 5 == 0)
    near = (
        t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" xy zz wq")).alias("text"))
    )
    return ngram_jaccard_pairs(docs.unionByName(near), threshold=0.5)


@query(
    "dd_cluster_components",
    survey=("DD-cluster",),
    oracle=f"""
        WITH RECURSIVE {_JACCARD_CTES},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM jpairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM jpairs
        ),
        reach AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        )
        SELECT a AS doc_id, least(a, min(b)) AS component_id
        FROM reach GROUP BY a
    """,
)
def dd_cluster_components(spark, sf_dir):
    """Near-dup GROUPS from pairwise dedup output: connected components
    via distributed min-label propagation (each round one join + one
    min-aggregate, no driver-side union-find; converges in diameter
    rounds — dup clusters are shallow). The oracle replays the closure
    with a recursive CTE. Downstream, keep min(doc_id) per component
    and drop the rest — the final step of every at-scale dedup."""
    from bdc_collection_builder_spark.extensions.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") % 5 == 0)
    near = (
        t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" xy zz wq")).alias("text"))
    )
    pairs = ngram_jaccard_pairs(docs.unionByName(near), threshold=0.5)
    return connected_components(pairs)


@query(
    "dd_cluster_components_star",
    survey=("DD-cluster",),
    oracle=f"""
        WITH RECURSIVE {_JACCARD_CTES},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM jpairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM jpairs
        ),
        reach AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        )
        SELECT a AS doc_id, least(a, min(b)) AS component_id
        FROM reach GROUP BY a
    """,
)
def dd_cluster_components_star(spark, sf_dir):
    """Same component labeling as dd_cluster_components, computed by
    alternating large-star/small-star contraction — O(log n) rounds
    regardless of graph diameter, the escape hatch for corpora whose
    dup chains run deep (propagation needs diameter rounds). Identical
    recursive-CTE oracle; the pytest companion also pins star ==
    propagation on a planted deep chain."""
    from bdc_collection_builder_spark.extensions.dedup import (
        connected_components_star,
        ngram_jaccard_pairs,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") % 5 == 0)
    near = (
        t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" xy zz wq")).alias("text"))
    )
    pairs = ngram_jaccard_pairs(docs.unionByName(near), threshold=0.5)
    return connected_components_star(pairs)


@query(
    "dd_minhash_lsh_pairs",
    survey=("DD-minhash",),
    oracle=None,  # xxhash64 signatures have no cross-engine oracle;
                  # verified against dd_ngram_jaccard_pairs in tests
)
def dd_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-dup pairs (the 100 TB dedup path): banded
    signature equi-join prunes candidates, exact Jaccard verifies."""
    from bdc_collection_builder_spark.extensions.dedup import minhash_lsh_pairs

    docs = t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") % 5 == 0)
    near = (
        t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" xy zz wq")).alias("text"))
    )
    return minhash_lsh_pairs(docs.unionByName(near), threshold=0.5)


# --- Engine-neutral (md5-60bit) variants of the hash-driven dedup ops.
# The production paths above use xxhash64 (one JVM intrinsic per string);
# these swap in a base hash both engines can compute bit-identically
# (Spark conv(substr(md5,1,15),16,10) == DuckDB CAST('0x'||... AS BIGINT)),
# so the ENTIRE pipeline — shingle → minhash family → banding → candidate
# join → Jaccard verify (resp. token → bit votes → signature → quarter
# join → Hamming) — is recomputed in DuckDB and hash-checked end-to-end.

_M31 = 2147483647
_HEX60 = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"


def _minhash_md5_oracle(n_hashes: int = 32, bands: int = 8,
                        threshold: float = 0.5) -> str:
    from bdc_collection_builder_spark.extensions.dedup import _hash_family

    fam = _hash_family(n_hashes)
    rows_per_band = n_hashes // bands
    mins = ",\n                   ".join(
        f"min((h * {a} + {b}) % {_M31}) AS h{i}"
        for i, (a, b) in enumerate(fam))
    banded = "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, {band} AS band, concat_ws('|', "
        + ", ".join(f"h{band * rows_per_band + r}" for r in range(rows_per_band))
        + ") AS band_key FROM sigs"
        for band in range(bands))
    return f"""
        WITH corpus AS ({_AUG_SQL}),
        tokd AS (SELECT doc_id, {_TOKS} AS toks FROM corpus),
        shingled AS (
            SELECT DISTINCT doc_id, sh FROM (
                SELECT doc_id,
                       array_to_string(toks[i + 1 : i + 5], ' ') AS sh
                FROM tokd, UNNEST(generate_series(0, len(toks) - 5)) AS u(i)
                WHERE len(toks) >= 5
            )
        ),
        hashed AS (
            SELECT doc_id, sh, {_HEX60.format(x='sh')} % {_M31} AS h
            FROM shingled
        ),
        sigs AS (
            SELECT doc_id,
                   {mins}
            FROM hashed GROUP BY doc_id
        ),
        banded AS (
            {banded}
        ),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM shingled GROUP BY doc_id),
        common AS (
            SELECT doc_a, doc_b, count(*) AS n_common
            FROM cands
            JOIN shingled sa ON sa.doc_id = doc_a
            JOIN shingled sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
            GROUP BY doc_a, doc_b
        )
        SELECT doc_a, doc_b,
               round(CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common), 4)
                 AS jaccard
        FROM common
        JOIN sizes za ON za.doc_id = doc_a
        JOIN sizes zb ON zb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common)
              >= {threshold}
    """


@query(
    "dd_minhash_lsh_md5",
    survey=("DD-minhash",),
    oracle=_minhash_md5_oracle(),
)
def dd_minhash_lsh_md5(spark, sf_dir):
    """MinHash+LSH with the engine-neutral md5-60bit base hash — the
    same banding/verification plan as dd_minhash_lsh_pairs, fully
    recomputed in DuckDB (signatures, band buckets, candidate pairs,
    exact-Jaccard verification) and hash-checked."""
    from bdc_collection_builder_spark.extensions.dedup import minhash_lsh_pairs

    docs = t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") % 5 == 0)
    near = (
        t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" xy zz wq")).alias("text"))
    )
    return minhash_lsh_pairs(docs.unionByName(near), threshold=0.5,
                             engine_neutral=True)


def _simhash_md5_oracle(bits: int = 60, radius: int = 3) -> str:
    qbits = bits // 4
    votes = ",\n                   ".join(
        f"sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits))
    sig = "\n                 + ".join(
        f"(CASE WHEN b{b} > 0 THEN CAST(1 AS BIGINT) << {b} ELSE 0 END)"
        for b in range(bits))
    return f"""
        WITH corpus AS ({_AUG_SQL}),
        toks AS (
            SELECT doc_id, unnest({_TOKS}) AS tok FROM corpus
        ),
        hashed AS (
            SELECT doc_id, {_HEX60.format(x='tok')} AS h FROM toks
        ),
        votes AS (
            SELECT doc_id,
                   {votes}
            FROM hashed GROUP BY doc_id
        ),
        sigs AS (
            SELECT doc_id,
                   {sig} AS simhash
            FROM votes
        ),
        quarters AS (
            SELECT doc_id, simhash, q,
                   (simhash >> (q * {qbits})) & {(1 << qbits) - 1} AS qkey
            FROM sigs, UNNEST([0, 1, 2, 3]) AS u(q)
        ),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS sig_a, b.simhash AS sig_b
            FROM quarters a JOIN quarters b
              ON a.q = b.q AND a.qkey = b.qkey AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b)) AS hamming
        FROM cands
        WHERE bit_count(xor(sig_a, sig_b)) <= {radius}
    """


@query(
    "dd_simhash_md5",
    survey=("DD-simhash",),
    oracle=_simhash_md5_oracle(),
)
def dd_simhash_md5(spark, sf_dir):
    """SimHash near-dup pairs with the engine-neutral md5-60bit token
    hash (15-bit quarters) — bit votes, signature assembly, quarter
    bucketing, and Hamming filter all recomputed in DuckDB."""
    from bdc_collection_builder_spark.extensions.dedup import simhash_near_pairs

    docs = t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") % 5 == 0)
    near = (
        t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" xy zz wq")).alias("text"))
    )
    return simhash_near_pairs(docs.unionByName(near), radius=3,
                              engine_neutral=True)


@query(
    "dd_simhash_pairs",
    survey=("DD-simhash",),
    oracle=None,  # xxhash64-based; verified in tests
)
def dd_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs within Hamming radius 3, quarter-bucketed."""
    from bdc_collection_builder_spark.extensions.dedup import simhash_near_pairs

    docs = t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") % 5 == 0)
    near = (
        t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" xy zz wq")).alias("text"))
    )
    return simhash_near_pairs(docs.unionByName(near), radius=3)


_DOT_SQL = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


@query(
    "dd_embedding_near_pairs",
    survey=("DD-embed",),
    oracle=f"""
        WITH corpus AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 1000000,
                   list_transform(embedding, x -> CAST(x * 1.01 AS FLOAT))
            FROM embeddings WHERE vec_id % 25 = 0
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({_DOT_SQL.format(a="a.embedding", b="b.embedding")}
                     / (sqrt({_DOT_SQL.format(a="a.embedding", b="a.embedding")})
                        * sqrt({_DOT_SQL.format(a="b.embedding", b="b.embedding")})),
                     4) AS cosine
        FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        WHERE a.vec_id % 4 = 0
          AND round({_DOT_SQL.format(a="a.embedding", b="b.embedding")}
                    / (sqrt({_DOT_SQL.format(a="a.embedding", b="a.embedding")})
                       * sqrt({_DOT_SQL.format(a="b.embedding", b="b.embedding")})),
                    4) >= 0.95
    """,
)
def dd_embedding_near_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs ≥ 0.95 over a corpus augmented
    with scaled copies (cosine 1.0 by construction), found via
    hyperplane-LSH bucketed candidates + exact cosine re-rank — no
    all-pairs join anywhere in the plan. Scaled copies are parallel to
    their source, so they collide in every LSH table and recall of the
    planted dups is exact; the all-pairs oracle (and the brute-force
    twin in the test suite) verifies nothing else clears 0.95. Left
    side strided 4x to keep pair counts comparable with round 1."""
    from bdc_collection_builder_spark.extensions.dedup import (
        embedding_near_pairs_lsh)

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scaled = (
        emb.filter(F.col("vec_id") % 25 == 0)
        .select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.transform("embedding",
                        lambda x: (x * 1.01).cast("float")).alias("embedding"),
        )
    )
    return embedding_near_pairs_lsh(emb.unionByName(scaled), threshold=0.95,
                                    left_stride=4)


@query(
    "ss_brute_force_topk",
    survey=("SS-brute",),
    oracle=f"""
        WITH queries AS (
            SELECT vec_id AS query_id, embedding AS q FROM embeddings
            WHERE vec_id < 8
        ), scored AS (
            SELECT query_id, vec_id,
                   round({_DOT_SQL.format(a="q", b="embedding")}
                         / (sqrt({_DOT_SQL.format(a="q", b="q")})
                            * sqrt({_DOT_SQL.format(a="embedding", b="embedding")})),
                         6) AS cosine
            FROM embeddings CROSS JOIN queries
            WHERE vec_id <> query_id
        )
        SELECT query_id, vec_id, cosine, rank FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, vec_id
                   ) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
)
def ss_brute_force_topk(spark, sf_dir):
    """Exact cosine top-5 for 8 query vectors against the corpus —
    the ANN baseline (broadcast queries × corpus scan, no corpus
    shuffle)."""
    from bdc_collection_builder_spark.extensions.similarity import brute_force_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return brute_force_topk(emb, queries, k=5)


def _lsh_topk_oracle(k: int = 5, n_tables: int = 24, n_bits: int = 5,
                     dim: int = 64, seed: int = 42) -> str:
    """The hyperplane-LSH plan is engine-neutral — buckets are sign
    bits of dot products against LITERAL planes, no engine hash — so
    the whole approximate query (bucketing, candidate probe, exact
    re-rank) is reproducible in DuckDB by embedding the same seeded
    plane matrix as literals."""
    from bdc_collection_builder_spark.extensions.similarity import _hyperplanes

    planes = _hyperplanes(n_tables, n_bits, dim, seed)
    rows = ",\n                ".join(
        f"({t}, {1 << bit}, [{', '.join(repr(float(w)) for w in plane)}])"
        for t, table in enumerate(planes)
        for bit, plane in enumerate(table)
    )
    cos = (f"round({_DOT_SQL.format(a='q.embedding', b='c.embedding')}"
           f" / (sqrt({_DOT_SQL.format(a='q.embedding', b='q.embedding')})"
           f" * sqrt({_DOT_SQL.format(a='c.embedding', b='c.embedding')})), 6)")
    return f"""
        WITH planes(table_id, bit_value, w) AS (
            VALUES {rows}
        ),
        b AS (
            SELECT e.vec_id, e.embedding, p.table_id,
                   sum(CASE WHEN list_sum(list_transform(
                           generate_series(1, {dim}),
                           i -> CAST(e.embedding[i] AS DOUBLE) * p.w[i]))
                         > 0
                       THEN p.bit_value ELSE 0 END) AS bucket
            FROM embeddings e CROSS JOIN planes p
            GROUP BY e.vec_id, e.embedding, p.table_id
        ),
        cands AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id
            FROM b c JOIN b q
              ON c.table_id = q.table_id AND c.bucket = q.bucket
            WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
        ),
        scored AS (
            SELECT p.query_id, p.vec_id, {cos} AS cosine
            FROM cands p
            JOIN embeddings c ON c.vec_id = p.vec_id
            JOIN embeddings q ON q.vec_id = p.query_id
        )
        SELECT query_id, vec_id, cosine, rank FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, vec_id
                   ) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


def _multiprobe_lsh_oracle(k: int = 5, n_tables: int = 8, n_bits: int = 6,
                           n_probes: int = 2, dim: int = 64,
                           seed: int = 42) -> str:
    """Multi-probe variant of :func:`_lsh_topk_oracle`: queries probe
    their base bucket plus the ``n_probes`` single-bit flips with the
    smallest |projection| — the probe choice is a pure function of the
    literal plane matrix, so DuckDB replays it exactly."""
    from bdc_collection_builder_spark.extensions.similarity import _hyperplanes

    planes = _hyperplanes(n_tables, n_bits, dim, seed)
    rows = ",\n                ".join(
        f"({t}, {1 << bit}, [{', '.join(repr(float(w)) for w in plane)}])"
        for t, table in enumerate(planes)
        for bit, plane in enumerate(table)
    )
    cos = (f"round({_DOT_SQL.format(a='q.embedding', b='c.embedding')}"
           f" / (sqrt({_DOT_SQL.format(a='q.embedding', b='q.embedding')})"
           f" * sqrt({_DOT_SQL.format(a='c.embedding', b='c.embedding')})), 6)")
    return f"""
        WITH planes(table_id, bit_value, w) AS (
            VALUES {rows}
        ),
        proj AS (
            SELECT e.vec_id, p.table_id, p.bit_value,
                   list_sum(list_transform(
                       generate_series(1, {dim}),
                       i -> CAST(e.embedding[i] AS DOUBLE) * p.w[i])) AS pr
            FROM embeddings e CROSS JOIN planes p
        ),
        b AS (
            SELECT vec_id, table_id,
                   CAST(sum(CASE WHEN pr > 0 THEN bit_value ELSE 0 END)
                        AS BIGINT) AS bucket
            FROM proj GROUP BY vec_id, table_id
        ),
        flips AS (
            SELECT vec_id, table_id, bit_value FROM (
                SELECT vec_id, table_id, bit_value,
                       row_number() OVER (
                           PARTITION BY vec_id, table_id
                           ORDER BY abs(pr), bit_value) AS rk
                FROM proj WHERE vec_id < 8)
            WHERE rk <= {n_probes}
        ),
        qprobes AS (
            SELECT vec_id, table_id, bucket FROM b WHERE vec_id < 8
            UNION ALL
            SELECT f.vec_id, f.table_id,
                   xor(q.bucket, CAST(f.bit_value AS BIGINT)) AS bucket
            FROM flips f JOIN b q
              ON q.vec_id = f.vec_id AND q.table_id = f.table_id
        ),
        cands AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id
            FROM b c JOIN qprobes q
              ON c.table_id = q.table_id AND c.bucket = q.bucket
            WHERE c.vec_id <> q.vec_id
        ),
        scored AS (
            SELECT p.query_id, p.vec_id, {cos} AS cosine
            FROM cands p
            JOIN embeddings c ON c.vec_id = p.vec_id
            JOIN embeddings q ON q.vec_id = p.query_id
        )
        SELECT query_id, vec_id, cosine, rank FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, vec_id
                   ) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


@query(
    "ss_multiprobe_lsh_topk",
    survey=("SS-lsh",),
    oracle=_multiprobe_lsh_oracle(),
)
def ss_multiprobe_lsh_topk(spark, sf_dir):
    """Multi-probe LSH top-k: 8 tables x 3 probes (base bucket + the 2
    lowest-|projection| bit flips) — the same 24-bucket query fan-out
    as the 24-table single-probe ss_lsh_topk but with the corpus
    hashed/stored only 8 times (3x smaller index at corpus scale; the
    query side is the cheap side). Probe selection is deterministic
    (sorted by |proj| then bit), so the DuckDB oracle replays the full
    approximate pipeline bit-for-bit."""
    from bdc_collection_builder_spark.extensions.similarity import (
        multiprobe_lsh_topk,
    )

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return multiprobe_lsh_topk(emb, queries, k=5)


@query(
    "ss_lsh_topk",
    survey=("SS-lsh",),
    oracle=_lsh_topk_oracle(),
)
def ss_lsh_topk(spark, sf_dir):
    """Random-hyperplane LSH top-k (the corpus-scale ANN path)."""
    from bdc_collection_builder_spark.extensions.similarity import lsh_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return lsh_topk(emb, queries, k=5)


@query(
    "tx_text_stats",
    survey=("TX-stats",),
    oracle=f"""
        SELECT doc_id,
               len({_TOKS}) AS n_tokens,
               CAST(coalesce(list_sum(list_transform(
                   regexp_extract_all(lower(text),
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'),
                   p -> greatest(1, CAST(ceil(len(p) / 6) AS BIGINT)))), 0)
                 AS BIGINT) AS n_bpe_tokens,
               round(CAST(len(list_filter({_TOKS},
                   x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                   / len({_TOKS}), 4) AS stop_ratio,
               round(CAST(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                   AS DOUBLE) / len(text), 4) AS punct_ratio
        FROM documents
    """,
)
def tx_text_stats(spark, sf_dir):
    """Token counting (whitespace + BPE-ish), stopword ratio, and
    punctuation ratio — all JVM-side built-ins, no Python."""
    from bdc_collection_builder_spark.extensions import text as tx

    docs = t(spark, sf_dir, "documents")
    text = F.col("text")
    return docs.select(
        "doc_id",
        tx.token_count(text).alias("n_tokens"),
        tx.bpe_ish_token_count(text).alias("n_bpe_tokens"),
        F.round(tx.stopword_ratio(text), 4).alias("stop_ratio"),
        F.round(tx.punct_ratio(text), 4).alias("punct_ratio"),
    )


@query(
    "tx_language_id",
    survey=("TX-langid",),
    oracle=f"""
        SELECT doc_id,
               CASE WHEN CAST(len(list_filter({_TOKS},
                        x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                        / len({_TOKS}) >= 0.08
                    THEN 'en' ELSE 'unknown' END AS lang_pred
        FROM documents
    """,
)
def tx_language_id(spark, sf_dir):
    """Heuristic language identification (stopword-ratio n-gram proxy)."""
    from bdc_collection_builder_spark.extensions import text as tx

    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.language_id(F.col("text")).alias("lang_pred"))


@query(
    "tx_quality_score",
    survey=("TX-quality",),
    oracle=f"""
        WITH feats AS (
            SELECT doc_id, len(text) AS n_chars,
                   CAST(len(list_filter({_TOKS},
                       x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                       / len({_TOKS}) AS stop_r,
                   CAST(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                       AS DOUBLE) / len(text) AS punct_r,
                   CAST(list_sum(list_transform({_TOKS}, x -> len(x)))
                       AS DOUBLE) / len({_TOKS}) AS mwl
            FROM documents
        )
        SELECT doc_id,
               round((CASE WHEN n_chars BETWEEN 20 AND 20000 THEN 0.4 ELSE 0.0 END)
                   + (CASE WHEN stop_r >= 0.05 THEN 0.3 ELSE 0.0 END)
                   + (CASE WHEN punct_r <= 0.2 THEN 0.2 ELSE 0.0 END)
                   + (CASE WHEN mwl BETWEEN 2 AND 12 THEN 0.1 ELSE 0.0 END),
                   2) AS quality
        FROM feats
    """,
)
def tx_quality_score(spark, sf_dir):
    """Composite document quality score (Gopher-style rules)."""
    from bdc_collection_builder_spark.extensions import text as tx

    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(tx.quality_score(F.col("text")), 2).alias("quality"))


@query(
    "tx_quality_logreg",
    survey=("TX-quality", "CU-mix"),
    oracle=f"""
        WITH feats AS (
            SELECT doc_id,
                   CAST(len(list_filter({_TOKS},
                       x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                       / len({_TOKS}) AS stop_r,
                   CAST(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                       AS DOUBLE) / len(text) AS punct_r,
                   CAST(list_sum(list_transform({_TOKS}, x -> len(x)))
                       AS DOUBLE) / len({_TOKS}) AS mwl,
                   least(CAST(len(text) AS DOUBLE), CAST(4000.0 AS DOUBLE))
                       / CAST(4000.0 AS DOUBLE) AS len_norm
            FROM documents
        ), scored AS (
            SELECT doc_id,
                   CAST(-1.2 AS DOUBLE) + CAST(2.4 AS DOUBLE) * stop_r
                   - CAST(3.0 AS DOUBLE) * punct_r
                   + CAST(0.2 AS DOUBLE) * (mwl - CAST(4.0 AS DOUBLE))
                   + CAST(1.5 AS DOUBLE) * len_norm AS z
            FROM feats
        )
        SELECT doc_id,
               round(CAST(0.5 AS DOUBLE)
                     + CAST(0.5 AS DOUBLE) * z
                       / (CAST(1.0 AS DOUBLE) + abs(z)), 6) AS score,
               (z >= 0) AS keep
        FROM scored
    """,
)
def tx_quality_logreg(spark, sf_dir):
    """Model-based quality filtering: a (stand-in trained) logistic
    scorer over the rule features, the fasttext-classifier shape LLM
    corpus pipelines run after rule filters. Rational sigmoid keeps the
    score engine-reproducible (no exp); keep = score >= 0.5 ⇔ z >= 0.
    One codegen'd scan, zero Python, zero shuffles — the cheapest
    possible per-document model application at 100 TB."""
    from bdc_collection_builder_spark.extensions import text as tx

    docs = t(spark, sf_dir, "documents")
    score = tx.logreg_quality(F.col("text"))
    # keep on the raw logit sign, not the rounded score: score==0.5
    # exactly only when z==0, but fp rounding near the boundary could
    # disagree between the two formulations
    z = tx.logreg_logit(F.col("text"))
    return docs.select(
        "doc_id",
        F.round(score, 6).alias("score"),
        (z >= 0).alias("keep"))


@query(
    "tx_fingerprint",
    survey=("TX-fingerprint",),
    oracle=f"""
        SELECT doc_id,
               CASE WHEN len({_TOKS}) = 0 THEN 0
                    ELSE list_reduce(
                        list_transform({_TOKS},
                            tok -> CAST(len(tok) * 17 + ascii(tok) AS BIGINT)),
                        (acc, c) -> (acc * 31 + c) % 1000000007)
               END AS fp
        FROM documents
    """,
)
def tx_fingerprint(spark, sf_dir):
    """Rolling polynomial document fingerprint (engine-neutral
    arithmetic, hash-checkable across engines)."""
    from bdc_collection_builder_spark.extensions import text as tx

    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.fingerprint(F.col("text")).alias("fp"))


@query(
    "mm_decode_features",
    survey=("MM-decode",),
    oracle="""
        WITH media AS (
            SELECT i AS media_id,
                   ['image','audio','video'][CAST(i % 3 AS INT) + 1] AS kind,
                   sha256('media-' || i) AS hex,
                   CAST(4 + i % 7 AS INT) AS reps
            FROM range(0, 64) t(i)
        )
        SELECT media_id, kind,
               CAST(32 * reps AS INT) AS n_bytes,
               sha256(repeat(hex, reps)) AS sha256,
               round(CAST(list_sum(list_transform(generate_series(1, 32),
                   j -> (strpos('0123456789abcdef', substr(hex, 2*j-1, 1))-1)*16
                      + strpos('0123456789abcdef', substr(hex, 2*j, 1))-1))
                   AS DOUBLE) / 32, 4) AS mean_byte
        FROM media ORDER BY media_id
    """,
)
def mm_decode_features(spark, sf_dir):
    """Multimodal decode + feature extraction: binary payloads stay
    executor-local inside an Arrow-batched mapInPandas; only the
    fixed-dim feature vector (plus size/hash stats) shuffles. The codec
    is a deterministic stub (no image libs in this container); the
    schemas, batch shapes, and partitioning are the production design.
    The stub is seeded (payload = repeated sha256 digest), so the
    oracle recomputes size/checksum/mean in DuckDB — the UDF stage is
    value-checked end-to-end like s02/s07. The checksum hashes the
    payload's hex form (DuckDB hashes VARCHAR only); mean over the
    repeated digest equals mean over one digest, and /32 is a pure
    exponent shift, so the doubles agree bit-for-bit."""
    from bdc_collection_builder_spark.extensions.multimodal import (
        decode_image_features,
        synthetic_media,
    )

    media = synthetic_media(spark, n=64)
    return (
        decode_image_features(media)
        .select("media_id", "kind", "n_bytes", "sha256",
                F.round("mean_byte", 4).alias("mean_byte"))
        .orderBy("media_id")
    )


@query(
    "mm_frame_sample",
    survey=("MM-frames",),
    oracle="""
        WITH media AS (
            SELECT i AS media_id, CAST(1000 * (i % 30) AS INT) AS duration_ms
            FROM range(0, 64) t(i) WHERE i % 3 = 2
        )
        SELECT media_id, frame_ts_ms
        FROM media,
             unnest(generate_series(0, greatest(duration_ms - 1, 0), 1000))
                 AS u(frame_ts_ms)
    """,
)
def mm_frame_sample(spark, sf_dir):
    """Video frame-sampling plan: each video row explodes into the
    frame timestamps a decoder would extract — pure Catalyst
    (sequence + explode), narrow per media_id, so the expensive decode
    fan-out adds no shuffle."""
    from bdc_collection_builder_spark.extensions.multimodal import (
        frame_sample_plan,
        synthetic_media,
    )

    media = synthetic_media(spark, n=64)
    return frame_sample_plan(media).select(
        "media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"))


@query(
    "tx_vocabulary_topk",
    survey=("TX-vocab",),
    oracle=f"""
        WITH vocab AS (
            SELECT tok, count(*) AS n FROM (
                SELECT unnest({_TOKS}) AS tok FROM documents
            ) GROUP BY tok
        )
        SELECT tok, n, rank FROM (
            SELECT tok, n,
                   row_number() OVER (ORDER BY n DESC, tok) AS rank
            FROM vocab
        ) WHERE rank <= 100
    """,
)
def tx_vocabulary_topk(spark, sf_dir):
    """Corpus vocabulary top-100 by frequency — the tokenizer-training
    scan of an LLM data pipeline. Shape at 100 TB: token explode →
    map-side-combined count → orderBy().limit() (TakeOrdered: per-
    partition heaps + driver merge of 100-row heads, never a global
    sort); the rank window runs AFTER the limit, over 100 rows."""
    from bdc_collection_builder_spark.extensions.text import tokens
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok").agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "tok").limit(100)
    )
    w = Window.orderBy(F.col("n").desc(), "tok")
    return vocab.withColumn("rank", F.row_number().over(w))


@query(
    "tx_corpus_curation",
    survey=("TX-curation",),
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
        ),
        canon AS (
            SELECT md5(text) AS h, min(doc_id) AS canonical_id
            FROM corpus GROUP BY md5(text)
        ),
        deduped AS (
            SELECT c.doc_id, c.text
            FROM corpus c JOIN canon k
              ON md5(c.text) = k.h AND c.doc_id = k.canonical_id
        ),
        feats AS (
            SELECT doc_id,
                   CASE WHEN CAST(len(list_filter({_TOKS},
                            x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                            / len({_TOKS}) >= 0.08
                        THEN 'en' ELSE 'unknown' END AS lang_pred,
                   (CASE WHEN len(text) BETWEEN 20 AND 20000 THEN 0.4 ELSE 0.0 END)
                   + (CASE WHEN CAST(len(list_filter({_TOKS},
                          x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                          / len({_TOKS}) >= 0.05 THEN 0.3 ELSE 0.0 END)
                   + (CASE WHEN CAST(len(regexp_replace(text, '[A-Za-z0-9\\s]',
                          '', 'g')) AS DOUBLE) / len(text) <= 0.2
                          THEN 0.2 ELSE 0.0 END)
                   + (CASE WHEN CAST(list_sum(list_transform({_TOKS},
                          x -> len(x))) AS DOUBLE) / len({_TOKS})
                          BETWEEN 2 AND 12 THEN 0.1 ELSE 0.0 END) AS quality
            FROM deduped
        )
        SELECT doc_id, lang_pred, round(quality, 2) AS quality
        FROM feats
        WHERE lang_pred = 'en' AND round(quality, 2) >= 0.6
    """,
)
def tx_corpus_curation(spark, sf_dir):
    """End-to-end corpus curation — the composed LLM-data-pipeline
    pass: exact dedup (keep the canonical copy), heuristic language
    filter, and quality-score threshold in ONE scan shape. The dedup
    group-by is the only shuffle; language/quality are scalar columns
    that fuse into the scan. The corpus is augmented with exact copies
    (every 10th doc) so the dedup stage provably removes them."""
    from bdc_collection_builder_spark.extensions import text as tx

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    hashed = corpus.withColumn("h", F.md5("text"))
    canon = hashed.groupBy("h").agg(F.min("doc_id").alias("canonical_id"))
    deduped = (
        hashed.join(canon, (hashed["h"] == canon["h"])
                    & (hashed["doc_id"] == canon["canonical_id"]))
        .select(hashed["doc_id"], "text")
    )
    text_col = F.col("text")
    return (
        deduped.select(
            "doc_id",
            tx.language_id(text_col).alias("lang_pred"),
            F.round(tx.quality_score(text_col), 2).alias("quality"),
        )
        .filter((F.col("lang_pred") == "en") & (F.col("quality") >= 0.6))
    )


_IVF_ASSIGN_COS = (
    f"{_DOT_SQL.format(a='e.embedding', b='c.cent')}"
    f" / (sqrt({_DOT_SQL.format(a='e.embedding', b='e.embedding')})"
    f" * sqrt({_DOT_SQL.format(a='c.cent', b='c.cent')}))"
)


@query(
    "ss_ivf_topk",
    survey=("SS-ivf",),
    oracle=f"""
        WITH cent AS (
            SELECT vec_id AS cid, embedding AS cent
            FROM embeddings WHERE vec_id < 16
        ),
        corpus_assign AS (
            SELECT vec_id, centroid_id FROM (
                SELECT e.vec_id, c.cid AS centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_IVF_ASSIGN_COS} DESC, c.cid
                       ) AS rnk
                FROM embeddings e CROSS JOIN cent c
            ) WHERE rnk <= 1
        ),
        query_assign AS (
            SELECT query_id, centroid_id FROM (
                SELECT e.vec_id AS query_id, c.cid AS centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_IVF_ASSIGN_COS} DESC, c.cid
                       ) AS rnk
                FROM embeddings e CROSS JOIN cent c
                WHERE e.vec_id < 8
            ) WHERE rnk <= 4
        ),
        cands AS (
            SELECT DISTINCT q.query_id, c.vec_id
            FROM corpus_assign c JOIN query_assign q USING (centroid_id)
            WHERE c.vec_id <> q.query_id
        ),
        scored AS (
            SELECT p.query_id, p.vec_id,
                   round({_DOT_SQL.format(a='q.embedding', b='c.embedding')}
                         / (sqrt({_DOT_SQL.format(a='q.embedding', b='q.embedding')})
                            * sqrt({_DOT_SQL.format(a='c.embedding', b='c.embedding')})),
                         6) AS cosine
            FROM cands p
            JOIN embeddings c ON c.vec_id = p.vec_id
            JOIN embeddings q ON q.vec_id = p.query_id
        )
        SELECT query_id, vec_id, cosine, rank FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, vec_id
                   ) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
)
def ss_ivf_topk(spark, sf_dir):
    """IVF-Flat approximate nearest neighbors: coarse quantizer buckets
    the corpus by nearest centroid; queries probe nprobe buckets and
    re-rank exactly. The third point on the exact→LSH→IVF cost/recall
    curve. This registration uses the data-derived seeded quantizer
    (relational, shuffle-free assignment — oracle replays it in SQL);
    the k-means-trained quantizer (similarity.ivf_topk) is the
    production trainer, recall-tested in unit tests."""
    from bdc_collection_builder_spark.extensions.similarity import ivf_topk_seeded

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return ivf_topk_seeded(emb, queries, k=5)


# ---------------------------------------------------------------------------
# Corpus curation (CU-*): splits, decontamination, packing, sampling.
# ---------------------------------------------------------------------------

_SPLIT_BUCKET = _HEX60.format(x="CAST(doc_id AS VARCHAR) || ':split'") + " % 100"


@query(
    "cu_hash_split",
    survey=("CU-split",),
    oracle=f"""
        SELECT doc_id, lang, {_SPLIT_BUCKET} AS bucket,
               CASE WHEN {_SPLIT_BUCKET} < 90 THEN 'train'
                    WHEN {_SPLIT_BUCKET} < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """,
)
def cu_hash_split(spark, sf_dir):
    """Deterministic train/val/test split: keyed md5 bucket, pure
    narrow projection (zero shuffle; assignments never move when the
    corpus grows, unlike randomSplit)."""
    from bdc_collection_builder_spark.extensions.curation import hash_split

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_split(docs, train_pct=90, val_pct=5)


_SHINGLE5_SQL = """
    SELECT DISTINCT doc_id, array_to_string(toks[i + 1 : i + 5], ' ') AS sh
    FROM (SELECT doc_id, {toks} AS toks FROM {src}),
         UNNEST(generate_series(0, len(toks) - 5)) AS u(i)
    WHERE len(toks) >= 5
"""


@query(
    "cu_decontaminate",
    survey=("CU-decon",),
    oracle=f"""
        WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0),
        bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0),
        tr AS ({_SHINGLE5_SQL.format(toks=_TOKS, src="train")}),
        be AS ({_SHINGLE5_SQL.format(toks=_TOKS, src="bench")})
        SELECT tr.doc_id AS train_doc_id,
               count(DISTINCT {_HEX60.format(x="tr.sh")}) AS n_common_shingles,
               count(DISTINCT be.doc_id) AS n_bench_docs
        FROM tr JOIN be
          ON {_HEX60.format(x="tr.sh")} = {_HEX60.format(x="be.sh")}
        GROUP BY tr.doc_id
    """,
)
def cu_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs sharing any 5-token
    shingle with the held-out benchmark slice (doc_id % 17 == 0). The
    eval-leakage check every pretraining corpus runs; benchmark-side
    shingles broadcast so the corpus side never shuffles."""
    from bdc_collection_builder_spark.extensions.curation import decontaminate

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return decontaminate(docs.filter(F.col("doc_id") % 17 != 0),
                         docs.filter(F.col("doc_id") % 17 == 0), k=5)


@query(
    "cu_pack_sequences",
    survey=("CU-pack",),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, doc_id % 32 AS shard, len({_TOKS}) AS n_tokens
            FROM documents
        ),
        cum AS (
            SELECT doc_id, shard, n_tokens,
                   sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - n_tokens AS start_offset
            FROM toks
        )
        SELECT doc_id, shard, n_tokens,
               CAST(start_offset AS BIGINT) AS start_offset,
               CAST(floor(start_offset / 512.0) AS BIGINT) AS pack_id
        FROM cum
    """,
)
def cu_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing: per-shard running token count
    assigns each doc a fixed-capacity pack id + start offset. Sharding
    (doc_id % 32) keeps the cumsum window partition-parallel — the
    single-global-order formulation would bottleneck on one partition
    at scale."""
    from bdc_collection_builder_spark.extensions.curation import pack_sequences

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(docs, capacity=512, n_shards=32)


_SAMPLE_U = _HEX60.format(x="CAST(doc_id AS VARCHAR) || ':sample'") + " % 10000"


@query(
    "cu_stratified_sample",
    survey=("CU-sample",),
    oracle=f"""
        SELECT doc_id, lang, source FROM documents
        WHERE {_SAMPLE_U} < CASE lang WHEN 'en' THEN 2500
                                      WHEN 'zh' THEN 6000
                                      ELSE 10000 END
    """,
)
def cu_stratified_sample(spark, sf_dir):
    """Stratified downsampling by language: keep 25% of en, 60% of zh,
    all the rest — a deterministic hash-threshold filter (no shuffle,
    rerun-stable, unlike sampleBy's RNG) for domain rebalancing."""
    from bdc_collection_builder_spark.extensions.curation import stratified_sample

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_sample(docs, strata_col="lang",
                             fractions={"en": 0.25, "zh": 0.6})


@query(
    "tx_repetition_stats",
    survey=("TX-repetition",),
    oracle=f"""
        WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        stats AS (
            SELECT doc_id, len(toks) AS n_tokens,
                   len(list_distinct(toks)) AS n_distinct
            FROM base
        ),
        grams AS (
            SELECT doc_id, array_to_string(toks[i + 1 : i + 2], ' ') AS gram
            FROM base, UNNEST(generate_series(0, len(toks) - 2)) AS u(i)
            WHERE len(toks) >= 2
        ),
        gc AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2),
        mx AS (SELECT doc_id, max(c) AS max_bigram FROM gc GROUP BY 1)
        SELECT s.doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               round(1 - CAST(n_distinct AS DOUBLE) / n_tokens, 4)
                 AS dup_word_frac,
               CAST(coalesce(max_bigram, 0) AS BIGINT) AS max_bigram_count,
               round(CAST(coalesce(max_bigram, 0) AS DOUBLE)
                     / greatest(n_tokens - 1, 1), 4) AS top_bigram_frac,
               ((1 - CAST(n_distinct AS DOUBLE) / n_tokens) <= 0.4
                AND CAST(coalesce(max_bigram, 0) AS DOUBLE)
                    / greatest(n_tokens - 1, 1) <= 0.2) AS keep
        FROM stats s LEFT JOIN mx USING (doc_id)
    """,
)
def tx_repetition_stats(spark, sf_dir):
    """Gopher-style repetition filters: duplicate-word fraction and
    most-frequent-bigram fraction per document, plus the keep/drop
    verdict. The most-frequent-bigram count is PER-DOC state, so it
    never needs the corpus-token-sized explode -> groupBy(doc, gram)
    shuffle the first implementation paid (the round-10 census
    measured that shuffle at ~9s of the 8.5s query wall at sf0.1):
    it equals the longest run in the doc's SORTED bigram array — one
    array_sort + one aggregate() fold per row, all codegen'd JVM
    HOFs, zero shuffle, zero join. At 100 TB this is the difference
    between a map-only pass and shuffling every token of the corpus
    with 8-byte-plus-text keys."""
    from bdc_collection_builder_spark.extensions.text import tokens

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select("doc_id", tokens(F.col("text")).alias("toks")).select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        F.array_sort(F.when(
            F.size("toks") >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 2),
                lambda i: F.concat_ws(" ", F.slice("toks", i + 1, 2)),
            ),
        ).otherwise(F.array().cast("array<string>"))).alias("sg"),
    )
    # longest equal-run in the sorted bigram array == the max bigram
    # count; the fold state is three scalars, elements arrive as
    # lambda arguments (nothing data-sized is re-referenced inside)
    max_bigram = F.aggregate(
        F.col("sg"),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))).alias("best")),
        lambda acc: acc["best"])
    dup_frac = F.lit(1.0) - F.col("n_distinct") / F.col("n_tokens")
    top_frac = (F.col("max_bigram").cast("double")
                / F.greatest(F.col("n_tokens") - 1, F.lit(1)))
    return (
        base.withColumn("max_bigram", max_bigram)
        .select(
            "doc_id", "n_tokens",
            F.round(dup_frac, 4).alias("dup_word_frac"),
            F.col("max_bigram").cast("bigint").alias("max_bigram_count"),
            F.round(top_frac, 4).alias("top_bigram_frac"),
            ((dup_frac <= 0.4) & (top_frac <= 0.2)).alias("keep"),
        )
    )


@query(
    "tx_pii_scrub",
    survey=("TX-pii",),
    oracle="""
        WITH planted AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' contact user' || doc_id
                             || '@example.com or https://ex' || doc_id
                             || '.example/page ok'
                        ELSE text END AS text
            FROM documents
        )
        SELECT doc_id,
               regexp_replace(regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   'https?://[^\\s]+', '<URL>', 'g') AS text_scrubbed,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
                 AS n_emails,
               CAST(len(regexp_extract_all(text, 'https?://[^\\s]+')) AS BIGINT)
                 AS n_urls
        FROM planted
    """,
)
def tx_pii_scrub(spark, sf_dir):
    """PII redaction: emails then URLs replaced with typed tokens, plus
    per-doc match counts — pure JVM-side regexp (no Python, no shuffle;
    the same RE2-compatible pattern subset runs on both engines). Every
    7th doc gets a planted email+URL so redactions provably happen."""
    from bdc_collection_builder_spark.extensions.text import (
        pii_counts,
        pii_scrub,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"), F.lit(" contact user"),
                F.col("doc_id").cast("string"), F.lit("@example.com"),
                F.lit(" or https://ex"), F.col("doc_id").cast("string"),
                F.lit(".example/page ok")),
        ).otherwise(F.col("text")),
    )
    n_emails, n_urls = pii_counts(F.col("text"))
    return planted.select(
        "doc_id",
        pii_scrub(F.col("text")).alias("text_scrubbed"),
        n_emails.cast("bigint").alias("n_emails"),
        n_urls.cast("bigint").alias("n_urls"),
    )


@query(
    "tx_tfidf_topk",
    survey=("TX-tfidf",),
    oracle=f"""
        WITH terms AS (
            SELECT doc_id, unnest({_TOKS}) AS term FROM documents
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
        ),
        idf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        total AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, idf.df,
                   round(tf.tf * ln(CAST(n_docs AS DOUBLE) / idf.df), 6)
                     AS tfidf
            FROM tf JOIN idf USING (term) CROSS JOIN total
        )
        SELECT doc_id, term, tf, df, tfidf, rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term
            ) AS rank FROM scored
        ) WHERE rank <= 3
    """,
)
def tx_tfidf_topk(spark, sf_dir):
    """Top-3 TF-IDF keywords per document. Term and document
    frequencies are two partial-agg shuffles; the term->df dimension
    and the corpus-size scalar broadcast back onto the tf table, so the
    big side shuffles exactly twice (tf groupBy, then the per-doc top-k
    window) regardless of corpus size. Scores are rounded to 6 decimals
    BEFORE ranking on both engines so last-ULP ln() differences can't
    flip the order (ties then break on the term string)."""
    from bdc_collection_builder_spark.extensions.text import tokens

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    )
    # tf feeds both the idf reduction and the scored join — persist so
    # the tokenize+groupBy runs once (the dd_prefix round-9 lesson)
    tf = tracked_persist(tf)
    idf = tf.groupBy("term").agg(F.count("*").alias("df"))
    total = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id", "term", "tf", "df",
            F.round(F.col("tf") * F.log(F.col("n_docs").cast("double")
                                        / F.col("df")), 6).alias("tfidf"),
        )
    )
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


@query(
    "ss_quantize_int8",
    survey=("SS-quant",),
    oracle="""
        WITH q AS (
            SELECT vec_id,
                   list_transform(
                       embedding,
                       v -> CAST(round(greatest(least(CAST(v AS DOUBLE), 1.0),
                                                -1.0) * 127) AS INTEGER)
                   ) AS q_embedding,
                   len(embedding) AS n_dims
            FROM embeddings
        )
        SELECT vec_id, array_to_string(q_embedding, ',') AS q_embedding,
               n_dims,
               CAST(list_aggregate(q_embedding, 'sum') AS BIGINT) AS sum_q
        FROM q
    """,
)
def ss_quantize_int8(spark, sf_dir):
    """Scalar int8 quantization of the embedding column — 4x smaller
    vectors for the ANN candidate pass (re-rank on full precision).
    A pure projection (clamp to [-1,1], scale by 127, round): no
    shuffle, whole-stage codegen, identical arithmetic on both engines
    (float inputs widen to double exactly). The vector is emitted as a
    canonical comma-joined string: raw array columns stringify
    differently across pandas conversion paths (numpy vs list), which
    would false-fail a hash compare on an otherwise identical result."""
    emb = t(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda v: F.round(
            F.greatest(F.least(v.cast("double"), F.lit(1.0)), F.lit(-1.0))
            * 127).cast("int"),
    )
    return emb.select(
        "vec_id",
        F.array_join(q, ",").alias("q_embedding"),
        F.size("embedding").cast("bigint").alias("n_dims"),
        F.aggregate(q, F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x).alias("sum_q"),
    )


@query(
    "mm_media_dedup",
    survey=("MM-dedup",),
    oracle="""
        WITH media AS (
            SELECT i AS media_id,
                   unhex(repeat(sha256('media-' || i), 4 + i % 7)) AS payload
            FROM generate_series(0, 47) AS t(i)
        ),
        corpus AS (
            SELECT media_id, payload FROM media
            UNION ALL
            SELECT media_id + 1000 AS media_id, payload
            FROM media WHERE media_id % 4 = 0
        )
        SELECT md5(hex(payload)) AS content_hash,
               min(media_id) AS canonical_id,
               count(*) AS n_copies
        FROM corpus GROUP BY md5(hex(payload))
    """,
)
def mm_media_dedup(spark, sf_dir):
    """Exact media dedup by payload content hash — the binary-column
    sibling of dd_exact_duplicates (dedup images/audio before decode:
    at 100 TB most duplicate media is byte-identical re-uploads, and a
    hash-groupBy removes them without ever decoding). The hash rides on
    hex(payload) because the oracle engine hashes strings, not blobs —
    both engines hex identically. Every 4th media row gets a planted
    copy so duplicate groups provably exist."""
    from bdc_collection_builder_spark.extensions.multimodal import (
        synthetic_media,
    )

    media = synthetic_media(spark, 48).select("media_id", "payload")
    copies = media.filter(F.col("media_id") % 4 == 0).select(
        (F.col("media_id") + 1000).alias("media_id"), "payload")
    return (
        media.unionByName(copies)
        .groupBy(F.md5(F.hex("payload")).alias("content_hash"))
        .agg(F.min("media_id").alias("canonical_id"),
             F.count("*").alias("n_copies"))
    )


_MIX_U = _HEX60.format(x="CAST(doc_id AS VARCHAR) || ':mix'") + " % 10000"


@query(
    "cu_token_budget_mix",
    survey=("CU-mix",),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source, len({_TOKS}) AS n_tokens FROM documents
        ),
        totals AS (
            SELECT source, sum(n_tokens) AS stratum_tokens
            FROM toks GROUP BY source
        ),
        share AS (
            SELECT source,
                   least(1.0, (2000.0 / (SELECT count(*) FROM totals))
                              / stratum_tokens) AS keep_frac
            FROM totals
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN share s USING (source)
        WHERE {_MIX_U} < CAST(floor(s.keep_frac * 10000) AS BIGINT)
    """,
)
def cu_token_budget_mix(spark, sf_dir):
    """Balanced mixture under a 2000-token budget: each source gets an
    equal token share; oversized sources are hash-downsampled to it.
    The per-source totals and stratum count are dimension-sized
    broadcasts — the corpus is filtered in place, never shuffled."""
    from bdc_collection_builder_spark.extensions.curation import (
        token_budget_mix,
    )

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text")
    return token_budget_mix(docs, budget_tokens=2000).select(
        "doc_id", "lang", "source")


@query(
    "cu_seeded_shuffle",
    survey=("CU-shuffle",),
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id,
                   {_HEX60.format(x="CAST(doc_id AS VARCHAR) || ':epoch-0'")}
                       AS shuffle_key
            FROM documents
        ),
        sharded AS (
            SELECT doc_id, shuffle_key,
                   CAST(shuffle_key % 8 AS INTEGER) AS shard
            FROM keyed
        )
        SELECT doc_id, shuffle_key, shard,
               CAST(row_number() OVER (
                   PARTITION BY shard ORDER BY shuffle_key, doc_id
               ) AS BIGINT) AS pos
        FROM sharded
    """,
)
def cu_seeded_shuffle(spark, sf_dir):
    """Deterministic per-epoch corpus shuffle: shard + position as a
    pure function of (doc_id, seed) — the reproducible training-order
    primitive (no RNG state, rerun-stable, 8-byte shuffle keys)."""
    from bdc_collection_builder_spark.extensions.curation import seeded_shuffle

    docs = t(spark, sf_dir, "documents").select("doc_id")
    return seeded_shuffle(docs, seed="epoch-0", n_shards=8) \
        .select("doc_id", "shuffle_key", "shard", F.col("pos").cast("long").alias("pos"))


@query(
    "tx_chunk_documents",
    survey=("TX-chunk",),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS} AS t FROM documents
        ),
        spans AS (
            SELECT doc_id, t,
                   CAST(greatest(ceil(greatest(len(t) - 16, 1) / 48.0), 1)
                        AS INTEGER) AS n_chunks
            FROM toks
        )
        SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
               array_to_string(t[i * 48 + 1 : i * 48 + 64], ' ')
                   AS chunk_text,
               CAST(least(len(t) - i * 48, 64) AS INTEGER) AS n_tokens
        FROM spans, UNNEST(generate_series(0, n_chunks - 1)) AS g(i)
    """,
)
def tx_chunk_documents(spark, sf_dir):
    """Fixed-window document chunking (64 tokens, 16 overlap) — the
    training-prep step before cu_pack_sequences. One narrow projection
    per document: tokenize once, slice per chunk; no shuffle at any
    corpus size, deterministic chunk ids (rerun-stable like
    hash_split)."""
    from bdc_collection_builder_spark.extensions.text import chunk_documents

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, chunk_tokens=64, overlap=16)


# --- C4-style line filtering + corpus line dedup ---------------------------
#
# The two line-granularity curation steps of the C4 pipeline (Raffel et
# al. 2020, public): (1) per-line quality rules + page-level blocklist,
# (2) corpus-wide dedup of repeated lines keeping one occurrence. The
# documents fixture has no newlines, so both queries plant a
# deterministic multi-line structure first (same expression in both
# engines).

_PLANT_LINES_SQL = """
    SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN text || '.' ELSE text END)
           || chr(10) || 'short line'
           || chr(10) ||
           'this well formed sentence definitely ends with punctuation.'
           || (CASE WHEN doc_id % 5 = 0
               THEN chr(10) || 'enable javascript to view this content.'
               ELSE '' END)
           || (CASE WHEN doc_id % 11 = 0
               THEN chr(10) || 'lorem ipsum dolor sit amet consectetur.'
               ELSE '' END)
           || (CASE WHEN doc_id % 13 = 0
               THEN chr(10) || 'config { display: none } style block.'
               ELSE '' END)
           AS text
    FROM documents
"""


def _plant_lines(spark, sf_dir):
    """Spark twin of _PLANT_LINES_SQL."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    nl = F.lit("\n")
    text = F.concat(
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.col("text"), F.lit("."))).otherwise(F.col("text")),
        nl, F.lit("short line"),
        nl,
        F.lit("this well formed sentence definitely ends with punctuation."),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(nl, F.lit("enable javascript to view this content.")))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0,
               F.concat(nl, F.lit("lorem ipsum dolor sit amet consectetur.")))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0,
               F.concat(nl, F.lit("config { display: none } style block.")))
        .otherwise(F.lit("")),
    )
    return docs.select("doc_id", text.alias("text"))


_LINE_OK_SQL = (
    "regexp_matches(l, '[.!?\"]\\s*$')"
    " AND len(list_filter(regexp_split_to_array(l, '\\s+'), w -> w <> ''))"
    " >= 5"
    " AND NOT contains(lower(l), 'javascript')"
)


@query(
    "tx_c4_line_filter",
    survey=("TX-c4",),
    oracle=f"""
        WITH planted AS ({_PLANT_LINES_SQL})
        SELECT doc_id,
               CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
               CAST(len(list_filter(string_split(text, chr(10)),
                                    l -> {_LINE_OK_SQL})) AS BIGINT)
                 AS n_kept,
               array_to_string(list_filter(string_split(text, chr(10)),
                                           l -> {_LINE_OK_SQL}), chr(10))
                 AS text_clean
        FROM planted
        WHERE NOT contains(lower(text), 'lorem ipsum')
          AND NOT contains(text, '{{')
    """,
)
def tx_c4_line_filter(spark, sf_dir):
    """C4 curation rules, line granularity: keep lines ending in
    terminal punctuation with ≥5 words and no 'javascript'; drop whole
    pages containing 'lorem ipsum' or curly braces. Map-only — split,
    filter, rejoin per row inside one projection; at 100 TB this is a
    scan-shaped pass with zero shuffles."""
    planted = _plant_lines(spark, sf_dir)

    def line_ok(line):
        words = F.filter(F.split(line, r"\s+"), lambda w: w != "")
        return (
            line.rlike('[.!?"]\\s*$')
            & (F.size(words) >= 5)
            & ~F.lower(line).contains("javascript")
        )

    lines = F.split(F.col("text"), "\n")
    kept = F.filter(lines, line_ok)
    return (
        planted.filter(
            ~F.lower(F.col("text")).contains("lorem ipsum")
            & ~F.col("text").contains("{"))
        .select(
            "doc_id",
            F.size(lines).cast("bigint").alias("n_lines"),
            F.size(kept).cast("bigint").alias("n_kept"),
            F.array_join(kept, "\n").alias("text_clean"),
        )
    )


@query(
    "tx_line_dedup",
    survey=("TX-c4", "DD-exact"),
    oracle=f"""
        WITH planted AS ({_PLANT_LINES_SQL}),
        lines AS (
            SELECT doc_id, g.i AS line_no,
                   string_split(text, chr(10))[g.i + 1] AS line
            FROM planted,
                 UNNEST(generate_series(
                     0, len(string_split(text, chr(10))) - 1)) AS g(i)
        ),
        ranked AS (
            SELECT doc_id, line_no, line,
                   row_number() OVER (
                       PARTITION BY line ORDER BY doc_id, line_no
                   ) AS occ
            FROM lines
        )
        SELECT doc_id,
               CAST(count(*) FILTER (occ = 1) AS BIGINT) AS n_kept,
               coalesce(array_to_string(
                   list(CASE WHEN occ = 1 THEN line END
                        ORDER BY line_no) FILTER (occ = 1),
                   chr(10)), '') AS text_dedup
        FROM ranked
        GROUP BY doc_id
    """,
)
def tx_line_dedup(spark, sf_dir):
    """Corpus-wide line dedup (the C4 repeated-span rule at line
    granularity): every line occurrence ranks over (doc_id, line_no)
    per distinct line text; only the first survives, then documents
    reassemble in original line order. ONE shuffle on the line hash for
    the ranking window + one partial-agg shuffle on doc_id for the
    rebuild — at scale the window key is the line text itself, so
    hot/boilerplate lines (the dedup targets) group tightly."""
    from pyspark.sql import Window

    planted = _plant_lines(spark, sf_dir)
    lines = planted.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\n")).alias("line_no", "line"))
    w = Window.partitionBy("line").orderBy("doc_id", "line_no")
    ranked = lines.withColumn("occ", F.row_number().over(w))
    # aggregate over ALL lines (not just survivors) so a document whose
    # every line is a duplicate still emits a row with n_kept = 0 —
    # collect_list drops the NULLs the when() leaves for dup lines
    surv = F.when(F.col("occ") == 1, F.struct("line_no", "line"))
    return (
        ranked.groupBy("doc_id")
        .agg(F.sum(F.when(F.col("occ") == 1, 1).otherwise(0))
             .cast("bigint").alias("n_kept"),
             F.array_join(
                 F.transform(F.array_sort(F.collect_list(surv)),
                             lambda s: s.line),
                 "\n").alias("text_dedup"))
    )


# --- product-quantization ANN (ADC) ---------------------------------------

def _pq_oracle(k: int = 5, m: int = 8, dsub: int = 8, ks: int = 16,
               shortlist: int = 15) -> str:
    def dotsub(a, b, j):
        return (f"list_sum(list_transform(generate_series(1, {dsub}), "
                f"i -> CAST(({a})[{j * dsub} + i] AS DOUBLE)"
                f" * CAST(({b})[{j * dsub} + i] AS DOUBLE)))")

    codes = ", ".join(
        f"(list_sort(list_transform(cents, c -> {{"
        f"'d': {dotsub('c.cw', 'c.cw', j)}"
        f" - 2.0 * {dotsub('embedding', 'c.cw', j)}, "
        f"'cid': c.cid}})))[1].cid"
        for j in range(m))
    approx = " + ".join(
        f"{dotsub('q.q_vec', f'e.cents[e.codes[{j + 1}] + 1].cw', j)}"
        for j in range(m))
    dot64 = ("list_sum(list_transform(generate_series(1, 64), "
             "i -> CAST(({a})[i] AS DOUBLE) * CAST(({b})[i] AS DOUBLE)))")
    return f"""
        WITH cents_row AS (
            SELECT list(struct_pack(cid := CAST(vec_id AS BIGINT),
                                    cw := embedding)
                        ORDER BY vec_id) AS cents
            FROM embeddings WHERE vec_id < {ks}
        ),
        enc AS (
            SELECT vec_id, embedding AS c_vec, cents, [{codes}] AS codes
            FROM embeddings, cents_row
        ),
        q AS (
            SELECT vec_id AS query_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < 8
        ),
        scored AS (
            SELECT q.query_id, e.vec_id, e.c_vec, q.q_vec,
                   {approx} AS approx
            FROM enc e CROSS JOIN q
            WHERE e.vec_id <> q.query_id
        ),
        short AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY approx DESC, vec_id
            ) AS arank FROM scored
        ),
        rer AS (
            SELECT query_id, vec_id,
                   round({dot64.format(a='q_vec', b='c_vec')}
                         / (sqrt({dot64.format(a='q_vec', b='q_vec')})
                            * sqrt({dot64.format(a='c_vec', b='c_vec')})),
                         6) AS cosine
            FROM short WHERE arank <= {shortlist}
        )
        SELECT query_id, vec_id, cosine, rank FROM (
            SELECT query_id, vec_id, cosine, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id
            ) AS rank FROM rer
        ) WHERE rank <= {k}
    """


@query(
    "ss_pq_topk",
    survey=("SS-pq",),
    oracle=_pq_oracle(),
)
def ss_pq_topk(spark, sf_dir):
    """Product-quantization ANN top-k (ADC): corpus compressed to m=8
    codes over 8-dim subspaces against a relational codebook (first 16
    corpus vectors), queries score codewords only, shortlist re-ranked
    exactly. The memory-side counterpart of ss_ivf_topk's partition
    pruning — every step deterministic and replayed verbatim by the
    oracle."""
    from bdc_collection_builder_spark.extensions.similarity import (
        pq_topk_seeded,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return pq_topk_seeded(emb, queries, k=5)


@query(
    "tx_unigram_logprob",
    survey=("TX-quality", "TX-vocab"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        ),
        vocab AS (
            SELECT tok, count(*) AS n FROM toks GROUP BY tok
        ),
        total AS (SELECT sum(n) AS total FROM vocab)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               round(avg(ln(CAST(vocab.n AS DOUBLE)
                            / CAST(total.total AS DOUBLE))), 6)
                 AS avg_logprob
        FROM toks JOIN vocab USING (tok) CROSS JOIN total
        GROUP BY doc_id
    """,
)
def tx_unigram_logprob(spark, sf_dir):
    """CCNet-style unigram LM quality score: the corpus itself is the
    language model (token frequency / total), and each document scores
    the mean log-probability of its tokens — the classic
    perplexity-bucket signal for pretraining-data filtering, minus the
    external KenLM. Two shuffles total at any scale: one partial-agg
    on token to build the vocabulary, one token-keyed join + doc-keyed
    partial agg for scoring; the scalar total rides along as a one-row
    cross join (bare literal attach, no data movement)."""
    from bdc_collection_builder_spark.extensions.text import tokens

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total = vocab.agg(F.sum("n").alias("total"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_tokens"),
             F.round(F.avg(F.log(
                 F.col("n").cast("double") / F.col("total").cast("double"))),
                 6).alias("avg_logprob"))
    )


_FFD_FIT = (
    "CASE WHEN o.n_tokens <= 512 THEN NULLIF(list_position("
    "list_transform(s.loads, l -> l + o.n_tokens <= 512), true), 0) "
    "ELSE NULL END"
)


@query(
    "cu_pack_sequences_ffd",
    survey=("CU-pack",),
    # The per-shard first-fit loop IS SQL-expressible after all: a
    # recursive CTE carrying the shard's bin-load LIST as state, one
    # placement per recursion step in the same (n_tokens DESC, doc_id)
    # order. Was rows-only through round 3 ("stateful loop — not
    # SQL"); the pure-Python reference + overflow invariants in
    # tests/test_curation.py remain as the second witness.
    oracle=f"""
        WITH RECURSIVE toks AS (
            SELECT doc_id, doc_id % 32 AS shard,
                   CAST(len({_TOKS}) AS BIGINT) AS n_tokens
            FROM documents
        ),
        ordered AS (
            SELECT *, row_number() OVER (
                PARTITION BY shard ORDER BY n_tokens DESC, doc_id) AS rnk
            FROM toks
        ),
        steps(shard, rnk, doc_id, n_tokens, pack_id, start_offset,
              loads) AS (
            SELECT shard, CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT), CAST([] AS BIGINT[])
            FROM (SELECT DISTINCT shard FROM ordered)
            UNION ALL
            SELECT o.shard, o.rnk, o.doc_id, o.n_tokens,
                   CASE WHEN ({_FFD_FIT}) IS NOT NULL
                        THEN ({_FFD_FIT}) - 1
                        ELSE len(s.loads) END,
                   CASE WHEN ({_FFD_FIT}) IS NOT NULL
                        THEN s.loads[({_FFD_FIT})]
                        ELSE 0 END,
                   CASE WHEN ({_FFD_FIT}) IS NOT NULL THEN
                        list_concat(list_concat(
                            list_slice(s.loads, 1, ({_FFD_FIT}) - 1),
                            [s.loads[({_FFD_FIT})] + o.n_tokens]),
                            list_slice(s.loads, ({_FFD_FIT}) + 1,
                                       len(s.loads)))
                        ELSE list_append(s.loads, o.n_tokens) END
            FROM steps s
            JOIN ordered o ON o.shard = s.shard AND o.rnk = s.rnk + 1
        )
        SELECT doc_id, shard, n_tokens, pack_id, start_offset
        FROM steps WHERE rnk > 0
    """,
)
def cu_pack_sequences_ffd(spark, sf_dir):
    """First-fit-decreasing packing (documents stay whole, padding
    minimized) — the applyInPandas counterpart of cu_pack_sequences'
    concat-and-chunk window. See extensions/curation.py docstring.
    Value-checked since round 4: the oracle replays the per-shard
    first-fit loop as a recursive CTE whose state is the bin-load
    list, so every (pack_id, start_offset) matches exactly."""
    from bdc_collection_builder_spark.extensions.curation import (
        pack_sequences_ffd,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences_ffd(docs, capacity=512, n_shards=32)


@query(
    "cu_dataset_card",
    survey=("CU-mix", "A1"),
    oracle=f"""
        SELECT coalesce(source, 'ALL') AS source,
               coalesce(lang, 'ALL') AS lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               round(avg(CAST(len({_TOKS}) AS DOUBLE)), 4)
                 AS avg_tokens_per_doc
        FROM documents
        GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
    """,
)
def cu_dataset_card(spark, sf_dir):
    """Dataset-card summary: doc/token/char counts and token means per
    (source × lang), per source, per lang, and overall — the mixture
    table every corpus release publishes, computed as ONE scan + ONE
    grouping-sets Expand (four independent GROUP BYs would re-read the
    100 TB corpus four times)."""
    from bdc_collection_builder_spark.extensions.text import tokens

    docs = t(spark, sf_dir, "documents")
    n_toks = F.size(tokens(F.col("text")))
    return (
        docs.select("source", "lang", n_toks.alias("n_toks"), "n_chars")
        .groupingSets([["source", "lang"], ["source"], ["lang"], []],
                      "source", "lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"),
             F.sum("n_toks").cast("bigint").alias("n_tokens"),
             F.sum("n_chars").cast("bigint").alias("n_chars"),
             F.round(F.avg(F.col("n_toks").cast("double")), 4)
             .alias("avg_tokens_per_doc"))
        .select(F.coalesce("source", F.lit("ALL")).alias("source"),
                F.coalesce("lang", F.lit("ALL")).alias("lang"),
                "n_docs", "n_tokens", "n_chars", "avg_tokens_per_doc")
    )


@query(
    "cu_outlier_mad",
    survey=("CU-sample", "A8"),
    oracle="""
        WITH stats AS (
            SELECT source,
                   median(CAST(n_chars AS DOUBLE)) AS med
            FROM documents GROUP BY source
        ),
        dev AS (
            SELECT d.doc_id, d.source, d.n_chars, s.med,
                   abs(CAST(d.n_chars AS DOUBLE) - s.med) AS adev
            FROM documents d JOIN stats s USING (source)
        ),
        mads AS (
            SELECT source, median(adev) AS mad FROM dev GROUP BY source
        )
        SELECT dev.doc_id, dev.source,
               CAST(dev.n_chars AS BIGINT) AS n_chars,
               (abs(CAST(dev.n_chars AS DOUBLE) - dev.med)
                > 3.0 * mads.mad) AS is_outlier
        FROM dev JOIN mads USING (source)
    """,
)
def cu_outlier_mad(spark, sf_dir):
    """Robust length-outlier flagging per source: median absolute
    deviation (not stddev — one 2 GB crawl artifact would drag a
    mean/σ fence, while MAD ignores it). Two grouped exact medians +
    two broadcast joins of the 5-row stats dim; the corpus never
    shuffles. The curation step that catches truncated/concatenated
    crawl documents before they skew packing and token budgets."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    med = docs.groupBy("source").agg(
        F.expr("percentile(CAST(n_chars AS DOUBLE), 0.5)").alias("med"))
    dev = (docs.join(F.broadcast(med), "source")
           .withColumn("adev",
                       F.abs(F.col("n_chars").cast("double") - F.col("med"))))
    mads = dev.groupBy("source").agg(
        F.expr("percentile(adev, 0.5)").alias("mad"))
    return (
        dev.join(F.broadcast(mads), "source")
        .select("doc_id", "source",
                F.col("n_chars").cast("bigint").alias("n_chars"),
                (F.abs(F.col("n_chars").cast("double") - F.col("med"))
                 > 3.0 * F.col("mad")).alias("is_outlier"))
    )


def _ivfpq_oracle(k: int = 5, n_centroids: int = 16, nprobe: int = 4,
                  m: int = 8, dsub: int = 8, ks: int = 16,
                  shortlist: int = 15) -> str:
    """DuckDB replay of ivfpq_topk_seeded: IVF bucket assignment
    (cosine, ties to low cid) prunes candidates, PQ ADC scores them,
    shortlist re-ranked exactly."""
    def dotsub(a, b, j):
        return (f"list_sum(list_transform(generate_series(1, {dsub}), "
                f"i -> CAST(({a})[{j * dsub} + i] AS DOUBLE)"
                f" * CAST(({b})[{j * dsub} + i] AS DOUBLE)))")

    codes = ", ".join(
        f"(list_sort(list_transform(cws, c -> {{"
        f"'d': {dotsub('c.cw', 'c.cw', j)}"
        f" - 2.0 * {dotsub('embedding', 'c.cw', j)}, "
        f"'cid': c.cid}})))[1].cid"
        for j in range(m))
    approx = " + ".join(
        f"{dotsub('q.q_vec', f'e.cws[e.codes[{j + 1}] + 1].cw', j)}"
        for j in range(m))
    dot64 = ("list_sum(list_transform(generate_series(1, 64), "
             "i -> CAST(({a})[i] AS DOUBLE) * CAST(({b})[i] AS DOUBLE)))")
    return f"""
        WITH cent AS (
            SELECT vec_id AS cid, embedding AS cent
            FROM embeddings WHERE vec_id < {n_centroids}
        ),
        corpus_assign AS (
            SELECT vec_id, centroid_id FROM (
                SELECT e.vec_id, c.cid AS centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_IVF_ASSIGN_COS} DESC, c.cid
                       ) AS rnk
                FROM embeddings e CROSS JOIN cent c
            ) WHERE rnk <= 1
        ),
        query_assign AS (
            SELECT query_id, centroid_id FROM (
                SELECT e.vec_id AS query_id, c.cid AS centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_IVF_ASSIGN_COS} DESC, c.cid
                       ) AS rnk
                FROM embeddings e CROSS JOIN cent c
                WHERE e.vec_id < 8
            ) WHERE rnk <= {nprobe}
        ),
        cws_row AS (
            SELECT list(struct_pack(cid := CAST(vec_id AS BIGINT),
                                    cw := embedding)
                        ORDER BY vec_id) AS cws
            FROM embeddings WHERE vec_id < {ks}
        ),
        enc AS (
            SELECT vec_id, embedding AS c_vec, cws, [{codes}] AS codes
            FROM embeddings, cws_row
        ),
        q AS (
            SELECT vec_id AS query_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < 8
        ),
        scored AS (
            SELECT qa.query_id, e.vec_id, e.c_vec, q.q_vec,
                   {approx} AS approx
            FROM corpus_assign ca
            JOIN query_assign qa USING (centroid_id)
            JOIN enc e ON e.vec_id = ca.vec_id
            JOIN q ON q.query_id = qa.query_id
            WHERE e.vec_id <> qa.query_id
        ),
        short AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY approx DESC, vec_id
            ) AS arank FROM scored
        ),
        rer AS (
            SELECT query_id, vec_id,
                   round({dot64.format(a='q_vec', b='c_vec')}
                         / (sqrt({dot64.format(a='q_vec', b='q_vec')})
                            * sqrt({dot64.format(a='c_vec', b='c_vec')})),
                         6) AS cosine
            FROM short WHERE arank <= {shortlist}
        )
        SELECT query_id, vec_id, cosine, rank FROM (
            SELECT query_id, vec_id, cosine, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id
            ) AS rank FROM rer
        ) WHERE rank <= {k}
    """


@query(
    "ss_ivfpq_topk",
    survey=("SS-ivf", "SS-pq"),
    oracle=_ivfpq_oracle(),
)
def ss_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composed ANN (FAISS's IVFx,PQy layout relationally):
    IVF prunes which vectors a query touches, PQ prunes what is read
    per vector. See extensions/similarity.ivfpq_topk_seeded for the
    full plan-shape story."""
    from bdc_collection_builder_spark.extensions.similarity import (
        ivfpq_topk_seeded,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return ivfpq_topk_seeded(emb, queries, k=5)


_SEM_CORPUS_SQL = """
        corpus AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 1000000,
                   list_transform(embedding, x -> CAST(x * 1.01 AS FLOAT))
            FROM embeddings WHERE vec_id % 25 = 0
        )"""


@query(
    "dd_semantic_dedup",
    survey=("DD-embed",),
    oracle=f"""
        WITH {_SEM_CORPUS_SQL},
        cents AS (
            SELECT vec_id AS cid, embedding AS cvec FROM corpus
            WHERE vec_id < 16
        ), scored AS (
            SELECT v.vec_id, v.embedding, c.cid,
                   {_DOT_SQL.format(a="v.embedding", b="c.cvec")}
                   / (sqrt({_DOT_SQL.format(a="v.embedding", b="v.embedding")})
                      * sqrt({_DOT_SQL.format(a="c.cvec", b="c.cvec")})) AS sim
            FROM corpus v CROSS JOIN cents c
        ), assigned AS (
            SELECT vec_id, embedding, cid AS centroid_id FROM (
                SELECT vec_id, embedding, cid,
                       row_number() OVER (
                           PARTITION BY vec_id ORDER BY sim DESC, cid
                       ) AS rn
                FROM scored
            ) WHERE rn = 1
        ), dups AS (
            SELECT DISTINCT b.vec_id AS dup_id
            FROM assigned a JOIN assigned b
              ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
            WHERE round({_DOT_SQL.format(a="a.embedding", b="b.embedding")}
                        / (sqrt({_DOT_SQL.format(a="a.embedding", b="a.embedding")})
                           * sqrt({_DOT_SQL.format(a="b.embedding", b="b.embedding")})),
                        6) >= 0.97
        )
        SELECT a.vec_id, a.centroid_id,
               (d.dup_id IS NOT NULL) AS is_dup
        FROM assigned a LEFT JOIN dups d ON a.vec_id = d.dup_id
    """,
)
def dd_semantic_dedup(spark, sf_dir):
    """SemDeDup over a corpus augmented with scaled copies (cosine 1.0
    to their source by construction): k-means-style clustering bounds
    the pairwise cosine scan to within-cluster members, lowest id per
    duplicate group survives. This registration runs the seeded
    relational quantizer (first-16-vectors centroids) so DuckDB can
    replay assignment + within-cluster pair scan verbatim; the trained
    Lloyd's quantizer is the production path (see
    extensions/dedup.semantic_dedup and its companion test)."""
    from bdc_collection_builder_spark.extensions.dedup import semantic_dedup

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scaled = (
        emb.filter(F.col("vec_id") % 25 == 0)
        .select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.transform("embedding",
                        lambda x: (x * 1.01).cast("float")).alias("embedding"),
        )
    )
    return semantic_dedup(emb.unionByName(scaled), n_centroids=16,
                          threshold=0.97)


_HEX60B = "CAST(concat('0x', substr(md5({x}), 16, 15)) AS BIGINT)"
_BLOOM_M = 1 << 15


@query(
    "cu_bloom_decontaminate",
    survey=("CU-decon",),
    oracle=f"""
        WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0),
        bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0),
        tr AS ({_SHINGLE5_SQL.format(toks=_TOKS, src="train")}),
        be AS ({_SHINGLE5_SQL.format(toks=_TOKS, src="bench")}),
        probes(i) AS (VALUES (0), (1), (2)),
        bpos AS (
            SELECT (({_HEX60.format(x='sh')} % {_BLOOM_M})
                    + i * ({_HEX60B.format(x='sh')} % {_BLOOM_M}))
                   % {_BLOOM_M} AS pos
            FROM be CROSS JOIN probes
        ),
        bitmap AS (
            SELECT pos // 63 AS word_idx,
                   bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
            FROM bpos GROUP BY pos // 63
        ),
        trh AS (
            SELECT DISTINCT doc_id AS train_doc_id,
                   {_HEX60.format(x='sh')} % {_BLOOM_M} AS r1,
                   {_HEX60B.format(x='sh')} % {_BLOOM_M} AS r2
            FROM tr
        ),
        tpos AS (
            SELECT train_doc_id, r1, r2,
                   (r1 + i * r2) % {_BLOOM_M} AS pos
            FROM trh CROSS JOIN probes
        ),
        hits AS (
            SELECT train_doc_id, r1, r2,
                   sum(CASE WHEN b.bits IS NOT NULL
                            AND (b.bits
                                 & (1::BIGINT << CAST(pos % 63 AS INT))) <> 0
                       THEN 1 ELSE 0 END) AS n_hits
            FROM tpos LEFT JOIN bitmap b ON tpos.pos // 63 = b.word_idx
            GROUP BY train_doc_id, r1, r2
        )
        SELECT train_doc_id,
               CAST(count(*) AS BIGINT) AS n_flagged_shingles
        FROM hits WHERE n_hits = 3
        GROUP BY train_doc_id
    """,
)
def cu_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter decontamination — the scale path of
    cu_decontaminate for when the benchmark shingle set is too big to
    broadcast raw: the benchmark folds into a 4 KiB bitmap (m=2^15
    bits, 3 probes, md5 double hashing), the corpus probes it with a
    broadcast word-index join, and flagged docs (zero false negatives,
    deterministic ~0.3% false-positive grams) go to exact recheck.
    Companion test pins flagged ⊇ exact-contaminated."""
    from bdc_collection_builder_spark.extensions.curation import (
        bloom_decontaminate,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return bloom_decontaminate(docs.filter(F.col("doc_id") % 17 != 0),
                               docs.filter(F.col("doc_id") % 17 == 0),
                               k=5, m_bits=_BLOOM_M, n_hashes=3)


def _kmeans_oracle(n_clusters: int = 8, dim: int = 64) -> str:
    """Two-round Lloyd's replay: the centroid mean is summed in
    vec_id order (list(... ORDER BY vec_id) -> list_sum), matching the
    Spark side's ordered fold — double arithmetic is order-sensitive,
    so the oracle variant pins the order both engines use."""
    d_c0 = (f"{_DOT_SQL.format(a='c.cvec', b='c.cvec')}"
            f" - 2 * {_DOT_SQL.format(a='b.embedding', b='c.cvec')}")
    return f"""
        WITH base AS (SELECT vec_id, embedding FROM embeddings),
        c0 AS (
            SELECT vec_id AS cid,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
            FROM base WHERE vec_id < {n_clusters}
        ),
        a1 AS (
            SELECT vec_id, embedding, cid AS cluster_id FROM (
                SELECT b.vec_id, b.embedding, c.cid,
                       row_number() OVER (
                           PARTITION BY b.vec_id
                           ORDER BY {d_c0} ASC, c.cid
                       ) AS rn
                FROM base b CROSS JOIN c0 c
            ) WHERE rn = 1
        ),
        parts AS (
            SELECT cluster_id, i,
                   list_sum(list(CAST(embedding[i] AS DOUBLE)
                                 ORDER BY vec_id)) AS s,
                   count(*) AS n
            FROM a1, UNNEST(generate_series(1, {dim})) AS t(i)
            GROUP BY cluster_id, i
        ),
        c1 AS (
            SELECT cluster_id AS cid, list(s / n ORDER BY i) AS cvec
            FROM parts GROUP BY cluster_id
        ),
        a2 AS (
            SELECT vec_id, cid AS cluster_id FROM (
                SELECT b.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY b.vec_id
                           ORDER BY {d_c0} ASC, c.cid
                       ) AS rn
                FROM base b CROSS JOIN c1 c
            ) WHERE rn = 1
        )
        SELECT vec_id, cluster_id FROM a2
    """


@query(
    "ss_kmeans_assign",
    survey=("SS-ivf", "Z3"),
    oracle=_kmeans_oracle(),
)
def ss_kmeans_assign(spark, sf_dir):
    """Distributed Lloyd's k-means (2 rounds, 8 clusters) over the
    embedding corpus — the pipeline-scale trainer behind IVF/SemDeDup
    quantizers: per round one map-only broadcast argmin assignment +
    one bounded n_clusters×dim mean aggregate; the corpus never
    reaches the driver. This registration runs the ordered-sum oracle
    variant so DuckDB replays the double arithmetic bit-for-bit; the
    production path uses plain partial-agg means (companion test pins
    identical assignments)."""
    from bdc_collection_builder_spark.extensions.similarity import (
        kmeans_assign_distributed,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return kmeans_assign_distributed(emb, n_clusters=8, iters=2,
                                     ordered=True)


@query(
    "ss_hard_negative_mining",
    survey=("SS-brute", "CU-mix"),
    oracle=f"""
        WITH queries AS (
            SELECT vec_id AS anchor_id, embedding AS q FROM embeddings
            WHERE vec_id < 8
        ), scored AS (
            SELECT anchor_id, vec_id,
                   round({_DOT_SQL.format(a="q", b="embedding")}
                         / (sqrt({_DOT_SQL.format(a="q", b="q")})
                            * sqrt({_DOT_SQL.format(a="embedding",
                                                    b="embedding")})),
                         6) AS cosine
            FROM embeddings CROSS JOIN queries
            WHERE vec_id <> anchor_id
        )
        SELECT anchor_id, vec_id AS negative_id, cosine, rank FROM (
            SELECT anchor_id, vec_id, cosine,
                   row_number() OVER (
                       PARTITION BY anchor_id ORDER BY cosine DESC, vec_id
                   ) AS rank
            FROM scored
            WHERE cosine >= 0.3 AND cosine < 0.8
        ) WHERE rank <= 10
    """,
)
def ss_hard_negative_mining(spark, sf_dir):
    """Semi-hard negative mining for contrastive embedding training:
    for each anchor of the training batch, the top candidates whose
    similarity falls in the semi-hard band [0.3, 0.8) — similar enough
    to be informative, dissimilar enough not to be a near-duplicate
    (those are positives or dd_* material). The batch is bounded by
    construction (it's a training batch), so the broadcast-batch ×
    corpus-scan shape of ss_brute_force_topk is the honest plan at any
    corpus size: one pass over the embeddings per batch, the band
    filter applied before the per-anchor rank window."""
    from bdc_collection_builder_spark.extensions.similarity import dot, norm
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    anchors = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("q_vec"),
        norm(F.col("embedding")).alias("q_norm"))
    corpus = emb.select("vec_id", F.col("embedding").alias("c_vec"),
                        norm(F.col("embedding")).alias("c_norm"))
    scored = (
        corpus.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id", "vec_id",
            F.round(dot(F.col("q_vec"), F.col("c_vec"))
                    / (F.col("q_norm") * F.col("c_norm")), 6)
            .alias("cosine"))
        .filter((F.col("cosine") >= 0.3) & (F.col("cosine") < 0.8))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("anchor_id", F.col("vec_id").alias("negative_id"),
                "cosine", "rank")
    )


@query(
    "ss_ivf_recall_eval",
    survey=("SS-ivf", "DQ-drift"),
    oracle=f"""
        WITH cent AS (
            SELECT vec_id AS cid, embedding AS cent
            FROM embeddings WHERE vec_id < 16
        ),
        corpus_assign AS (
            SELECT vec_id, centroid_id FROM (
                SELECT e.vec_id, c.cid AS centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_IVF_ASSIGN_COS} DESC, c.cid
                       ) AS rnk
                FROM embeddings e CROSS JOIN cent c
            ) WHERE rnk <= 1
        ),
        query_assign AS (
            SELECT query_id, centroid_id FROM (
                SELECT e.vec_id AS query_id, c.cid AS centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_IVF_ASSIGN_COS} DESC, c.cid
                       ) AS rnk
                FROM embeddings e CROSS JOIN cent c
                WHERE e.vec_id < 8
            ) WHERE rnk <= 4
        ),
        cands AS (
            SELECT DISTINCT q.query_id, c.vec_id
            FROM corpus_assign c JOIN query_assign q USING (centroid_id)
            WHERE c.vec_id <> q.query_id
        ),
        ivf AS (
            SELECT query_id, vec_id FROM (
                SELECT p.query_id, p.vec_id,
                       row_number() OVER (
                           PARTITION BY p.query_id
                           ORDER BY
                             {_DOT_SQL.format(a='q.embedding',
                                              b='c.embedding')}
                             / (sqrt({_DOT_SQL.format(a='q.embedding',
                                                      b='q.embedding')})
                                * sqrt({_DOT_SQL.format(a='c.embedding',
                                                        b='c.embedding')}))
                             DESC, p.vec_id
                       ) AS rank
                FROM cands p
                JOIN embeddings c ON c.vec_id = p.vec_id
                JOIN embeddings q ON q.vec_id = p.query_id
            ) WHERE rank <= 5
        ),
        exact AS (
            SELECT query_id, vec_id FROM (
                SELECT e2.vec_id AS query_id, e.vec_id,
                       row_number() OVER (
                           PARTITION BY e2.vec_id
                           ORDER BY
                             {_DOT_SQL.format(a='e2.embedding',
                                              b='e.embedding')}
                             / (sqrt({_DOT_SQL.format(a='e2.embedding',
                                                      b='e2.embedding')})
                                * sqrt({_DOT_SQL.format(a='e.embedding',
                                                        b='e.embedding')}))
                             DESC, e.vec_id
                       ) AS rank
                FROM embeddings e CROSS JOIN embeddings e2
                WHERE e2.vec_id < 8 AND e.vec_id <> e2.vec_id
            ) WHERE rank <= 5
        )
        SELECT x.query_id,
               CAST(count(i.vec_id) AS BIGINT) AS n_matched,
               round(CAST(count(i.vec_id) AS DOUBLE) / 5, 4) AS recall_at_5
        FROM exact x
        LEFT JOIN ivf i
          ON i.query_id = x.query_id AND i.vec_id = x.vec_id
        GROUP BY x.query_id
    """,
)
def ss_ivf_recall_eval(spark, sf_dir):
    """Index-quality monitoring: recall@5 of the IVF index against
    exact brute-force ground truth, per query — the evaluation loop
    every ANN deployment runs after (re)building an index or after
    drift (new embedding model, corpus growth). Ground truth over the
    bounded probe set is the standard protocol: exact top-k for a
    sampled query batch (broadcast × scan, one pass), IVF top-k from
    the index, then a keyed join counts agreement. Both sides reuse
    the production operators unchanged — the eval measures the real
    plans, not reimplementations."""
    from bdc_collection_builder_spark.extensions.similarity import (
        brute_force_topk,
        ivf_topk_seeded,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_topk(emb, queries, k=5).select(
        "query_id", "vec_id")
    approx = ivf_topk_seeded(emb, queries, k=5).select(
        F.col("query_id").alias("qi"), F.col("vec_id").alias("vi"))
    return (
        exact.join(approx, (F.col("query_id") == F.col("qi"))
                   & (F.col("vec_id") == F.col("vi")), "left")
        .groupBy("query_id")
        .agg(F.count("vi").alias("n_matched"),
             F.round(F.count("vi").cast("double") / 5, 4)
             .alias("recall_at_5"))
    )


_CONT_FILLER = 50   # per-doc unique filler tokens for the extended twin
_CONT_MAXDF = 32    # shingles in more docs than this are boilerplate
_CONT_THRESH = 0.9


@query(
    "dd_containment_pairs",
    survey=("DD-minhash", "DD-exact"),
    oracle=f"""
        WITH ext AS (
            SELECT doc_id + 3000000 AS doc_id,
                   text || ' ' || array_to_string(list_transform(
                       generate_series(1, {_CONT_FILLER}),
                       i -> 'x' || CAST(doc_id AS VARCHAR) || '_'
                            || CAST(i AS VARCHAR)), ' ') AS text
            FROM documents WHERE doc_id % 40 = 0
        ),
        corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id, text FROM ext
        ),
        sh AS ({{shingles}}),
        rare AS (
            SELECT sh FROM sh GROUP BY sh
            HAVING count(DISTINCT doc_id) <= {_CONT_MAXDF}
        ),
        inc AS (SELECT s.doc_id, s.sh FROM sh s JOIN rare USING (sh)),
        sizes AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
            FROM inc GROUP BY doc_id
        ),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS shared
            FROM inc a JOIN inc b
              ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, shared,
               round(CAST(shared AS DOUBLE) / least(sa.sz, sb.sz), 6)
                   AS containment,
               round(CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared), 6)
                   AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(shared AS DOUBLE) / least(sa.sz, sb.sz)
              >= {_CONT_THRESH}
    """.replace("{shingles}", _SHINGLE5_SQL.format(toks=_TOKS,
                                                   src="corpus")),
)
def dd_containment_pairs(spark, sf_dir):
    """CONTAINMENT dedup (Broder's containment coefficient
    |A∩B| / min(|A|,|B|)): catches a document EMBEDDED inside a longer
    one — quote-plus-commentary, boilerplate-wrapped reposts — which
    resemblance-based MinHash structurally under-scores (the extended
    twin here has Jaccard ~0.6 to its source but containment 1.0, and
    the output carries both so the gap is visible). Candidates come
    from per-shingle posting lists, NEVER all pairs, with a
    frequent-shingle cut (df > {{maxdf}} docs) that both removes
    boilerplate shingles and bounds the per-shingle pair fan-out to
    maxdf²/2 — the anti-skew guarantee at 100 TB where a stop-phrase
    shingle would otherwise fan a single key across the corpus.
    Synthetic
    containment twins (per-doc unique filler appended to every 40th
    doc) make the expected answer analytic for the oracle."""
    from bdc_collection_builder_spark.extensions.text import tokens

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    filler = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(1), F.lit(_CONT_FILLER)),
        lambda i: F.concat(F.lit("x"), F.col("doc_id").cast("string"),
                           F.lit("_"), i.cast("string"))))
    ext = (
        docs.filter(F.col("doc_id") % 40 == 0)
        .select((F.col("doc_id") + 3000000).alias("doc_id"),
                F.concat("text", F.lit(" "), filler).alias("text"))
    )
    corpus = docs.unionByName(ext).select(
        "doc_id", tokens(F.col("text")).alias("tk"))
    sh = (
        corpus.filter(F.size("tk") >= 5)
        .select("doc_id", F.explode(F.array_distinct(F.transform(
            F.sequence(F.lit(0), F.size("tk") - 5),
            lambda i: F.concat_ws(" ", F.slice("tk", i + 1, 5)))))
            .alias("sh"))
    )
    # ONE shuffle of the shingle table replaces the previous
    # rare-filter + join-back + self-join chain (which computed the
    # shingle explode twice and exchanged the incidence table three
    # more times): group by shingle, keep the rare ones (count ==
    # countDistinct because array_distinct ran per doc before the
    # explode), and carry the ≤ maxdf posting list in-row. Pairs are
    # then a combinations HOF over each posting list (fan-out bounded
    # by maxdf²/2 per shingle — the same anti-skew cap as before) and
    # sizes fall out of re-exploding the lists; both consumers read
    # the persisted grouped frame, never the corpus again
    # (guide §2.3 aggregate-before-shuffle + §2.4 remove shuffles).
    grouped = tracked_persist(
        sh.groupBy("sh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") <= _CONT_MAXDF)
        .select("ds"))
    sizes = (
        grouped.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id").agg(F.count("*").alias("sz")))
    ds, nd = F.col("ds"), F.size("ds")
    combos = F.when(nd >= 2, F.flatten(F.transform(
        F.sequence(F.lit(1), nd - 1),
        lambda i: F.transform(
            F.slice(ds, i + 1, nd - i),
            lambda y: F.struct(F.element_at(ds, i).alias("id_a"),
                               y.alias("id_b"))),
    ))).otherwise(F.array().cast("array<struct<id_a:bigint,id_b:bigint>>"))
    pairs = (
        grouped.select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"),
                 F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"),
                      F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"),
                      F.col("sz").alias("sz_b"))
    containment = (F.col("shared").cast("double")
                   / F.least("sz_a", "sz_b"))
    return (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .filter(containment >= _CONT_THRESH)
        .select("id_a", "id_b", "shared",
                F.round(containment, 6).alias("containment"),
                F.round(F.col("shared").cast("double")
                        / (F.col("sz_a") + F.col("sz_b")
                           - F.col("shared")), 6).alias("jaccard"))
    )


@query(
    "dd_survivorship",
    survey=("DD-cluster", "TX-quality", "CU-mix"),
    oracle=f"""
        WITH RECURSIVE {_JACCARD_CTES},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM jpairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM jpairs
        ),
        reach AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        comp AS (
            SELECT a AS doc_id, least(a, min(b)) AS component_id
            FROM reach GROUP BY a
        ),
        feats AS (
            SELECT doc_id,
                   CAST(len(list_filter({_TOKS},
                       x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                       / len({_TOKS}) AS stop_r,
                   CAST(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                       AS DOUBLE) / len(text) AS punct_r,
                   CAST(list_sum(list_transform({_TOKS}, x -> len(x)))
                       AS DOUBLE) / len({_TOKS}) AS mwl,
                   least(CAST(len(text) AS DOUBLE), CAST(4000.0 AS DOUBLE))
                       / CAST(4000.0 AS DOUBLE) AS len_norm
            FROM corpus
        ),
        quality AS (
            SELECT doc_id,
                   CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) * z
                       / (CAST(1.0 AS DOUBLE) + abs(z)) AS q
            FROM (
                SELECT doc_id,
                       CAST(-1.2 AS DOUBLE) + CAST(2.4 AS DOUBLE) * stop_r
                       - CAST(3.0 AS DOUBLE) * punct_r
                       + CAST(0.2 AS DOUBLE) * (mwl - CAST(4.0 AS DOUBLE))
                       + CAST(1.5 AS DOUBLE) * len_norm AS z
                FROM feats
            )
        ),
        ranked AS (
            SELECT c.component_id, c.doc_id, q.q,
                   row_number() OVER (
                       PARTITION BY c.component_id
                       ORDER BY q.q DESC, c.doc_id) AS rk
            FROM comp c JOIN quality q USING (doc_id)
        )
        SELECT component_id,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
                   AS survivor_id,
               round(max(q), 6) AS best_quality
        FROM ranked GROUP BY component_id
    """,
)
def dd_survivorship(spark, sf_dir):
    """Dedup SURVIVORSHIP — the last step of the near-dup pipeline:
    pairs (n-gram Jaccard) -> connected components (star contraction)
    -> pick ONE canonical document per cluster by the model quality
    score (tx_quality_logreg's scorer; ties break to the lowest id).
    This is what actually ships to training: not the pair list, not
    the cluster labels, but the keep-set — and choosing the HIGHEST-
    QUALITY member (rather than MinHash's arbitrary min-id) is the
    documented reason curation pipelines run survivorship as its own
    pass. Per cluster: one max_by over a (quality, -id) ordering
    struct — deterministic, no sort of the full corpus. The oracle
    replays pairs, transitive closure (recursive CTE), the quality
    formula, and the argmax end-to-end."""
    from bdc_collection_builder_spark.extensions.dedup import (
        connected_components_star,
        ngram_jaccard_pairs,
    )
    from bdc_collection_builder_spark.extensions.text import logreg_quality

    docs = t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") % 5 == 0)
    near = (
        t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" xy zz wq")).alias("text"))
    )
    corpus = docs.unionByName(near)
    pairs = ngram_jaccard_pairs(corpus, threshold=0.5)
    comps = connected_components_star(pairs)
    # Membership decides BEFORE the quality features evaluate: joining
    # comps into the corpus first and scoring the joined rows runs the
    # (tokenize-heavy) logreg features over component members only —
    # the inner join discarded every other corpus row's score anyway
    # (guide §1.2 per-task work; same rows, same values).
    return (
        comps.join(corpus, "doc_id")
        .select("component_id", "doc_id",
                logreg_quality(F.col("text")).alias("q"))
        .groupBy("component_id")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.max_by("doc_id", F.struct(
                F.col("q"), (-F.col("doc_id")).alias("neg")))
            .cast("bigint").alias("survivor_id"),
            F.round(F.max("q"), 6).alias("best_quality"))
    )


@query(
    "ss_ivf_incremental_upsert",
    survey=("SS-ivf", "Y3", "S15"),
    oracle=f"""
        WITH cent AS (
            SELECT CAST(vec_id AS INT) AS cid, embedding AS cvec,
                   sqrt({_DOT_SQL.format(a='embedding', b='embedding')})
                     AS cnorm
            FROM embeddings WHERE vec_id < 16
        ),
        assign AS (
            SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY
                             {_DOT_SQL.format(a='e.embedding', b='c.cvec')}
                             / (sqrt({_DOT_SQL.format(a='e.embedding',
                                                      b='e.embedding')})
                                * c.cnorm) DESC, c.cid
                       ) AS rnk
                FROM embeddings e CROSS JOIN cent c
            ) WHERE rnk = 1
        )
        SELECT cid AS centroid_id,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(vec_id) AS BIGINT) AS id_sum
        FROM assign GROUP BY cid
    """,
)
def ss_ivf_incremental_upsert(spark, sf_dir):
    """Incremental ANN index maintenance (extensions/similarity.py
    upsert_ivf_index): build the seeded IVF index over the EVEN half
    of the embedding corpus, then absorb the odd half as an
    incremental batch — plus a redelivery of every 10th even vector,
    which the idempotence anti-join must discard (the Y3 at-least-once
    contract, applied to the index instead of the catalog). Only the
    touched centroid partitions gain files; nothing is rewritten.

    The returned per-centroid inventory (count + id checksum) is
    exactly the full corpus assigned once each — byte-identical to the
    oracle's from-scratch assignment, proving the incremental path
    converges to the batch rebuild."""

    from bdc_collection_builder_spark.extensions.similarity import (
        build_ivf_index_seeded,
        upsert_ivf_index,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    path = scratch_dir("bdc_ivf_upsert_")
    # base = even half plus the 16 seed vectors (the quantizer must see
    # its own seeds; odd seeds redelivered in the batch then no-op)
    build_ivf_index_seeded(
        emb.filter((F.col("vec_id") % 2 == 0) | (F.col("vec_id") < 16)),
        path)
    batch = emb.filter(F.col("vec_id") % 2 == 1).unionByName(
        emb.filter(F.col("vec_id") % 10 == 0))  # redelivered, must no-op
    upsert_ivf_index(spark, path, batch)
    return (
        spark.read.parquet(f"{path}/vectors")
        .groupBy(F.col("centroid_id").cast("int").alias("centroid_id"))
        .agg(F.count("*").cast("bigint").alias("n_vectors"),
             F.sum("vec_id").cast("bigint").alias("id_sum"))
    )


@query(
    "cu_filter_funnel",
    survey=("CU-mix", "TX-quality", "DD-exact", "A1"),
    oracle=f"""
        WITH canon AS (
            SELECT md5(text) AS h, min(doc_id) AS keeper
            FROM documents GROUP BY md5(text)
        ),
        feats AS (
            SELECT d.doc_id,
                   CASE WHEN CAST(len(list_filter({_TOKS},
                            x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                            / len({_TOKS}) >= 0.08
                        THEN 'en' ELSE 'unknown' END AS lang_pred,
                   len(d.text) AS n_chars,
                   (CASE WHEN len(d.text) BETWEEN 20 AND 20000
                         THEN 0.4 ELSE 0.0 END)
                   + (CASE WHEN CAST(len(list_filter({_TOKS},
                           x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                           / len({_TOKS}) >= 0.05 THEN 0.3 ELSE 0.0 END)
                   + (CASE WHEN CAST(len(regexp_replace(d.text,
                           '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                           / len(d.text) <= 0.2 THEN 0.2 ELSE 0.0 END)
                   + (CASE WHEN CAST(list_sum(list_transform({_TOKS},
                           x -> len(x))) AS DOUBLE) / len({_TOKS})
                           BETWEEN 2 AND 12 THEN 0.1 ELSE 0.0 END)
                     AS quality,
                   d.doc_id <> c.keeper AS is_dup
            FROM documents d JOIN canon c ON md5(d.text) = c.h
        ),
        attributed AS (
            SELECT CASE WHEN lang_pred <> 'en' THEN 'lang'
                        WHEN n_chars NOT BETWEEN 20 AND 20000 THEN 'length'
                        WHEN quality < 0.6 THEN 'quality'
                        WHEN is_dup THEN 'exact_dup'
                        ELSE 'kept' END AS stage
            FROM feats
        ),
        grouped AS (
            SELECT stage, CAST(count(*) AS BIGINT) AS n_docs
            FROM attributed GROUP BY stage
        )
        SELECT stage, n_docs,
               round(CAST(n_docs AS DOUBLE)
                     / (SELECT sum(n_docs) FROM grouped), 4) AS pct
        FROM grouped
    """,
)
def cu_filter_funnel(spark, sf_dir):
    """Curation-pipeline observability: every release run reports WHERE
    the corpus went — each document attributed to the FIRST filter
    stage that would drop it (language → length → quality → exact-dup
    survivorship), with per-stage counts and corpus share. One scan
    computes every stage predicate, a min-window over md5(text) finds
    exact-dup keepers (min doc_id canonical) on the same pass, one
    bounded-key aggregate groups the attribution — no per-stage
    rescans, so the funnel report costs one corpus pass at any scale. The stage
    predicates are the registered operators' own expressions
    (tx_language_id, tx_quality_score, dd_exact_duplicates), so the
    report stays consistent with what the pipeline actually drops."""
    from bdc_collection_builder_spark.extensions import text as tx

    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    # Round 10 (guide §2.3/§2.4): the old groupBy(md5) + join-back
    # scanned the corpus text twice and shuffled the md5-keyed join
    # probe; the exact-dup keeper is now a min-window over md5(text)
    # computed alongside the (already per-row) stage features, so ONE
    # text scan feeds everything and the only corpus-scale shuffle
    # carries (doc_id, hash, 3 small feature columns) — metadata, not
    # text.
    feats = (
        docs.select(
            "doc_id",
            F.md5("text").alias("h"),
            tx.language_id(F.col("text")).alias("lang_pred"),
            F.length("text").alias("n_chars"),
            tx.quality_score(F.col("text")).alias("quality"),
        )
        .withColumn("keeper",
                    F.min("doc_id").over(Window.partitionBy("h")))
        .select("doc_id", "lang_pred", "n_chars", "quality",
                (F.col("doc_id") != F.col("keeper")).alias("is_dup"))
    )
    stage = (
        F.when(F.col("lang_pred") != "en", "lang")
        .when(~F.col("n_chars").between(20, 20000), "length")
        .when(F.col("quality") < 0.6, "quality")
        .when(F.col("is_dup"), "exact_dup")
        .otherwise("kept")
    )
    # <=5 rows, corpus-scale producer, consumed by the total AND the
    # output — without the persist the whole funnel pipeline ran twice
    # (round 10; the persist rule: |frame| << producing work).
    grouped = tracked_persist(
        feats.select(stage.alias("stage"))
        .groupBy("stage")
        .agg(F.count("*").cast("bigint").alias("n_docs")))
    tot = grouped.agg(F.sum("n_docs").alias("tot"))
    return (
        grouped.crossJoin(F.broadcast(tot))
        .select("stage", "n_docs",
                F.round(F.col("n_docs").cast("double") / F.col("tot"), 4)
                .alias("pct"))
    )


_PCA_SCALE = 1048576  # 2^20 fixed-point quantum for contribution sums
_PCA_DIM = 64

_PCA_ROUND_SQL = """
    s{k} AS (
        SELECT e.vec_id, e.embedding,
               list_sum(list_transform(generate_series(1, 64),
                   i -> CAST(e.embedding[i] AS DOUBLE) * {vexpr})) AS s
        FROM embeddings e{vfrom}
    ),
    c{k} AS (
        SELECT dd.d,
               CAST(floor(s{k}.s * CAST(s{k}.embedding[dd.d] AS DOUBLE)
                          * 1048576.0) AS BIGINT) AS c
        FROM s{k}, (SELECT unnest(generate_series(1, 64)) AS d) dd
    ),
    q{k} AS (SELECT d, CAST(sum(c) AS BIGINT) AS q FROM c{k} GROUP BY d),
    y{k} AS (
        SELECT list(CAST(q AS DOUBLE) / 1048576.0 ORDER BY d) AS y
        FROM q{k}
    ),
    n{k} AS (
        SELECT y, sqrt(list_sum(list_transform(y, v -> v * v))) AS nrm
        FROM y{k}
    ),
    v{k} AS (SELECT list_transform(y, v -> v / nrm) AS v FROM n{k})
"""


def _pca_power_rounds(spark, emb):
    """Two fixed-point power-iteration rounds over ``emb``; returns a
    one-row DF (v: unit direction, y: unnormalized image, nrm: |y|).
    See ss_pca_power_iteration for the determinism contract."""
    from bdc_collection_builder_spark.extensions.similarity import dot

    def pca_round(v_row):
        scored = (
            emb.crossJoin(F.broadcast(v_row))
            .select("vec_id", "embedding",
                    dot(F.col("embedding"), F.col("v")).alias("s"))
        )
        contrib = scored.select(
            F.posexplode("embedding").alias("d0", "x"),
            (F.floor(F.col("s") * F.col("x").cast("double")
                     * F.lit(float(_PCA_SCALE)))).cast("bigint").alias("c"))
        q = (contrib.groupBy((F.col("d0") + 1).alias("d"))
             .agg(F.sum("c").cast("bigint").alias("q")))
        yrow = q.agg(F.array_sort(F.collect_list(
            F.struct("d", (F.col("q").cast("double")
                           / F.lit(float(_PCA_SCALE))).alias("y"))))
            .alias("dy"))
        yrow = yrow.select(
            F.expr("transform(dy, s -> s.y)").alias("y"))
        nrow = yrow.select(
            "y",
            F.sqrt(F.expr(
                "aggregate(transform(y, v -> v * v), "
                "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")).alias("nrm"))
        return nrow.select(
            F.expr("transform(y, v -> v / nrm)").alias("v"), "y", "nrm")

    v0 = spark.range(1).select(
        F.expr(f"transform(sequence(1, {_PCA_DIM}), "
               "i -> CAST(0.125 AS DOUBLE))").alias("v"))
    r1 = pca_round(v0).select("v")
    return pca_round(r1)



@query(
    "ss_pca_power_iteration",
    survey=("SS-pca",),
    oracle="WITH "
    + _PCA_ROUND_SQL.format(k=1, vexpr="CAST(0.125 AS DOUBLE)", vfrom="")
    + ","
    + _PCA_ROUND_SQL.format(k=2, vexpr="v1.v[i]", vfrom=", v1")
    + """
    SELECT dd.d - 1 AS dim,
           n2.y[dd.d] / n2.nrm AS component,
           n2.nrm AS eigenvalue
    FROM (SELECT unnest(generate_series(1, 64)) AS d) dd, n2
""",
)
def ss_pca_power_iteration(spark, sf_dir):
    """Top principal direction of the embedding corpus by two power-
    iteration rounds (y ← Σ_r x_r·(x_rᵀv), normalize) — the embedding
    whitening/anisotropy primitive (dominant-direction removal is the
    standard post-processing for sentence embeddings, and the top
    eigenvalue is the anisotropy diagnostic).

    The load-bearing trick is DETERMINISTIC DISTRIBUTED SUMMATION:
    a corpus-wide float sum's value depends on partition merge order,
    so instead each row's per-dimension contribution s·x_d is
    quantized to fixed-point (floor(·2^20) as BIGINT) and summed as
    integers — associative, commutative, byte-identical on any
    cluster, any partitioning, and any engine (the reproducible-
    reduction pattern production numerics use). Everything else
    (row-local dots, the 64-term norm, the final division) has a
    pinned evaluation order. No libm beyond IEEE-exact sqrt/division.

    Scale shape per round: one narrow pass over the corpus (dot +
    explode), ONE 64-group integer aggregate, and a one-row broadcast
    carrying v to the next round. State between rounds is 64 doubles.
    """
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    r2 = _pca_power_rounds(spark, emb)
    return (
        r2.select(
            F.posexplode(F.expr("transform(y, v -> v / nrm)"))
            .alias("dim", "component"),
            F.col("nrm").alias("eigenvalue"))
        .select("dim", "component", "eigenvalue")
    )


@query(
    "ss_whiten_remove_pc",
    survey=("SS-pca",),
    oracle="WITH "
    + _PCA_ROUND_SQL.format(k=1, vexpr="CAST(0.125 AS DOUBLE)", vfrom="")
    + ","
    + _PCA_ROUND_SQL.format(k=2, vexpr="v1.v[i]", vfrom=", v1")
    + """
    , proj AS (
        SELECT e.vec_id, e.embedding,
               list_sum(list_transform(generate_series(1, 64),
                   i -> CAST(e.embedding[i] AS DOUBLE) * v2.v[i])) AS s
        FROM embeddings e, v2
    )
    SELECT p.vec_id,
           round(p.s, 6) AS pc_coeff,
           round(sqrt(list_sum(list_transform(generate_series(1, 64),
                 i -> (CAST(p.embedding[i] AS DOUBLE) - p.s * v2.v[i])
                    * (CAST(p.embedding[i] AS DOUBLE) - p.s * v2.v[i])))),
                 6) AS residual_norm
    FROM proj p, v2
""",
)
def ss_whiten_remove_pc(spark, sf_dir):
    """Dominant-direction removal ("all-but-the-top", Mu & Viswanath
    2018, public) — the USE of ss_pca_power_iteration's eigenvector:
    sentence-embedding spaces are anisotropic (one direction carries
    corpus-wide drift, inflating every cosine), and subtracting each
    vector's projection onto it measurably improves similarity search
    and semantic dedup. Emits per vector its coefficient along the
    top direction and the residual norm — the whitened magnitude the
    downstream ANN/dedup operators would index.

    Same determinism contract as the PCA query (fixed-point direction
    estimate, pinned-order per-row arithmetic); the direction rides as
    a one-row broadcast and the projection/residual pass is a single
    narrow map over the corpus."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v2 = _pca_power_rounds(spark, emb).select("v")
    proj = (
        emb.crossJoin(F.broadcast(v2))
        .select("vec_id", "embedding", "v",
                F.expr(
                    "aggregate(zip_with(embedding, v, (x, vv) -> "
                    "CAST(x AS DOUBLE) * vv), CAST(0.0 AS DOUBLE), "
                    "(acc, z) -> acc + z)").alias("s"))
    )
    resid = F.expr(
        "sqrt(aggregate(zip_with(embedding, v, (x, vv) -> "
        "(CAST(x AS DOUBLE) - s * vv) * (CAST(x AS DOUBLE) - s * vv)), "
        "CAST(0.0 AS DOUBLE), (acc, z) -> acc + z))")
    return proj.select(
        "vec_id",
        F.round("s", 6).alias("pc_coeff"),
        F.round(resid, 6).alias("residual_norm"))


@query(
    "mm_perceptual_hash_pairs",
    survey=("MM-dedup", "DD-simhash"),
    oracle=f"""
        WITH px AS ({{pixels}}),
        cells AS (
            SELECT scene_id,
                   CAST(y // 2 AS BIGINT) AS cy, CAST(x // 2 AS BIGINT) AS cx,
                   CAST(sum(CASE WHEN B04 = -9999.0 THEN 0
                            ELSE CAST(B04 AS BIGINT) END) AS BIGINT) AS cs
            FROM px GROUP BY 1, 2, 3
        ),
        tot AS (
            SELECT scene_id, CAST(sum(cs) AS BIGINT) AS ts FROM cells
            GROUP BY scene_id
        ),
        ah AS (
            SELECT c.scene_id,
                   CAST(sum(CASE WHEN c.cs * 64 > t.ts
                            AND c.cy * 8 + c.cx < 32
                        THEN CAST(1 AS BIGINT) << CAST(c.cy * 8 + c.cx
                                                       AS INTEGER)
                        ELSE 0 END) AS BIGINT) AS alo,
                   CAST(sum(CASE WHEN c.cs * 64 > t.ts
                            AND c.cy * 8 + c.cx >= 32
                        THEN CAST(1 AS BIGINT) << CAST(c.cy * 8 + c.cx
                                                       - 32 AS INTEGER)
                        ELSE 0 END) AS BIGINT) AS ahi
            FROM cells c JOIN tot t USING (scene_id)
            GROUP BY c.scene_id
        ),
        dh AS (
            SELECT a.scene_id,
                   CAST(sum(CASE WHEN a.cs > b.cs
                            AND a.cy * 7 + a.cx < 32
                        THEN CAST(1 AS BIGINT) << CAST(a.cy * 7 + a.cx
                                                       AS INTEGER)
                        ELSE 0 END) AS BIGINT) AS dlo,
                   CAST(sum(CASE WHEN a.cs > b.cs
                            AND a.cy * 7 + a.cx >= 32
                        THEN CAST(1 AS BIGINT) << CAST(a.cy * 7 + a.cx
                                                       - 32 AS INTEGER)
                        ELSE 0 END) AS BIGINT) AS dhi
            FROM cells a JOIN cells b
              ON b.scene_id = a.scene_id AND b.cy = a.cy
             AND b.cx = a.cx + 1
            GROUP BY a.scene_id
        ),
        h AS (
            SELECT ah.scene_id, ah.alo, ah.ahi, dh.dlo, dh.dhi
            FROM ah JOIN dh USING (scene_id)
        )
        SELECT a.scene_id AS scene_a, b.scene_id AS scene_b,
               CAST(bit_count(xor(a.alo, b.alo))
                    + bit_count(xor(a.ahi, b.ahi)) AS BIGINT)
                   AS ahash_hamming,
               CAST(bit_count(xor(a.dlo, b.dlo))
                    + bit_count(xor(a.dhi, b.dhi)) AS BIGINT)
                   AS dhash_hamming
        FROM h a JOIN h b ON a.scene_id < b.scene_id
    """.format(pixels=__import__(
        "bdc_collection_builder_spark.functions.pixel",
        fromlist=["synthetic_pixels_oracle"],
    ).synthetic_pixels_oracle(n_scenes=4, height=16, width=16)),
)
def mm_perceptual_hash_pairs(spark, sf_dir):
    """Perceptual image hashing for near-duplicate media detection —
    the pHash-family primitive (aHash: 8x8 cell means thresholded at
    the global mean; dHash: horizontal gradient signs), computed over
    the synthetic raster grid and compared pairwise by Hamming
    distance. This is how image dedup scales: a 64-bit fingerprint
    per image (computed in one pass next to decode), then banded/
    threshold joins on the fingerprints — never pixel-to-pixel
    comparison across images.

    All-integer construction (cell sums, the mean threshold as the
    cross-multiplied compare cs*64 > total, shifted bit packing split
    into two 32-bit words — DuckDB overflow-checks 1<<63 on signed
    BIGINT — and hamming = bit_count(xor) summed over the words), so
    both engines agree bit-for-bit with no float anywhere. Plan: one cell aggregate (map-side combined), two
    dimension-sized joins, and a tiny pair join on the 4-row hash
    table."""
    from bdc_collection_builder_spark.functions.pixel import (
        NODATA_SENTINEL,
        synthetic_pixels,
    )

    px = synthetic_pixels(spark, n_scenes=4, height=16, width=16)
    cells = (
        px.groupBy(
            "scene_id",
            F.floor(F.col("y") / 2).cast("bigint").alias("cy"),
            F.floor(F.col("x") / 2).cast("bigint").alias("cx"))
        .agg(F.sum(
            F.when(F.col("B04") == F.lit(NODATA_SENTINEL), 0)
            .otherwise(F.col("B04").cast("bigint")))
            .cast("bigint").alias("cs"))
    )
    # cells feeds the total reduction, the aHash join, and both sides
    # of the dHash gradient self-join — persist so the pixel aggregate
    # runs once (the dd_prefix round-9 lesson)
    cells = tracked_persist(cells)
    tot = cells.groupBy("scene_id").agg(
        F.sum("cs").cast("bigint").alias("ts"))
    ah = (
        cells.join(F.broadcast(tot), "scene_id")
        .groupBy("scene_id")
        .agg(
            F.sum(F.when(
                (F.col("cs") * 64 > F.col("ts"))
                & (F.col("cy") * 8 + F.col("cx") < 32),
                F.expr("shiftleft(CAST(1 AS BIGINT), "
                       "CAST(cy * 8 + cx AS INT))"))
                .otherwise(0)).cast("bigint").alias("alo"),
            F.sum(F.when(
                (F.col("cs") * 64 > F.col("ts"))
                & (F.col("cy") * 8 + F.col("cx") >= 32),
                F.expr("shiftleft(CAST(1 AS BIGINT), "
                       "CAST(cy * 8 + cx - 32 AS INT))"))
                .otherwise(0)).cast("bigint").alias("ahi"))
    )
    right = cells.select(
        "scene_id", F.col("cy").alias("rcy"),
        (F.col("cx") - 1).alias("rcx"), F.col("cs").alias("rcs"))
    dh = (
        cells.join(
            right,
            (cells["scene_id"] == right["scene_id"])
            & (F.col("cy") == F.col("rcy")) & (F.col("cx") == F.col("rcx")))
        .drop(right["scene_id"])
        .groupBy("scene_id")
        .agg(
            F.sum(F.when(
                (F.col("cs") > F.col("rcs"))
                & (F.col("cy") * 7 + F.col("cx") < 32),
                F.expr("shiftleft(CAST(1 AS BIGINT), "
                       "CAST(cy * 7 + cx AS INT))"))
                .otherwise(0)).cast("bigint").alias("dlo"),
            F.sum(F.when(
                (F.col("cs") > F.col("rcs"))
                & (F.col("cy") * 7 + F.col("cx") >= 32),
                F.expr("shiftleft(CAST(1 AS BIGINT), "
                       "CAST(cy * 7 + cx - 32 AS INT))"))
                .otherwise(0)).cast("bigint").alias("dhi"))
    )
    h = ah.join(dh, "scene_id")
    a = h.select(F.col("scene_id").alias("scene_a"),
                 F.col("alo").alias("alo_a"), F.col("ahi").alias("ahi_a"),
                 F.col("dlo").alias("dlo_a"), F.col("dhi").alias("dhi_a"))
    b = h.select(F.col("scene_id").alias("scene_b"),
                 F.col("alo").alias("alo_b"), F.col("ahi").alias("ahi_b"),
                 F.col("dlo").alias("dlo_b"), F.col("dhi").alias("dhi_b"))
    return (
        a.join(b, F.col("scene_a") < F.col("scene_b"))
        .select(
            "scene_a", "scene_b",
            (F.bit_count(F.col("alo_a").bitwiseXOR(F.col("alo_b")))
             + F.bit_count(F.col("ahi_a").bitwiseXOR(F.col("ahi_b"))))
            .cast("bigint").alias("ahash_hamming"),
            (F.bit_count(F.col("dlo_a").bitwiseXOR(F.col("dlo_b")))
             + F.bit_count(F.col("dhi_a").bitwiseXOR(F.col("dhi_b"))))
            .cast("bigint").alias("dhash_hamming"))
    )


_SEM_THRESHOLDS = [0.90, 0.95, 0.97, 0.99]


@query(
    "cu_semdedup_threshold_curve",
    survey=("DD-embed", "CU-mix"),
    oracle=f"""
        WITH {_SEM_CORPUS_SQL},
        cents AS (
            SELECT vec_id AS cid, embedding AS cvec FROM corpus
            WHERE vec_id < 16
        ), scored AS (
            SELECT v.vec_id, v.embedding, c.cid,
                   {_DOT_SQL.format(a="v.embedding", b="c.cvec")}
                   / (sqrt({_DOT_SQL.format(a="v.embedding", b="v.embedding")})
                      * sqrt({_DOT_SQL.format(a="c.cvec", b="c.cvec")})) AS sim
            FROM corpus v CROSS JOIN cents c
        ), assigned AS (
            SELECT vec_id, embedding, cid AS centroid_id FROM (
                SELECT vec_id, embedding, cid,
                       row_number() OVER (
                           PARTITION BY vec_id ORDER BY sim DESC, cid
                       ) AS rn
                FROM scored
            ) WHERE rn = 1
        ), best AS (
            SELECT b.vec_id,
                   max(round({_DOT_SQL.format(a="a.embedding", b="b.embedding")}
                       / (sqrt({_DOT_SQL.format(a="a.embedding", b="a.embedding")})
                          * sqrt({_DOT_SQL.format(a="b.embedding", b="b.embedding")})),
                       6)) AS max_sim
            FROM assigned a JOIN assigned b
              ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
            GROUP BY b.vec_id
        )
        SELECT t.threshold,
               CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(sum(CASE WHEN best.max_sim >= t.threshold
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
        FROM best, (SELECT unnest([{", ".join(
            f"CAST({v} AS DOUBLE)" for v in _SEM_THRESHOLDS)}])
            AS threshold) t
        GROUP BY t.threshold
    """,
)
def cu_semdedup_threshold_curve(spark, sf_dir):
    """SemDeDup threshold-sensitivity curve — the tuning report behind
    dd_semantic_dedup's single 0.97 cut: how many documents would be
    dropped at each candidate threshold, from ONE within-cluster pair
    scan (the per-document max cosine to a lower-id cluster peer is
    computed once; the sweep is then a literal-threshold explode over
    that bounded frame, NOT one dedup run per threshold). This is the
    knob-vs-corpus-size curve a curation owner reads before committing
    a threshold at 100 TB, where re-running the scan per candidate
    value would be the single most expensive mistake in the pipeline.
    """
    from bdc_collection_builder_spark.extensions.dedup import (
        semantic_dup_max_sim,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scaled = (
        emb.filter(F.col("vec_id") % 25 == 0)
        .select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.transform("embedding",
                        lambda x: (x * 1.01).cast("float")).alias("embedding"),
        )
    )
    best = (
        semantic_dup_max_sim(emb.unionByName(scaled), n_centroids=16)
        .filter(F.col("max_sim").isNotNull())
    )
    swept = best.select(
        "max_sim",
        F.explode(F.array(*[F.lit(v) for v in _SEM_THRESHOLDS]))
        .alias("threshold"))
    return swept.groupBy("threshold").agg(
        F.count("*").cast("bigint").alias("n_candidates"),
        F.sum(F.when(F.col("max_sim") >= F.col("threshold"), 1)
              .otherwise(0)).cast("bigint").alias("n_dups"))


@query(
    "tx_flesch_readability",
    survey=("TX-quality",),
    oracle=f"""
        WITH scored AS (
            SELECT source,
                   206.835
                   - 1.015 * (CAST(greatest(1, len({_TOKS})) AS DOUBLE)
                              / greatest(1, len(regexp_extract_all(
                                    text, '[.!?]+'))))
                   - 84.6 * (CAST(len(regexp_extract_all(
                                      lower(text), '[aeiouy]+'))
                                  + len(list_filter({_TOKS},
                                      x -> NOT regexp_matches(
                                          x, '[aeiouy]'))) AS DOUBLE)
                             / greatest(1, len({_TOKS}))) AS score
            FROM documents
        )
        SELECT source,
               CAST(floor(score / 10) AS INT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(min(score), 4) + 0.0 AS min_score,
               round(max(score), 4) + 0.0 AS max_score
        FROM scored GROUP BY source, CAST(floor(score / 10) AS INT)
    """,
)
def tx_flesch_readability(spark, sf_dir):
    """Flesch reading-ease distribution per source: per-doc score
    (sentence length × syllable density, the classic readability
    quality signal that complements tx_quality_score's ratio features)
    bucketed by decade, with exact min/max per bucket.

    Scale: the score is a pure per-row regexp expression tree in
    whole-stage codegen (zero Python, zero joins), then ONE partial
    aggregate on (source, bucket) — a map-side-combined histogram whose
    shuffle carries #buckets rows. Cross-engine byte-stability: the
    score is a fixed arithmetic tree over three per-row integers
    (identical bits on both engines), min/max never accumulate, and
    signed zero is normalized with `+ 0.0` after round (x17b rule)."""
    from bdc_collection_builder_spark.extensions import text as tx

    docs = t(spark, sf_dir, "documents")
    score = tx.flesch_reading_ease(F.col("text"))
    scored = docs.select(
        "source", score.alias("score"),
        F.floor(score / 10).cast("int").alias("bucket"))
    return scored.groupBy("source", "bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.round(F.min("score"), 4) + F.lit(0.0)).alias("min_score"),
        (F.round(F.max("score"), 4) + F.lit(0.0)).alias("max_score"))


_MMR_K, _MMR_SHORTLIST, _MMR_NQ = 5, 12, 4

# Pairwise cosine of two pre-normalized double arrays, rounded to 6 dp
# — the Spark-SQL spelling whose fold order matches DuckDB's
# list_sum(list_transform(...)) (the ss_* precedent).
_MMR_SIM = ("round(aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            "CAST(0.0 AS DOUBLE), (acc2, v) -> acc2 + v), 6)")

# MMR score of candidate c against the selected set st.snembs.
_MMR_SCORE = (
    "(0.5 * c.rel - 0.5 * coalesce(array_max(transform(st.snembs, "
    "e -> " + _MMR_SIM.format(a="e", b="c.nemb") + ")), "
    "CAST(0.0 AS DOUBLE)))"
)

# Greedy argmax over the not-yet-selected shortlist: fold keeping the
# best (score, -vec_id) candidate. Ties go to the lower vec_id — the
# oracle's ORDER BY score DESC, vec_id LIMIT 1.
_MMR_BEST = f"""
    aggregate(
        filter(cands, c -> NOT array_contains(st.selids, c.vec_id)),
        named_struct('vec_id', CAST(NULL AS BIGINT),
                     'rel', CAST(0.0 AS DOUBLE),
                     'nemb', CAST(array() AS ARRAY<DOUBLE>),
                     'score', CAST(-1e18 AS DOUBLE)),
        (acc, c) -> CASE
            WHEN {_MMR_SCORE} > acc.score
              OR ({_MMR_SCORE} = acc.score
                  AND (acc.vec_id IS NULL OR c.vec_id < acc.vec_id))
            THEN named_struct('vec_id', c.vec_id, 'rel', c.rel,
                              'nemb', c.nemb, 'score', {_MMR_SCORE})
            ELSE acc END)
"""

_MMR_FOLD = f"""
    aggregate(
        sequence(1, {_MMR_K}),
        named_struct(
            'picks', CAST(array() AS ARRAY<STRUCT<
                sel_rank: INT, vec_id: BIGINT, rel: DOUBLE,
                score: DOUBLE>>),
            'selids', CAST(array() AS ARRAY<BIGINT>),
            'snembs', CAST(array() AS ARRAY<ARRAY<DOUBLE>>)),
        (st, r) -> named_struct(
            'picks', array_append(st.picks, named_struct(
                'sel_rank', CAST(r AS INT),
                'vec_id', ({_MMR_BEST}).vec_id,
                'rel', ({_MMR_BEST}).rel,
                'score', ({_MMR_BEST}).score)),
            'selids', array_append(st.selids, ({_MMR_BEST}).vec_id),
            'snembs', array_append(st.snembs, ({_MMR_BEST}).nemb))
    ).picks
"""


@query(
    "ss_mmr_diversified_topk",
    survey=("SS-mmr",),
    oracle=f"""
        WITH RECURSIVE nv AS (
            SELECT vec_id, list_transform(embedding, x ->
                CAST(x AS DOUBLE)
                / sqrt({_DOT_SQL.format(a='embedding', b='embedding')})
            ) AS nemb
            FROM embeddings
        ),
        q AS (SELECT vec_id AS query_id, nemb AS qn FROM nv
              WHERE vec_id < {_MMR_NQ}),
        scored AS (
            SELECT q.query_id, n.vec_id,
                   round(list_sum(list_transform(generate_series(1, 64),
                         i -> n.nemb[i] * q.qn[i])), 6) AS rel,
                   n.nemb
            FROM nv n CROSS JOIN q WHERE n.vec_id <> q.query_id
        ),
        shortlist AS (
            SELECT query_id, vec_id, rel, nemb FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rnk
                FROM scored) WHERE rnk <= {_MMR_SHORTLIST}
        ),
        mmr(query_id, sel_rank, vec_id, rel, score, selids, snembs) AS (
            SELECT query_id, CAST(0 AS INT), CAST(NULL AS BIGINT),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                   CAST([] AS BIGINT[]), CAST([] AS DOUBLE[][])
            FROM (SELECT DISTINCT query_id FROM shortlist)
            UNION ALL
            SELECT m.query_id, m.sel_rank + 1, pick.vec_id, pick.rel,
                   pick.score,
                   list_append(m.selids, pick.vec_id),
                   list_append(m.snembs, pick.nemb)
            FROM mmr m, LATERAL (
                SELECT s.vec_id, s.rel, s.nemb,
                       0.5 * s.rel - 0.5 * coalesce(list_max(
                           list_transform(m.snembs, e ->
                               round(list_sum(list_transform(
                                   list_zip(e, s.nemb),
                                   p -> p[1] * p[2])), 6))), 0.0) AS score
                FROM shortlist s
                WHERE s.query_id = m.query_id
                  AND NOT list_contains(m.selids, s.vec_id)
                ORDER BY score DESC, s.vec_id
                LIMIT 1
            ) pick
            WHERE m.sel_rank < {_MMR_K}
        )
        SELECT query_id, sel_rank, vec_id, rel,
               round(score, 6) + 0.0 AS mmr_score
        FROM mmr WHERE sel_rank > 0
    """,
)
def ss_mmr_diversified_topk(spark, sf_dir):
    """Maximal-Marginal-Relevance diversified retrieval — the
    re-ranking stage between ANN shortlist and prompt context in a
    RAG pipeline: greedily pick k={_MMR_K} of a top-{_MMR_SHORTLIST}
    cosine shortlist maximizing λ·sim(q,d) − (1−λ)·max_sim(d,
    selected) with λ=0.5, so near-duplicate hits can't crowd the
    context window (Carbonell & Goldstein 1998).

    Scale shape: relevance scoring is the standard broadcast-queries ×
    corpus scan (no corpus shuffle); the O(k·shortlist) greedy
    selection then runs per query INSIDE one codegen'd nested
    higher-order fold over the collected shortlist array — the
    quadratic part touches {_MMR_SHORTLIST} rows per query, never the
    corpus. The oracle replays the identical greedy loop as a
    recursive CTE with a LATERAL argmax. Determinism: pre-normalized
    vectors, every pairwise sim rounded to 6 dp on both engines, ties
    broken by vec_id."""
    from bdc_collection_builder_spark.extensions.similarity import dot
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    nrm = F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    nv = emb.select(
        "vec_id",
        F.transform("embedding",
                    lambda x: x.cast("double") / nrm).alias("nemb"))
    q = nv.filter(F.col("vec_id") < _MMR_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("nemb").alias("qn"))
    scored = (
        nv.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "nemb",
                F.expr(_MMR_SIM.format(a="nemb", b="qn")).alias("rel"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("vec_id"))
    shortlist = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _MMR_SHORTLIST)
    )
    grouped = shortlist.groupBy("query_id").agg(
        F.array_sort(F.collect_list(
            F.struct("rnk", "vec_id", "rel", "nemb"))).alias("cands"))
    picks = grouped.select(
        "query_id", F.explode(F.expr(_MMR_FOLD)).alias("p"))
    return picks.select(
        "query_id", F.col("p.sel_rank").alias("sel_rank"),
        F.col("p.vec_id").alias("vec_id"), F.col("p.rel").alias("rel"),
        (F.round(F.col("p.score"), 6) + F.lit(0.0)).alias("mmr_score"))


@query(
    "cu_pareto_frontier",
    survey=("CU-pareto",),
    oracle=f"""
        WITH m AS (
            SELECT doc_id, source,
                   CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                   n_chars
            FROM documents
        )
        SELECT r.source, r.doc_id, r.n_tokens, r.n_chars
        FROM m r
        WHERE NOT EXISTS (
            SELECT 1 FROM m s
            WHERE s.source = r.source
              AND s.n_tokens >= r.n_tokens AND s.n_chars <= r.n_chars
              AND (s.n_tokens > r.n_tokens OR s.n_chars < r.n_chars)
        )
    """,
)
def cu_pareto_frontier(spark, sf_dir):
    """Pareto-frontier (skyline) curation per source: the documents
    for which no other document in the same source has BOTH more
    tokens AND fewer characters — the "densest useful docs" frontier
    a multi-signal curation pass keeps when it refuses to collapse
    its quality signals into one weighted score.

    Scale shape: the skyline is computed WITHOUT any pairwise join —
    (1) one aggregate to the per-(source, n_tokens) minimum length,
    (2) one tiny window over those distinct-token rows per source
    (running strict-prefix min, frame ends at -1), (3) one semi-join
    back to tag survivors: a document survives iff it achieves its
    token-count's min length AND beats the min length of every
    strictly higher token count. That is O(n) + a window over
    #distinct token counts — vs the oracle's O(n²) NOT-EXISTS
    dominance scan, which independently witnesses the same set.
    Ordering ties: equal (n_tokens, n_chars) rows never dominate each
    other — both survive — and the window formulation preserves that
    exactly."""
    from pyspark.sql import Window

    from bdc_collection_builder_spark.extensions import text as tx

    docs = t(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id", "source",
        tx.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        "n_chars")
    per_q = m.groupBy("source", "n_tokens").agg(
        F.min("n_chars").alias("min_chars"))
    w = (Window.partitionBy("source").orderBy(F.col("n_tokens").desc())
         .rowsBetween(Window.unboundedPreceding, -1))
    frontier_q = per_q.select(
        "source", "n_tokens", "min_chars",
        F.min("min_chars").over(w).alias("strict_min"))
    keep = frontier_q.filter(
        F.col("strict_min").isNull()
        | (F.col("min_chars") < F.col("strict_min"))
    ).select("source", "n_tokens", F.col("min_chars").alias("n_chars"))
    return m.join(keep, ["source", "n_tokens", "n_chars"], "left_semi") \
            .select("source", "doc_id", "n_tokens", "n_chars")


@query(
    "mm_audio_rms_frames",
    survey=("MM-audio",),
    oracle="""
        WITH audio AS (
            SELECT i AS media_id, sha256('media-' || i) AS hex,
                   CAST(4 + i % 7 AS INT) AS reps
            FROM range(0, 64) t(i) WHERE i % 3 = 1
        ),
        frames AS (
            SELECT media_id, hex,
                   unnest(generate_series(0, reps // 4 - 1)) AS frame_idx
            FROM audio
        ),
        samples AS (
            SELECT media_id, hex, frame_idx,
                   unnest(generate_series(0, 63)) AS k
            FROM frames
        ),
        vals AS (
            SELECT media_id, frame_idx,
                   ((strpos('0123456789abcdef', substr(hex,
                        2*((2*(frame_idx*64+k)) % 32)+1, 1))-1)*16
                    + strpos('0123456789abcdef', substr(hex,
                        2*((2*(frame_idx*64+k)) % 32)+2, 1))-1)
                   + 256 * ((strpos('0123456789abcdef', substr(hex,
                        2*((2*(frame_idx*64+k)+1) % 32)+1, 1))-1)*16
                    + strpos('0123456789abcdef', substr(hex,
                        2*((2*(frame_idx*64+k)+1) % 32)+2, 1))-1) AS raw
            FROM samples
        ),
        pcm AS (
            SELECT media_id, frame_idx,
                   CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
            FROM vals
        )
        SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
               round(sqrt(CAST(sum(v*v) AS BIGINT) / 64.0), 6) + 0.0 AS rms
        FROM pcm GROUP BY media_id, frame_idx
    """,
)
def mm_audio_rms_frames(spark, sf_dir):
    """Audio-modality feature extraction: the opaque audio payloads of
    the media table decoded as int16-LE PCM and reduced to per-frame
    (64-sample) RMS energy — silence-trim / loudness-filter input.
    The decode runs in ONE Arrow-batched mapInPandas (np.frombuffer is
    zero-copy over the Arrow buffer; payload bytes never shuffle, only
    the tiny (media_id, frame_idx, rms) rows do) — the production
    plumbing the brief's multimodal section calls for, with the codec
    itself a deterministic stub like mm_decode_features'.

    The payload is the seeded repeated-sha256 fixture, so the oracle
    re-derives every 16-bit sample arithmetically from the digest hex
    and replays sum-of-squares → sqrt: squares sum in exact int64,
    /64 is an exact power-of-two double step, sqrt is IEEE-rounded —
    byte-identical across engines. Final rounding Spark-side (F.round,
    never Python round — half-even vs half-up)."""
    from bdc_collection_builder_spark.extensions.multimodal import (
        audio_rms_frames,
        synthetic_media,
    )

    media = synthetic_media(spark, n=64).filter(F.col("kind") == "audio")
    out = audio_rms_frames(media, frame_len=64)
    return out.select(
        "media_id", "frame_idx",
        (F.round(F.col("rms"), 6) + F.lit(0.0)).alias("rms"))


@query(
    "tx_langid_confusion_eval",
    survey=("TX-langid", "DQ-profile"),
    oracle=f"""
        WITH pred AS (
            SELECT lang,
                   CASE WHEN CAST(len(list_filter({_TOKS},
                            x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                            / len({_TOKS}) >= 0.08
                        THEN 'en' ELSE 'unknown' END AS lang_pred
            FROM documents
        )
        SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
        FROM pred GROUP BY lang, lang_pred
    """,
)
def tx_langid_confusion_eval(spark, sf_dir):
    """Classifier evaluation as a first-class pipeline op: confusion
    matrix of the heuristic language-ID (tx_language_id) against the
    table's ground-truth ``lang`` label — the accept/reject evidence a
    curation pipeline needs BEFORE trusting a filter to delete data at
    100 TB. One scan, one (truth, pred) count aggregate; the per-row
    prediction expression is the exact tx_language_id tree, so this
    query also regression-pins that operator against label drift."""
    from bdc_collection_builder_spark.extensions import text as tx

    docs = t(spark, sf_dir, "documents")
    return (
        docs.select("lang",
                    tx.language_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


@query(
    "dd_planted_pair_eval",
    survey=("DD-minhash", "DD-eval"),
    oracle=f"""
        WITH pred AS ({_minhash_md5_oracle()}),
        truth AS (
            SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b
            FROM documents WHERE doc_id % 20 = 0
        ),
        joined AS (
            SELECT coalesce(p.doc_a, t.doc_a) AS doc_a,
                   CASE WHEN p.doc_a IS NOT NULL
                         AND t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_tp,
                   CASE WHEN t.doc_a IS NULL THEN 1 ELSE 0 END AS is_fp,
                   CASE WHEN p.doc_a IS NULL THEN 1 ELSE 0 END AS is_fn
            FROM pred p FULL OUTER JOIN truth t
              ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b
        )
        SELECT CAST(sum(is_tp) AS BIGINT) AS tp,
               CAST(sum(is_fp) AS BIGINT) AS fp,
               CAST(sum(is_fn) AS BIGINT) AS fn,
               CAST(sum(is_tp) AS DOUBLE)
                 / (CAST(sum(is_tp) AS BIGINT) + CAST(sum(is_fp) AS BIGINT))
                 AS precision,
               CAST(sum(is_tp) AS DOUBLE)
                 / (CAST(sum(is_tp) AS BIGINT) + CAST(sum(is_fn) AS BIGINT))
                 AS recall,
               2 * CAST(sum(is_tp) AS DOUBLE)
                 / (2 * CAST(sum(is_tp) AS BIGINT)
                    + CAST(sum(is_fp) AS BIGINT)
                    + CAST(sum(is_fn) AS BIGINT)) AS f1
        FROM joined
    """,
)
def dd_planted_pair_eval(spark, sf_dir):
    """Dedup-quality evaluation against PLANTED ground truth: the
    engine-neutral MinHash+LSH pipeline (same construction as
    dd_minhash_lsh_md5 — every 5th doc as corpus, every 20th doc
    re-injected with a 3-token suffix under id+1,000,000) is scored
    against the known planted pair set {(d, d+1e6)}. One full-outer
    join of predicted vs planted pairs yields TP/FP/FN in a single
    aggregate; precision/recall/F1 are IEEE divisions of exact int64
    counts. Any organic (non-planted) near-dup pair would count as FP
    by construction — at these corpora none exists at Jaccard >= 0.5,
    making the planted set a complete truth set.

    This is the eval harness every production dedup deployment needs
    (threshold tuning runs this per candidate threshold — see
    cu_semdedup_threshold_curve for the sweep form); the reference has
    no counterpart (its dedup is exact-name only, publish.py).

    100 TB: the expensive side is the LSH pipeline itself (banded
    equi-join, never all-pairs); the eval join touches only the
    emitted pair set, orders of magnitude smaller than the corpus."""
    from bdc_collection_builder_spark.extensions.dedup import (
        minhash_lsh_pairs,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") % 5 == 0)
    near = (
        t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" xy zz wq")).alias("text"))
    )
    pred = minhash_lsh_pairs(docs.unionByName(near), threshold=0.5,
                             engine_neutral=True).select("doc_a", "doc_b")
    truth = (
        t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
        .select(F.col("doc_id").alias("t_a"),
                (F.col("doc_id") + 1000000).alias("t_b"))
    )
    joined = pred.join(
        truth, (pred["doc_a"] == truth["t_a"])
        & (pred["doc_b"] == truth["t_b"]), "full_outer")
    tp = F.sum(F.when(F.col("doc_a").isNotNull()
                      & F.col("t_a").isNotNull(), 1).otherwise(0))
    fp = F.sum(F.when(F.col("t_a").isNull(), 1).otherwise(0))
    fn = F.sum(F.when(F.col("doc_a").isNull(), 1).otherwise(0))
    return joined.agg(
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        (tp.cast("double") / (tp.cast("bigint") + fp.cast("bigint"))
         ).alias("precision"),
        (tp.cast("double") / (tp.cast("bigint") + fn.cast("bigint"))
         ).alias("recall"),
        (2 * tp.cast("double")
         / (2 * tp.cast("bigint") + fp.cast("bigint") + fn.cast("bigint"))
         ).alias("f1"))


@query(
    "mm_shot_boundaries",
    survey=("MM-frames", "W1"),
    oracle="""
        WITH media AS (
            SELECT i AS media_id, CAST(1000 * (i % 30) AS INT) AS duration_ms
            FROM range(0, 64) t(i) WHERE i % 3 = 2
        ),
        frames AS (
            SELECT media_id, frame_ts_ms,
                   CAST((media_id * 7 + (frame_ts_ms // 1000) * 13) % 256
                        AS BIGINT) AS luma
            FROM media,
                 unnest(generate_series(0, greatest(duration_ms - 1, 0),
                                        1000)) AS u(frame_ts_ms)
        ),
        flagged AS (
            SELECT media_id, frame_ts_ms, luma,
                   CASE WHEN abs(luma - lag(luma) OVER w) > 96
                        THEN 1 ELSE 0 END AS is_cut
            FROM frames
            WINDOW w AS (PARTITION BY media_id ORDER BY frame_ts_ms)
        ),
        shots AS (
            SELECT media_id, frame_ts_ms,
                   CAST(sum(is_cut) OVER (
                       PARTITION BY media_id ORDER BY frame_ts_ms
                   ) AS BIGINT) AS shot_id
            FROM flagged
        )
        SELECT media_id, shot_id,
               CAST(min(frame_ts_ms) AS BIGINT) AS start_ms,
               CAST(max(frame_ts_ms) AS BIGINT) AS end_ms,
               CAST(count(*) AS BIGINT) AS n_frames
        FROM shots GROUP BY media_id, shot_id
    """,
)
def mm_shot_boundaries(spark, sf_dir):
    """Shot-boundary detection over sampled video frames: a cut is
    declared where the per-frame feature (here the deterministic
    stand-in luma the stubbed decoder emits — real deployments swap
    in the decode_image_features Pandas-UDF output) jumps by more
    than the threshold between consecutive frames; frames then fold
    into shots by the gaps-and-islands cumulative-sum trick
    (shot_id = running count of cuts), reported as one segment row
    per shot with start/end/frame-count. Two window passes (lag,
    running sum — same partition key, ONE shuffle) plus a grouped
    aggregate; everything is exact integer arithmetic.

    This is the video-curation primitive a multimodal training
    pipeline runs before clip sampling (dedup/caption units are
    shots, not raw frames); the reference has no video path — this is
    part of the §2.11 beyond-inventory surface, like mm_frame_sample
    it builds on.

    100 TB: frames explode map-side from media rows (no shuffle);
    both windows and the final aggregate share the media_id
    partitioning, so the whole plan is ONE exchange keyed by media;
    per-key state is a single running int."""
    from pyspark.sql import Window

    from bdc_collection_builder_spark.extensions.multimodal import (
        frame_sample_plan,
        synthetic_media,
    )

    frames = frame_sample_plan(synthetic_media(spark, n=64)).select(
        "media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"))
    luma = ((F.col("media_id") * 7
             + (F.col("frame_ts_ms") / 1000).cast("long") * 13) % 256
            ).cast("bigint")
    w = Window.partitionBy("media_id").orderBy("frame_ts_ms")
    flagged = frames.withColumn("luma", luma).withColumn(
        "is_cut",
        F.when(F.abs(F.col("luma") - F.lag("luma").over(w)) > 96,
               F.lit(1)).otherwise(F.lit(0)))
    shots = flagged.withColumn(
        "shot_id", F.sum("is_cut").over(
            Window.partitionBy("media_id").orderBy("frame_ts_ms")
            .rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"))
    return shots.groupBy("media_id", "shot_id").agg(
        F.min("frame_ts_ms").cast("bigint").alias("start_ms"),
        F.max("frame_ts_ms").cast("bigint").alias("end_ms"),
        F.count("*").cast("bigint").alias("n_frames"))


_PROBE_SWEEP = (1, 2, 4, 8)


def _ivf_probe_recall_oracle() -> str:
    """Per-nprobe mean recall@5 oracle: the ss_ivf_recall_eval CTE
    chain instantiated once per probe setting, UNION ALL'd."""
    arms = []
    for np_ in _PROBE_SWEEP:
        arms.append(f"""
        SELECT {np_} AS nprobe,
               CAST(count(i.vec_id) AS BIGINT) AS n_matched,
               CAST(count(i.vec_id) AS DOUBLE) / 40 AS mean_recall_at_5
        FROM exact x
        LEFT JOIN (
            SELECT query_id, vec_id FROM (
                SELECT p.query_id, p.vec_id,
                       row_number() OVER (
                           PARTITION BY p.query_id
                           ORDER BY
                             {_DOT_SQL.format(a='q.embedding',
                                              b='c.embedding')}
                             / (sqrt({_DOT_SQL.format(a='q.embedding',
                                                      b='q.embedding')})
                                * sqrt({_DOT_SQL.format(a='c.embedding',
                                                        b='c.embedding')}))
                             DESC, p.vec_id
                       ) AS rank
                FROM (
                    SELECT DISTINCT q.query_id, c.vec_id
                    FROM corpus_assign c
                    JOIN (
                        SELECT query_id, centroid_id FROM qrank
                        WHERE rnk <= {np_}
                    ) q USING (centroid_id)
                    WHERE c.vec_id <> q.query_id
                ) p
                JOIN embeddings c ON c.vec_id = p.vec_id
                JOIN embeddings q ON q.vec_id = p.query_id
            ) WHERE rank <= 5
        ) i ON i.query_id = x.query_id AND i.vec_id = x.vec_id
        """)
    union = "UNION ALL".join(arms)
    return f"""
        WITH cent AS (
            SELECT vec_id AS cid, embedding AS cent
            FROM embeddings WHERE vec_id < 16
        ),
        corpus_assign AS (
            SELECT vec_id, centroid_id FROM (
                SELECT e.vec_id, c.cid AS centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_IVF_ASSIGN_COS} DESC, c.cid
                       ) AS rnk
                FROM embeddings e CROSS JOIN cent c
            ) WHERE rnk <= 1
        ),
        qrank AS (
            SELECT e.vec_id AS query_id, c.cid AS centroid_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_IVF_ASSIGN_COS} DESC, c.cid
                   ) AS rnk
            FROM embeddings e CROSS JOIN cent c
            WHERE e.vec_id < 8
        ),
        exact AS (
            SELECT query_id, vec_id FROM (
                SELECT e2.vec_id AS query_id, e.vec_id,
                       row_number() OVER (
                           PARTITION BY e2.vec_id
                           ORDER BY
                             {_DOT_SQL.format(a='e2.embedding',
                                              b='e.embedding')}
                             / (sqrt({_DOT_SQL.format(a='e2.embedding',
                                                      b='e2.embedding')})
                                * sqrt({_DOT_SQL.format(a='e.embedding',
                                                        b='e.embedding')}))
                             DESC, e.vec_id
                       ) AS rank
                FROM embeddings e CROSS JOIN embeddings e2
                WHERE e2.vec_id < 8 AND e.vec_id <> e2.vec_id
            ) WHERE rank <= 5
        )
        {union}
    """


@query(
    "ss_ivf_probe_recall_curve",
    survey=("SS-ivf", "DQ-drift"),
    oracle=_ivf_probe_recall_oracle(),
)
def ss_ivf_probe_recall_curve(spark, sf_dir):
    """The IVF quality/cost DIAL, measured: mean recall@5 over the
    8-query eval batch at nprobe in {1, 2, 4, 8} — the curve an ANN
    operator reads to pick its probe budget (recall rises toward
    brute-force as probes approach n_centroids; candidate cost rises
    linearly). Each arm reuses the production ivf_topk_seeded plan
    unchanged at a different nprobe; exact ground truth is computed
    ONCE (persisted) and every arm joins against it.

    Determinism: recall is matched-count / 40 (8 queries x k=5), one
    IEEE division of an exact int64; per-query ranking ties break on
    vec_id on both engines.

    100 TB: the sweep multiplies only the probe-join work (bounded by
    nprobe x corpus/n_centroids per query); the corpus assignment and
    the ground-truth pass are shared across arms. Monotonicity of
    recall in nprobe is asserted by an invariant test, NOT assumed."""
    from bdc_collection_builder_spark.extensions.similarity import (
        brute_force_topk,
        ivf_seeded_assignment,
        ivf_topk_seeded,
    )
    from bdc_collection_builder_spark.functions.persist import (
        tracked_persist,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = tracked_persist(
        brute_force_topk(emb, queries, k=5).select("query_id", "vec_id"))
    # The corpus-to-centroid argmax scan is identical across the four
    # arms — compute it once and persist (round-10, guide §2.4/§5:
    # the sweep multiplies only the probe-join work; previously each
    # arm re-ran the full corpus assignment, 4x the scan + 16-dot
    # argmax per vector).
    carr, c = ivf_seeded_assignment(emb)
    assignment = (carr, tracked_persist(c))
    arms = []
    for np_ in _PROBE_SWEEP:
        approx = ivf_topk_seeded(emb, queries, k=5, nprobe=np_,
                                 assignment=assignment).select(
            F.col("query_id").alias("qi"), F.col("vec_id").alias("vi"))
        arms.append(
            exact.join(approx, (F.col("query_id") == F.col("qi"))
                       & (F.col("vec_id") == F.col("vi")), "left")
            .agg(F.count("vi").cast("bigint").alias("n_matched"))
            .select(F.lit(np_).cast("bigint").alias("nprobe"), "n_matched",
                    (F.col("n_matched").cast("double") / 40)
                    .alias("mean_recall_at_5"))
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


@query(
    "tx_ngram_novelty",
    survey=("TX-stats", "DD-exact", "CU-mix"),
    oracle=f"""
        WITH sh3 AS (
            SELECT DISTINCT doc_id,
                   array_to_string(toks[i + 1 : i + 3], ' ') AS sh
            FROM (SELECT doc_id, {_TOKS} AS toks FROM documents),
                 UNNEST(generate_series(0, len(toks) - 3)) AS u(i)
            WHERE len(toks) >= 3
        ),
        first_owner AS (
            SELECT sh, min(doc_id) AS first_doc FROM sh3 GROUP BY sh
        )
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN f.first_doc = s.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               CAST(sum(CASE WHEN f.first_doc = s.doc_id
                             THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) AS novelty
        FROM sh3 s JOIN first_owner f USING (sh)
        GROUP BY s.doc_id
    """,
)
def tx_ngram_novelty(spark, sf_dir):
    """Per-document n-gram NOVELTY under corpus order: the fraction
    of a document's distinct 3-gram shingles whose first corpus
    occurrence (minimum doc_id) is the document itself — the
    redundancy-growth curve data engines use to decide when a source
    is mined out (novelty decaying toward 0 across a crawl = stop
    ingesting; complements dd_* near-dup pairs, which catch pairwise
    redundancy but not gradual n-gram exhaustion).

    Plan: one distinct-shingle explode (map-side), one shuffle on the
    shingle that computes the min-owner as a WINDOW over the same
    partitioning (round 10, guide §2.4: the old groupBy(sh) +
    join-back replayed the whole tokenize+explode subtree for the
    probe side — two corpus passes for one statistic), then the
    per-doc aggregate; novelty is one IEEE division of exact int64
    counts.

    100 TB: never all-pairs; the window min is one pass over each
    shingle partition — the same key the old SMJ join would have
    shuffled on anyway, minus the second corpus scan and the join.
    Order sensitivity is BY DESIGN (doc_id = arrival order), making
    the metric reproducible."""
    from pyspark.sql import Window

    from bdc_collection_builder_spark.extensions.dedup import shingles

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    sh3 = shingles(docs, k=3)
    owned = sh3.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy("shingle"))
        .alias("first_doc"))
    return (
        owned
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_shingles"),
             F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                   .otherwise(0)).cast("bigint").alias("n_novel"))
        .select("doc_id", "n_shingles", "n_novel",
                (F.col("n_novel").cast("double") / F.col("n_shingles"))
                .alias("novelty"))
    )


@query(
    "tx_rake_word_scores",
    survey=("TX-stats", "TK-vocab"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, ts[i] AS tok, i AS pos
            FROM (SELECT doc_id, {_TOKS} AS ts FROM documents),
                 unnest(generate_series(1, len(ts))) AS g(i)
        ),
        marked AS (
            SELECT doc_id, tok, pos,
                   CASE WHEN tok IN (SELECT unnest({_STOP_SQL}))
                        THEN 1 ELSE 0 END AS is_stop
            FROM toks
        ),
        phrased AS (
            SELECT doc_id, tok, is_stop,
                   CAST(sum(is_stop) OVER (
                       PARTITION BY doc_id ORDER BY pos
                   ) AS BIGINT) AS phrase_id
            FROM marked
        ),
        phrases AS (
            SELECT doc_id, phrase_id, tok,
                   CAST(count(*) OVER (PARTITION BY doc_id, phrase_id)
                        AS BIGINT) AS phrase_len
            FROM phrased WHERE is_stop = 0
        ),
        scores AS (
            SELECT tok,
                   CAST(count(*) AS BIGINT) AS freq,
                   CAST(sum(phrase_len) AS BIGINT) AS degree
            FROM phrases GROUP BY tok
        )
        SELECT tok, freq, degree,
               CAST(degree AS DOUBLE) / CAST(freq AS DOUBLE) AS rake_score
        FROM scores
        ORDER BY rake_score DESC, freq DESC, tok
        LIMIT 100
    """,
)
def tx_rake_word_scores(spark, sf_dir):
    """RAKE keyword scoring (Rose et al. 2010, public): candidate
    phrases are the maximal stopword-free token runs; each word's
    score is degree/frequency, where degree sums the lengths of the
    phrases it appears in — words that ride in long multi-word
    phrases outrank equally-frequent words that appear alone. Top 100
    by (score, freq, word) with full deterministic tie-break.

    Plan: one explode + ONE window pass per doc (the running stopword
    count IS the phrase id — the same gaps-and-islands trick as shot
    detection), then a word-level aggregate. freq and degree are
    exact int64; the score is their single IEEE division, so the
    ranking is byte-stable cross-engine. The oracle recomputes
    phrases from scratch with UNNEST WITH ORDINALITY.

    100 TB: the window shuffles once on doc_id; the phrase table
    never materializes phrase strings (only lengths ride along); the
    word aggregate combines map-side. The reference has no keyword
    surface; this extends the TX family (quality/fingerprints) the
    curation pipeline scores documents with."""
    from pyspark.sql import Window

    from bdc_collection_builder_spark.extensions.text import tokens

    stop = [s.strip("'") for s in
            _STOP_SQL.strip("[]").replace("'", "").split(",")]
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.posexplode(tokens(F.col("text"))).alias("pos", "tok"))
    marked = toks.withColumn(
        "is_stop", F.when(F.col("tok").isin(stop), 1).otherwise(0))
    w = Window.partitionBy("doc_id").orderBy("pos")
    phrased = marked.withColumn(
        "phrase_id", F.sum("is_stop").over(w).cast("bigint"))
    wp = Window.partitionBy("doc_id", "phrase_id")
    phrases = (
        phrased.filter(F.col("is_stop") == 0)
        .withColumn("phrase_len", F.count("*").over(wp).cast("bigint"))
    )
    return (
        phrases.groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("freq"),
             F.sum("phrase_len").cast("bigint").alias("degree"))
        .select("tok", "freq", "degree",
                (F.col("degree").cast("double")
                 / F.col("freq").cast("double")).alias("rake_score"))
        .orderBy(F.desc("rake_score"), F.desc("freq"), "tok")
        .limit(100)
    )


_BUDGET_TOKENS = 20000


@query(
    "cu_source_budget_selection",
    survey=("CU-mix", "TX-quality", "W3"),
    oracle=f"""
        WITH feats AS (
            SELECT doc_id, source,
                   CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                   CAST(round(((CASE WHEN len(text) BETWEEN 20 AND 20000
                                     THEN 0.4 ELSE 0.0 END)
                     + (CASE WHEN CAST(len(list_filter({_TOKS},
                            x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                            / len({_TOKS}) >= 0.05 THEN 0.3 ELSE 0.0 END)
                     + (CASE WHEN CAST(len(regexp_replace(text,
                            '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                            / len(text) <= 0.2 THEN 0.2 ELSE 0.0 END)
                     + (CASE WHEN CAST(list_sum(list_transform({_TOKS},
                            x -> len(x))) AS DOUBLE) / len({_TOKS})
                            BETWEEN 2 AND 12 THEN 0.1 ELSE 0.0 END))
                     * 10) AS BIGINT) AS q10
            FROM documents
        ),
        ranked AS (
            SELECT *, CAST(sum(n_tokens) OVER (
                       PARTITION BY source
                       ORDER BY q10 DESC, doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
            FROM feats
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(min(q10) AS BIGINT) AS min_quality_tenths,
               CAST(sum(q10) AS BIGINT) AS sum_quality_tenths
        FROM ranked
        WHERE cum_tokens <= {_BUDGET_TOKENS}
        GROUP BY source
    """,
)
def cu_source_budget_selection(spark, sf_dir):
    """Per-source token-budget curation: within each source, take the
    highest-quality documents (Gopher-rule score, tx_quality_score's
    exact rubric) until the source's {_BUDGET_TOKENS}-token budget is
    exhausted — the greedy quality-first fill every data-mixture
    recipe starts from. Selection order is total (quality desc,
    doc_id), so the cumulative-token cut is deterministic; quality is
    carried as integer TENTHS (the rubric emits exact tenth-valued
    scores, so round(q*10) is lossless) and every reported aggregate
    is int64 — no float accumulates anywhere.

    Scale note: the running-sum window partitions by SOURCE, never
    globally — a global budget would need a single-partition sort,
    which this plan deliberately avoids (per-partition budgets are
    also what a real mixture does; a global budget then composes as
    one driver-side pass over the per-source summary).

    100 TB: one shuffle keyed by source for the window; the closing
    aggregate reuses that partitioning."""
    from pyspark.sql import Window

    from bdc_collection_builder_spark.extensions import text as tx
    from bdc_collection_builder_spark.extensions.text import tokens

    docs = t(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id", "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        F.round(tx.quality_score(F.col("text")) * 10).cast("bigint")
        .alias("q10"))
    w = (Window.partitionBy("source")
         .orderBy(F.desc("q10"), F.asc("doc_id"))
         .rowsBetween(Window.unboundedPreceding, 0))
    ranked = feats.withColumn(
        "cum_tokens", F.sum("n_tokens").over(w).cast("bigint"))
    return (
        ranked.filter(F.col("cum_tokens") <= _BUDGET_TOKENS)
        .groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_docs"),
             F.sum("n_tokens").cast("bigint").alias("n_tokens"),
             F.min("q10").cast("bigint").alias("min_quality_tenths"),
             F.sum("q10").cast("bigint").alias("sum_quality_tenths"))
    )


_KM_K = 8
_KM_SCALE = 1048576  # 2^20 fixed-point quantum, as in the PCA rounds


def _km_cent_sql(k: int, prev: str) -> str:
    """One Lloyd round in DuckDB: assign to the argmax-dot centroid of
    ``{prev}`` (ties to the smallest cid), then rebuild each centroid
    from fixed-point per-dimension sums, normalized; empty clusters
    carry the previous centroid forward."""
    return f"""
    asg{k} AS (
        SELECT vec_id, embedding, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_sum(list_transform(
                           generate_series(1, 64),
                           i -> CAST(e.embedding[i] AS DOUBLE) * c.c[i]))
                           DESC, c.cid
                   ) AS rnk
            FROM embeddings e CROSS JOIN {prev} c
        ) WHERE rnk = 1
    ),
    q{k} AS (
        SELECT cid, dd.d,
               CAST(sum(CAST(floor(CAST(embedding[dd.d] AS DOUBLE)
                                   * {_KM_SCALE}.0) AS BIGINT))
                    AS BIGINT) AS q
        FROM asg{k}, (SELECT unnest(generate_series(1, 64)) AS d) dd
        GROUP BY cid, dd.d
    ),
    y{k} AS (
        SELECT cid, list(CAST(q AS DOUBLE) / {_KM_SCALE}.0 ORDER BY d) AS y
        FROM q{k} GROUP BY cid
    ),
    cent{k} AS (
        SELECT p.cid,
               CASE WHEN y.cid IS NULL THEN p.c
                    ELSE list_transform(y.y, v -> v /
                        sqrt(list_sum(list_transform(y.y, w -> w * w))))
               END AS c
        FROM {prev} p LEFT JOIN y{k} y ON y.cid = p.cid
    )"""


@query(
    "ss_kmeans_train_rounds",
    survey=("SS-ivf", "Z3"),
    oracle=f"""
        WITH cent0 AS (
            SELECT vec_id AS cid,
                   list_transform(embedding, x -> CAST(x AS DOUBLE) /
                       sqrt(list_sum(list_transform(embedding,
                           w -> CAST(w AS DOUBLE) * CAST(w AS DOUBLE)))))
                       AS c
            FROM embeddings WHERE vec_id < {_KM_K}
        ),{_km_cent_sql(1, "cent0")},{_km_cent_sql(2, "cent1")}
        SELECT a.cid,
               CAST(count(*) AS BIGINT) AS n_assigned,
               CAST((SELECT sum(q) FROM q2 WHERE q2.cid = a.cid)
                    AS BIGINT) AS q_checksum
        FROM asg2 a GROUP BY a.cid
    """,
)
def ss_kmeans_train_rounds(spark, sf_dir):
    """Distributed Lloyd's k-means TRAINING, two full rounds, with
    bit-deterministic centroid updates — the piece ss_kmeans_assign
    (one assignment under driver-sampled centroids) deliberately left
    out, and the standard objection to distributed k-means: the
    centroid update is a corpus-wide float mean whose value depends on
    partition merge order. Here the update reuses the PCA rounds'
    REPRODUCIBLE-REDUCTION pattern: each member's per-dimension
    contribution quantizes to 2^20 fixed point and sums as int64
    (associative + commutative = identical on any partitioning or
    engine); spherical normalization (pinned-order norm) replaces the
    mean's division so empty-vs-small clusters need no count
    arithmetic, and a cluster that loses all members carries its
    previous centroid forward (the standard Lloyd fallback). Seeds =
    the first k corpus vectors, normalized — fully relational, so the
    DuckDB oracle replays training end to end.

    Emits per final cluster its member count and the int64 fixed-point
    checksum of its update sums — a value-exact training transcript,
    not a rows-only smoke check.

    100 TB per round: one broadcast of k*64 doubles, one narrow
    argmax pass over the corpus, ONE (k x 64)-group integer aggregate.
    No driver-side collect of members; rounds chain through one-row
    broadcasts exactly like functions/iterate's graph loops."""
    from bdc_collection_builder_spark.extensions.similarity import (
        _cached_expr,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    norm_sql = ("transform(embedding, x -> CAST(x AS DOUBLE) / "
                "sqrt(aggregate(transform(embedding, "
                "w -> CAST(w AS DOUBLE) * CAST(w AS DOUBLE)), "
                "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)))")
    cent = (
        emb.filter(F.col("vec_id") < _KM_K)
        .select(F.col("vec_id").alias("cid"),
                _cached_expr(norm_sql).alias("c"))
    )

    def lloyd_round(cent_df):
        from pyspark.sql import Window

        scored = emb.join(F.broadcast(cent_df)).select(
            "vec_id", "embedding", "cid",
            _cached_expr(
                "aggregate(zip_with(embedding, c, (x, y) -> "
                "CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), "
                "(acc, v) -> acc + v)").alias("s"))
        w = Window.partitionBy("vec_id").orderBy(F.desc("s"), F.asc("cid"))
        asg = (scored.withColumn("rnk", F.row_number().over(w))
               .filter(F.col("rnk") == 1).select("vec_id", "embedding",
                                                 "cid"))
        q = (
            asg.select("cid", F.posexplode("embedding").alias("d0", "x"))
            .groupBy("cid", (F.col("d0") + 1).alias("d"))
            .agg(F.sum(F.floor(F.col("x").cast("double")
                               * F.lit(float(_KM_SCALE))).cast("bigint"))
                 .cast("bigint").alias("q"))
        )
        y = (q.groupBy("cid")
             .agg(F.array_sort(F.collect_list(F.struct(
                 "d", (F.col("q").cast("double")
                       / F.lit(float(_KM_SCALE))).alias("v")))).alias("dy"))
             .select("cid", F.expr("transform(dy, s -> s.v)").alias("y")))
        new_cent = (
            cent_df.join(y, "cid", "left")
            .select("cid",
                    F.when(F.col("y").isNull(), F.col("c"))
                     .otherwise(_cached_expr(
                         "transform(y, v -> v / sqrt(aggregate("
                         "transform(y, w -> w * w), CAST(0.0 AS DOUBLE), "
                         "(acc, u) -> acc + u)))")).alias("c"))
        )
        return asg, q, new_cent

    from bdc_collection_builder_spark.functions.persist import (
        tracked_persist,
    )

    _asg1, _q1, cent1 = lloyd_round(cent)
    cent1 = tracked_persist(cent1)
    asg2, q2, _cent2 = lloyd_round(cent1)
    checks = q2.groupBy("cid").agg(
        F.sum("q").cast("bigint").alias("q_checksum"))
    return (
        asg2.groupBy("cid")
        .agg(F.count("*").cast("bigint").alias("n_assigned"))
        .join(checks, "cid")
        .select("cid", "n_assigned", "q_checksum")
    )


# 1/log2(i+1) for ranks 1..10 and their left-fold sum, as LITERAL
# doubles generated in Python — both engines consume identical bit
# patterns, no engine libm call ever runs
_NDCG_DISC_SQL = "[CAST(1.0 AS DOUBLE), CAST(0.6309297535714575 AS DOUBLE), CAST(0.5 AS DOUBLE), CAST(0.43067655807339306 AS DOUBLE), CAST(0.38685280723454163 AS DOUBLE), CAST(0.3562071871080222 AS DOUBLE), CAST(0.3333333333333333 AS DOUBLE), CAST(0.31546487678572877 AS DOUBLE), CAST(0.3010299956639812 AS DOUBLE), CAST(0.2890648263178879 AS DOUBLE)]"
_NDCG_DISC_SPARK = "array(CAST(1.0 AS DOUBLE), CAST(0.6309297535714575 AS DOUBLE), CAST(0.5 AS DOUBLE), CAST(0.43067655807339306 AS DOUBLE), CAST(0.38685280723454163 AS DOUBLE), CAST(0.3562071871080222 AS DOUBLE), CAST(0.3333333333333333 AS DOUBLE), CAST(0.31546487678572877 AS DOUBLE), CAST(0.3010299956639812 AS DOUBLE), CAST(0.2890648263178879 AS DOUBLE))"
_NDCG_IDCG = 4.543559338088346


@query(
    "ss_ndcg_eval",
    survey=("SS-ivf", "DQ-drift"),
    oracle=f"""
        WITH cent AS (
            SELECT vec_id AS cid, embedding AS cent
            FROM embeddings WHERE vec_id < 16
        ),
        corpus_assign AS (
            SELECT vec_id, centroid_id FROM (
                SELECT e.vec_id, c.cid AS centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_IVF_ASSIGN_COS} DESC, c.cid
                       ) AS rnk
                FROM embeddings e CROSS JOIN cent c
            ) WHERE rnk <= 1
        ),
        query_assign AS (
            SELECT query_id, centroid_id FROM (
                SELECT e.vec_id AS query_id, c.cid AS centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_IVF_ASSIGN_COS} DESC, c.cid
                       ) AS rnk
                FROM embeddings e CROSS JOIN cent c
                WHERE e.vec_id < 8
            ) WHERE rnk <= 4
        ),
        pred AS (
            SELECT query_id, vec_id, rank FROM (
                SELECT p.query_id, p.vec_id,
                       row_number() OVER (
                           PARTITION BY p.query_id
                           ORDER BY
                             {_DOT_SQL.format(a='q.embedding',
                                              b='c.embedding')}
                             / (sqrt({_DOT_SQL.format(a='q.embedding',
                                                      b='q.embedding')})
                                * sqrt({_DOT_SQL.format(a='c.embedding',
                                                        b='c.embedding')}))
                             DESC, p.vec_id
                       ) AS rank
                FROM (
                    SELECT DISTINCT q.query_id, c.vec_id
                    FROM corpus_assign c JOIN query_assign q
                      USING (centroid_id)
                    WHERE c.vec_id <> q.query_id
                ) p
                JOIN embeddings c ON c.vec_id = p.vec_id
                JOIN embeddings q ON q.vec_id = p.query_id
            ) WHERE rank <= 10
        ),
        truth AS (
            SELECT query_id, vec_id FROM (
                SELECT e2.vec_id AS query_id, e.vec_id,
                       row_number() OVER (
                           PARTITION BY e2.vec_id
                           ORDER BY
                             {_DOT_SQL.format(a='e2.embedding',
                                              b='e.embedding')}
                             / (sqrt({_DOT_SQL.format(a='e2.embedding',
                                                      b='e2.embedding')})
                                * sqrt({_DOT_SQL.format(a='e.embedding',
                                                        b='e.embedding')}))
                             DESC, e.vec_id
                       ) AS rank
                FROM embeddings e CROSS JOIN embeddings e2
                WHERE e2.vec_id < 8 AND e.vec_id <> e2.vec_id
            ) WHERE rank <= 10
        ),
        hits AS (
            SELECT p.query_id, p.rank
            FROM pred p JOIN truth t
              ON t.query_id = p.query_id AND t.vec_id = p.vec_id
        ),
        per_q AS (
            SELECT query_id,
                   CAST(count(*) AS BIGINT) AS n_hits,
                   list_sum(list_transform(
                       list_sort(list(rank)),
                       r -> ({_NDCG_DISC_SQL})[r])) AS dcg
            FROM hits GROUP BY query_id
        )
        SELECT q.query_id,
               coalesce(p.n_hits, 0) AS n_hits,
               coalesce(p.dcg, CAST(0 AS DOUBLE)) AS dcg,
               coalesce(p.dcg, CAST(0 AS DOUBLE)) / {_NDCG_IDCG!r}
                   AS ndcg_at_10
        FROM (SELECT vec_id AS query_id FROM embeddings
              WHERE vec_id < 8) q
        LEFT JOIN per_q p USING (query_id)
    """,
)
def ss_ndcg_eval(spark, sf_dir):
    """nDCG@10 of the IVF index against brute-force ground truth —
    the GRADED retrieval metric (position-weighted, unlike
    recall@k's set overlap): a hit at predicted rank i earns
    1/log2(i+1), normalized by the ideal DCG. The discount table and
    the ideal DCG are PYTHON-GENERATED LITERAL doubles baked into
    both engines' plans, and each query's DCG folds its hit
    discounts in sorted-rank order — so no engine ever calls log,
    and no float sum depends on row arrival order. Per-query output
    (8 rows), zero-hit queries included at nDCG 0.

    Reuses the production plans end to end: brute_force_topk for
    truth, ivf_topk_seeded (nprobe=4) for the system under test.

    100 TB: the eval cost is the two top-k passes (bounded query
    batch broadcast x corpus); the metric join touches 80 rows."""
    from bdc_collection_builder_spark.extensions.similarity import (
        brute_force_topk,
        ivf_topk_seeded,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    truth = brute_force_topk(emb, queries, k=10).select(
        "query_id", "vec_id")
    pred = ivf_topk_seeded(emb, queries, k=10).select(
        F.col("query_id").alias("qi"), F.col("vec_id").alias("vi"),
        "rank")
    hits = truth.join(
        pred, (F.col("query_id") == F.col("qi"))
        & (F.col("vec_id") == F.col("vi"))).select("query_id", "rank")
    per_q = (
        hits.groupBy("query_id")
        .agg(F.count("*").cast("bigint").alias("n_hits"),
             F.aggregate(
                 F.array_sort(F.collect_list("rank")),
                 F.lit(0.0),
                 lambda acc, r: acc + F.element_at(
                     F.expr(_NDCG_DISC_SPARK), r.cast("int"))).alias("dcg"))
    )
    # Round 10 (guide §1.2): reading qids off `truth` replayed the
    # whole brute-force corpus pass just to list the 8 query ids —
    # but distinct(truth.query_id) == the query-id set whenever the
    # corpus is non-empty (TakeOrdered returns min(k, n) >= 1 rows
    # per query), so read it from the 8-row queries frame instead.
    # (tracked_persist(truth) was measured as a LOSS here — the
    # eager materialization barrier costs more than the replay at
    # every paired sample; the dimension-side read beats both.)
    qids = queries.select("query_id")
    return (
        qids.join(per_q, "query_id", "left")
        .select("query_id",
                F.coalesce("n_hits", F.lit(0).cast("bigint"))
                .alias("n_hits"),
                F.coalesce("dcg", F.lit(0.0)).alias("dcg"),
                (F.coalesce("dcg", F.lit(0.0)) / F.lit(_NDCG_IDCG))
                .alias("ndcg_at_10"))
    )


# -- exact-substring dedup via binary lifting ------------------------------

# Max substring length the operator certifies (ExactSubstr-style
# trimming in "Deduplicating Training Data Makes Language Models
# Better", Lee et al. 2022, uses a 50-token threshold; 64 chars is the
# analogous bound for this corpus). The binary-lifting ladder below is
# derived from this cap and is STATIC: every round's set of candidate
# check-lengths is known at plan-construction time, so the corpus-gram
# probe explodes a literal length array — no collect, no driver loop
# over data.
_ES_CAP = 64
_ES_KS = (64, 32, 16, 8, 4, 2, 1)


def _es_round_lengths() -> list[tuple[int, list[int]]]:
    """Per lifting round k: the sorted set of substring lengths l+k
    any position could be probing (l = subset sums of earlier k's,
    capped). Static — the ladder's shape does not depend on data."""
    ls = {0}
    out = []
    for k in _ES_KS:
        lens = sorted({l + k for l in ls if l + k <= _ES_CAP})
        out.append((k, lens))
        ls |= set(lens)
    return out


@query(
    "dd_exact_substring_maxlen",
    survey=("DD-exact",),
    oracle=f"""
        WITH pos AS (
            SELECT doc_id, text, i, length(text) AS dlen
            FROM documents,
                 unnest(generate_series(1, length(text))) AS g(i)
        ),
        grams AS (
            SELECT doc_id, i, L, substr(text, i, L) AS g
            FROM pos, unnest(generate_series(1, {_ES_CAP})) AS l(L)
            WHERE i + L - 1 <= dlen
        ),
        dups AS (
            SELECT L, g FROM grams GROUP BY L, g HAVING count(*) >= 2
        ),
        perpos AS (
            SELECT gr.doc_id, gr.i, max(gr.L) AS ml
            FROM grams gr JOIN dups USING (L, g)
            GROUP BY gr.doc_id, gr.i
        )
        SELECT p.doc_id,
               CAST(max(coalesce(pp.ml, 0)) AS BIGINT) AS max_dup_len,
               CAST(count(CASE WHEN pp.ml >= 8 THEN 1 END) AS BIGINT)
                 AS dup8_positions
        FROM pos p LEFT JOIN perpos pp
          ON pp.doc_id = p.doc_id AND pp.i = p.i
        GROUP BY p.doc_id
    """,
)
def dd_exact_substring_maxlen(spark, sf_dir):
    """ExactSubstr dedup statistics (Lee et al. 2022): per document,
    the length of the LONGEST substring (up to 64 chars) that occurs
    at least twice anywhere in the corpus, plus the count of positions
    whose 8-gram repeats (the trim-membership measure). EXACT, via the
    suffix-array neighbor-LCP identity (Manber & Myers 1990): sort
    every position's 64-char head once, and each position's answer is
    the max LCP with its two sorted neighbors — one range shuffle +
    one window pass, never an all-pairs comparison and never a
    single-node suffix sort (partition-boundary neighbors are patched
    exactly; see exact_substring_stats_sorted). dup8_positions equals
    count(ml >= 8) with no extra pass because prefix-duplication is
    monotone in length. The binary-lifting engine
    (exact_substring_stats, both physical layouts) remains as an
    independent second implementation, pinned byte-equivalent in
    tests. Independent oracle: DuckDB brute-forces the full 1..64
    length grid. Reference anchor: the same F10 scene-dedup semantics
    pushed to substring granularity (collection_builder scene dedup,
    controller.py)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    # Round 8: the registered engine is the SORTED-NEIGHBOR-LCP path
    # (one range sort + window; see exact_substring_stats_sorted) —
    # the binary-lifting ladder's probe side degenerates to the full
    # 1..64 gram grid on template-heavy corpora (measured 290s at
    # sf0.1, now ~10x cheaper; VERDICT-r7 BENCH_HEAVY order). Both
    # lifting layouts remain implemented and pinned byte-equivalent
    # to this path in tests/test_new_ops_properties.py.
    return exact_substring_stats_sorted(docs)


def exact_substring_stats(docs, carry_text: bool = False):
    """Binary-lifting ExactSubstr statistics over ``docs(doc_id,
    text)`` — the engine behind :func:`dd_exact_substring_maxlen`.

    Two physical layouts, identical results:

    - ``carry_text=True``: position rows carry the doc text, so each
      lifting round is self-contained (no join against docs). Cheapest
      at test scale, but the checkpointed per-position state holds a
      copy of the text — corpus bytes x positions at 100 TB.
    - ``carry_text=False`` (the 100 TB layout, VERDICT-r5 task 4a):
      the lifted state is (doc_id, off, l) ONLY — three ints per
      position. Each round re-attaches text with a doc_id-co-
      partitioned equi-join against the (hash-partitioned, once-
      checkpointed) docs table; text bytes are consumed in-stage by
      substring() and never enter the checkpoint or the gram shuffle
      (which moves only (m, g) pairs).
    """
    from bdc_collection_builder_spark.functions.parallel import spread

    # spread(): the testdata parquet is one row group -> one task, and
    # the checkpoint would freeze that; the path is partition-order-
    # insensitive (everything downstream keys on (doc_id, off) or
    # gram hash).
    docs = (spread(docs.select("doc_id", "text"))
            .withColumn("dlen", F.length("text")))
    if not carry_text:
        # one partitioning of the corpus, reused by every round's
        # co-partitioned join
        docs = docs.repartition("doc_id").localCheckpoint(eager=True)
    pos = (
        docs.select(
            "doc_id", *(["text", "dlen"] if carry_text else ["dlen"]),
            F.explode(F.sequence(F.lit(1), F.col("dlen")))
            .alias("off"))
        .withColumn("l", F.lit(0))
    )
    if carry_text:
        pos = pos.select("doc_id", "off", "text", "dlen", "l")
    else:
        pos = pos.select("doc_id", "off", "l")
    pos = pos.localCheckpoint(eager=True)
    state_cols = pos.columns
    # probe side: (text, dlen, off) triples. carry_text reads them
    # from the initial position checkpoint (free); the co-partitioned
    # layout re-explodes the checkpointed docs table each round so the
    # position state never holds text
    probe_base = (
        pos.select("text", "dlen", "off") if carry_text
        else docs.select(
            "text", "dlen",
            F.explode(F.sequence(F.lit(1), F.col("dlen")))
            .alias("off"))
    )
    ladder = _es_round_lengths()

    def lift(pos: DataFrame, i: int) -> DataFrame:
        k = ladder[i][0]
        # Restrict the static worst-case ladder to lengths some LIVE
        # position will actually probe this round: the probe side only
        # exists to count corpus occurrences of grams the candidate
        # side asks about, and a candidate at certified length l asks
        # exactly for m = l + k. Distinct certified l values number at
        # most cap+1 (0..64) by construction, so this driver read is
        # CAP-bounded, not data-bounded (house regime-probe rule), and
        # dropping never-probed lengths cannot change any answer —
        # their dup rows could never match the left_semi. The static
        # worst-case ladder Σ|lens| = 64 (the full 1..64 grid); on
        # real corpora the achieved-l set is sparse, so this is the
        # difference between probing the whole grid and probing the
        # handful of lengths in play (measured 290s -> see BENCH_HEAVY
        # at sf0.1).
        live_ls = sorted(
            r[0] for r in pos.select("l").distinct().collect())
        needed = sorted({l + k for l in live_ls if l + k <= _ES_CAP})
        if not needed:
            return pos
        # corpus-wide duplicated (length, gram) set for this round's
        # needed lengths; text is consumed by substring() in the
        # same narrow stage, only (m, g) pairs reach the groupBy
        # shuffle
        probe = (
            probe_base.select(
                "text", "dlen", "off",
                F.explode(F.array(*[F.lit(m) for m in needed]))
                .alias("m"))
            .filter(F.col("off") + F.col("m") - 1 <= F.col("dlen"))
            .select("m", F.expr("substring(text, off, m)").alias("g"))
        )
        dups = (
            probe.groupBy("m", "g").count()
            .filter(F.col("count") >= 2)
            .select("m", "g")
        )
        live = pos.filter(F.col("l") + k <= _ES_CAP)
        if carry_text:
            attached = live
        else:
            attached = live.join(docs, "doc_id")  # co-partitioned
        cand = (
            attached
            .filter(F.col("off") + F.col("l") + k - 1 <= F.col("dlen"))
            .select("doc_id", "off",
                    (F.col("l") + k).alias("m"),
                    F.expr(f"substring(text, off, l + {k})").alias("g"))
        )
        lifted = (
            cand.join(dups, ["m", "g"], "left_semi")
            .select("doc_id", "off", F.col("m").alias("l2"))
        )
        return (
            pos.join(lifted, ["doc_id", "off"], "left")
            .withColumn("l", F.coalesce("l2", "l"))
            .select(*state_cols)
        )

    pos = iterate(pos, lift, len(ladder), checkpoint_every=1)
    return (
        pos.groupBy("doc_id")
        .agg(F.max("l").cast("bigint").alias("max_dup_len"),
             F.sum(F.when(F.col("l") >= 8, 1).otherwise(0))
             .cast("bigint").alias("dup8_positions"))
    )


def _lcp_expr(a: str, b: str) -> str:
    """SQL for the longest-common-prefix length of two NON-EMPTY
    strings (0 when ``b`` is NULL): the first mismatching character
    position minus one, or the shorter length when one is a prefix of
    the other. Pure codegen HOF — O(min-length) char compares, no
    Python. The hot path uses the chunked variant below; this form
    stays as the readable reference (and the property tests pin the
    two byte-equivalent)."""
    n = f"least(length({a}), length({b}))"
    return (f"CASE WHEN {b} IS NULL THEN 0 ELSE coalesce("
            f"array_min(filter(sequence(1, {n}), "
            f"i -> substring({a}, i, 1) <> substring({b}, i, 1))) - 1, "
            f"{n}) END")


_LCP_CHUNK = 8   # 8 chunks x 8 chars cover the 64-char head cap


def _lcp_chunks_expr(col: str) -> str:
    """The 8-chunk split of a <=64-char head, for the chunked LCP:
    transform over a LITERAL 0..7 sequence (constant-sized — no
    data-sized expression is inlined into the lambda, the CDC
    lesson). Chunks past the string's end are ''."""
    return (f"transform(sequence(0, {_LCP_CHUNK - 1}), "
            f"j -> substring({col}, j * {_LCP_CHUNK} + 1, {_LCP_CHUNK}))")


def _lcp_kchunks_expr(ca: str, cb: str, b: str) -> str:
    """Count of leading EQUAL 8-char chunks (0..8; NULL when the
    neighbor ``b`` is NULL). One string-equality per chunk — a
    memcmp-like compare with no per-char allocation."""
    return (f"CASE WHEN {b} IS NULL THEN NULL ELSE coalesce("
            f"array_min(filter(sequence(1, {_LCP_CHUNK}), "
            f"i -> element_at({ca}, i) <> element_at({cb}, i))), "
            f"{_LCP_CHUNK + 1}) - 1 END")


def _lcp_from_chunks_expr(a: str, b: str, ca: str, cb: str,
                          k: str) -> str:
    """LCP given materialized chunk arrays and the leading-equal-chunk
    count ``k`` (a COLUMN — never recomputed inside the lambda): all
    chunks equal means the heads are identical (LCP = shorter length);
    otherwise 8k plus a <=8-char charwise scan inside the first
    differing chunk. Byte-equivalent to :func:`_lcp_expr` (pinned in
    tests/test_new_ops_properties.py) at ~1/6 the allocation count:
    the profile-first pass on dd_exact_substring_maxlen (VERDICT-r9
    task 5) showed the per-char HOF was ~6s of the 8.5s wall at
    sf0.1 — not the sort or the checkpoint."""
    sa = f"element_at({ca}, {k} + 1)"
    sb = f"element_at({cb}, {k} + 1)"
    m = f"least(length({sa}), length({sb}))"
    within = (f"CASE WHEN {m} = 0 THEN 0 ELSE coalesce("
              f"array_min(filter(sequence(1, {m}), "
              f"i -> substring({sa}, i, 1) <> substring({sb}, i, 1))) - 1, "
              f"{m}) END")
    return (f"CASE WHEN {b} IS NULL THEN 0 "
            f"WHEN {k} = {_LCP_CHUNK} THEN least(length({a}), length({b})) "
            f"ELSE {_LCP_CHUNK} * {k} + {within} END")


def exact_substring_stats_sorted(docs):
    """ExactSubstr statistics via SORTED-NEIGHBOR LCP — the suffix-
    array identity (Manber & Myers 1990, public): in lexicographic
    order of the corpus' per-position heads (substring(text, off, 64)),
    the longest prefix a head shares with ANY other head equals its
    max LCP with its two SORTED neighbors. So ONE range-partitioned
    sort + one within-partition window pass yields, for every
    position, the length of the longest substring (<= 64 cap) starting
    there that occurs at least twice corpus-wide — byte-identical to
    the binary-lifting engine (:func:`exact_substring_stats`;
    equivalence pinned in tests/test_new_ops_properties.py) at a
    fraction of the cost. The lifting ladder's probe side is
    positions x Σ|round lengths| gram extractions — the full 1..64
    grid (64x positions) on corpora whose achieved-length set is
    dense, which template-heavy training corpora are (measured 290s
    at sf0.1; VERDICT-r7 BENCH_HEAVY order). This path shuffles each
    position ONCE carrying one <=64-char head.

    Partition-boundary exactness: lag/lead run INSIDE each range
    partition (Window.partitionBy(spark_partition_id()) — never a
    global single-partition window over data); each partition's
    first/last row then has its missing neighbor patched from the
    adjacent NON-EMPTY partition via a per-partition edge frame
    (one row per partition, config-bounded — the tiny global window
    over it is #partitions-sized, the j03 dimension-window class).

    100 TB: shuffle volume = positions x (head + 2 ints) in one range
    exchange + one pid-hash exchange; no per-length probes, no
    fixpoint iteration, no data-sized driver state. Reference anchor:
    same F10 scene-dedup semantics pushed to substring granularity
    (collection_builder scene dedup, controller.py)."""
    from pyspark.sql import Window

    from bdc_collection_builder_spark.functions.parallel import spread

    docs = (spread(docs.select("doc_id", "text"))
            .withColumn("dlen", F.length("text")))
    heads = (
        docs.select(
            "doc_id", "text",
            F.explode(F.sequence(F.lit(1), F.col("dlen"))).alias("off"))
        .select("doc_id", "off",
                F.expr(f"substring(text, off, {_ES_CAP})").alias("g"))
    )
    # spark_partition_id is only stable within one materialization —
    # checkpoint eagerly so the window, the edge frame, and any retry
    # all see the SAME partition assignment.
    ranged = (heads.repartitionByRange("g", "doc_id", "off")
              .withColumn("pid", F.spark_partition_id())
              .localCheckpoint(eager=True))
    win = Window.partitionBy("pid").orderBy("g", "doc_id", "off")
    # Chunk each head ONCE, below the window, and lag/lead the chunk
    # ARRAY alongside the head: a neighbor's chunk array is by
    # definition the neighbor row's own `gc`, so re-chunking `pg` and
    # `ng` per row (as the first chunked-LCP cut did) evaluated the
    # 8-substring split 3x per row. All four window functions share
    # one window spec — a single WindowExec pass — at the cost of the
    # sort buffer carrying the ~2x-wider row (measured win below).
    chunked = ranged.withColumn("gc", F.expr(_lcp_chunks_expr("g")))
    lagged = chunked.select(
        "doc_id", "pid", "g", "gc",
        F.lag("g").over(win).alias("pg"),
        F.lead("g").over(win).alias("ng"),
        F.lag("gc").over(win).alias("pgc0"),
        F.lead("gc").over(win).alias("ngc0"))
    # Boundary patch: each partition's first row lacks its true
    # predecessor (the previous non-empty partition's last head) and
    # the last row its successor. The edge frame is ONE row per
    # non-empty partition; lag/lead over it (ordered by pid) walks
    # the non-empty chain, so empty range partitions cannot break
    # adjacency.
    key = F.struct("g", "doc_id", "off")
    edge = ranged.groupBy("pid").agg(F.min(key).alias("fk"),
                                     F.max(key).alias("lk"))
    w_edge = Window.orderBy("pid")  # #partitions rows — config-sized
    # Patch chunks computed here, at partition granularity (one row
    # per partition), so boundary rows coalesce a precomputed array
    # instead of re-chunking per row.
    patch = edge.select(
        "pid",
        F.lag("lk.g").over(w_edge).alias("patch_pg"),
        F.lead("fk.g").over(w_edge).alias("patch_ng"))
    patch = patch.select(
        "pid", "patch_pg", "patch_ng",
        F.expr(_lcp_chunks_expr("patch_pg")).alias("patch_pgc"),
        F.expr(_lcp_chunks_expr("patch_ng")).alias("patch_ngc"))
    # Chunked LCP on materialized columns: chunk arrays and the
    # leading-equal-chunk counts are real columns (multi-referenced
    # non-cheap aliases survive CollapseProject), so nothing O(head)
    # is re-evaluated inside a lambda — the naive per-char form
    # (_lcp_expr) measured ~6s of the 8.5s query wall at sf0.1.
    # coalesce(lag(gc), patch_pgc) == chunks(coalesce(lag(g),
    # patch_pg)) row-for-row: lag(gc) is non-NULL exactly when lag(g)
    # is (heads are never NULL), and the patch arrays are the chunk
    # split of the patch heads — so the LCP inputs are byte-identical
    # to the re-chunking form this replaces (pinned by the seam tests
    # + 400-pair fuzz, which run the full engine).
    per_pos = (
        lagged.join(F.broadcast(patch), "pid")
        .select(
            "doc_id", "g", "gc",
            F.coalesce("pg", "patch_pg").alias("pg"),
            F.coalesce("ng", "patch_ng").alias("ng"),
            F.coalesce("pgc0", "patch_pgc").alias("pgc"),
            F.coalesce("ngc0", "patch_ngc").alias("ngc"))
        .withColumn("kp", F.expr(_lcp_kchunks_expr("gc", "pgc", "pg")))
        .withColumn("kn", F.expr(_lcp_kchunks_expr("gc", "ngc", "ng")))
        .select("doc_id", F.greatest(
            F.expr(_lcp_from_chunks_expr("g", "pg", "gc", "pgc", "kp")),
            F.expr(_lcp_from_chunks_expr("g", "ng", "gc", "ngc", "kn")),
        ).alias("ml"))
    )
    return (
        per_pos.groupBy("doc_id")
        .agg(F.max("ml").cast("bigint").alias("max_dup_len"),
             F.sum(F.when(F.col("ml") >= 8, 1).otherwise(0))
             .cast("bigint").alias("dup8_positions"))
    )


def _minhash_error_oracle(n_hashes: int = 32, bands: int = 8) -> str:
    """DuckDB recomputation of the MinHash sketch-accuracy eval:
    signatures, banded candidates, estimated vs exact Jaccard."""
    from bdc_collection_builder_spark.extensions.dedup import _hash_family

    fam = _hash_family(n_hashes)
    rows_per_band = n_hashes // bands
    mins = ",\n                   ".join(
        f"min((h * {a} + {b}) % {_M31}) AS h{i}"
        for i, (a, b) in enumerate(fam))
    banded = "\n            UNION ALL\n            ".join(
        f"SELECT doc_id, {band} AS band, concat_ws('|', "
        + ", ".join(f"h{band * rows_per_band + r}"
                    for r in range(rows_per_band))
        + ") AS band_key FROM sigs"
        for band in range(bands))
    matches = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)"
        for i in range(n_hashes))
    return f"""
        WITH corpus AS ({_AUG_SQL}),
        tokd AS (SELECT doc_id, {_TOKS} AS toks FROM corpus),
        shingled AS (
            SELECT DISTINCT doc_id, sh FROM (
                SELECT doc_id,
                       array_to_string(toks[i + 1 : i + 5], ' ') AS sh
                FROM tokd, UNNEST(generate_series(0, len(toks) - 5)) AS u(i)
                WHERE len(toks) >= 5
            )
        ),
        hashed AS (
            SELECT doc_id, sh, {_HEX60.format(x='sh')} % {_M31} AS h
            FROM shingled
        ),
        sigs AS (
            SELECT doc_id,
                   {mins}
            FROM hashed GROUP BY doc_id
        ),
        banded AS (
            {banded}
        ),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM shingled GROUP BY doc_id),
        common AS (
            SELECT doc_a, doc_b, count(*) AS n_common
            FROM cands
            JOIN shingled sa ON sa.doc_id = doc_a
            JOIN shingled sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
            GROUP BY doc_a, doc_b
        ),
        scored AS (
            SELECT c.doc_a, c.doc_b,
                   CAST({matches} AS BIGINT) AS n_matching,
                   CAST(coalesce(m.n_common, 0) AS DOUBLE)
                     / (za.n + zb.n - coalesce(m.n_common, 0))
                     AS exact_j
            FROM cands c
            JOIN sigs sa ON sa.doc_id = c.doc_a
            JOIN sigs sb ON sb.doc_id = c.doc_b
            LEFT JOIN common m
              ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
            JOIN sizes za ON za.doc_id = c.doc_a
            JOIN sizes zb ON zb.doc_id = c.doc_b
        )
        SELECT doc_a, doc_b, n_matching,
               round(CAST(n_matching AS DOUBLE) / {n_hashes}, 6)
                 AS est_jaccard,
               round(exact_j, 6) AS exact_jaccard,
               round(abs(CAST(n_matching AS DOUBLE) / {n_hashes}
                         - exact_j), 6) AS abs_error
        FROM scored
    """


@query(
    "dd_minhash_estimate_error",
    survey=("DD-minhash",),
    oracle=_minhash_error_oracle(),
)
def dd_minhash_estimate_error(spark, sf_dir):
    """Sketch-accuracy evaluation for the MinHash near-dup pipeline:
    over every banded LSH candidate pair of the planted-pair corpus,
    the ESTIMATED Jaccard (matching signature components / 32, the
    unbiased MinHash estimator, Broder 1997 — public) against the
    EXACT shingle Jaccard, with the absolute error. This is the
    statistic that justifies the (n_hashes, bands) operating point:
    dd_planted_pair_eval measures pair RECOVERY, this measures
    estimator QUALITY on the recovered pairs.

    Determinism: the match count is an integer (component-wise
    equality of md5-60bit universal-hash minima — exact on both
    engines), exact Jaccard is a ratio of exact integers, and the
    error is one double expression over them; everything rounds at 6
    decimals far above ulp noise.

    100 TB: identical cost envelope to dd_minhash_lsh_md5 — one
    shingle shuffle, one signature aggregate, one banded equi-join,
    two keyed verification joins against candidates only (never
    all-pairs); the signature comparison is a 32-element zip_with on
    already-joined rows."""
    from bdc_collection_builder_spark.extensions.dedup import (
        lsh_candidates,
        minhash_signatures_from_shingles,
        shingles,
    )
    from bdc_collection_builder_spark.functions.persist import (
        tracked_persist,
    )

    base = t(spark, sf_dir, "documents")
    docs = base.select("doc_id", "text").filter(F.col("doc_id") % 5 == 0)
    near = (
        base.filter(F.col("doc_id") % 20 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" xy zz wq")).alias("text"))
    )
    corpus = docs.unionByName(near)
    sh = tracked_persist(shingles(corpus, "text", "doc_id", 5))
    sig = tracked_persist(
        minhash_signatures_from_shingles(sh, 32, "md5"))
    cands = lsh_candidates(sig, bands=8, rows_per_band=4,
                           engine_neutral=True)
    sig_a = sig.select(F.col("doc_id").alias("doc_a"),
                       F.col("signature").alias("sig_a"))
    sig_b = sig.select(F.col("doc_id").alias("doc_b"),
                       F.col("signature").alias("sig_b"))
    n_match = F.aggregate(
        F.zip_with("sig_a", "sig_b",
                   lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v).cast("bigint")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        cands.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n").alias("n_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n").alias("n_b"))
    exact_j = (F.coalesce("n_common", F.lit(0)).cast("double")
               / (F.col("n_a") + F.col("n_b")
                  - F.coalesce("n_common", F.lit(0))))
    est_j = F.col("n_matching").cast("double") / 32
    return (
        cands.join(sig_a, "doc_a").join(sig_b, "doc_b")
        .select("doc_a", "doc_b", n_match.alias("n_matching"))
        .join(common, ["doc_a", "doc_b"], "left")
        .join(za, "doc_a").join(zb, "doc_b")
        .select(
            "doc_a", "doc_b", "n_matching",
            F.round(est_j, 6).alias("est_jaccard"),
            F.round(exact_j, 6).alias("exact_jaccard"),
            F.round(F.abs(est_j - exact_j), 6).alias("abs_error"))
    )


@query(
    "dd_suffix_prefix_overlap",
    survey=("DD-exact",),
    oracle="""
        WITH corpus AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
            UNION ALL
            SELECT doc_id + 2000000,
                   substr(text, length(text) - 47) || ' tail tail tail'
            FROM documents WHERE doc_id % 20 = 0 AND length(text) >= 48
        ),
        anch AS (
            SELECT doc_id, text, length(text) AS l,
                   substr(text, 1, 32) AS pre32
            FROM corpus WHERE length(text) >= 32
        ),
        akeys AS (
            SELECT doc_id AS doc_a, text AS ta, l AS la, g.k AS k,
                   substr(text, l - g.k + 1, 32) AS anchor
            FROM anch,
                 unnest(generate_series(32, least(l, 128))) AS g(k)
        ),
        cand AS (
            SELECT a.doc_a, b.doc_id AS doc_b, a.k
            FROM akeys a JOIN anch b ON a.anchor = b.pre32
            WHERE a.doc_a <> b.doc_id AND a.k <= b.l
              AND substr(a.ta, a.la - a.k + 1) = substr(b.text, 1, a.k)
        )
        SELECT doc_a, doc_b,
               CAST(max(k) AS BIGINT) AS overlap_len
        FROM cand GROUP BY doc_a, doc_b
    """,
)
def dd_suffix_prefix_overlap(spark, sf_dir):
    """Continuation-stitching dedup: document pairs where A's SUFFIX
    equals B's PREFIX — the overlap signature of re-crawled
    continuation pages and of sliding-window chunking re-ingested as
    separate documents (the overlap class MinHash misses: the shared
    span may be a small Jaccard fraction of both docs while still
    causing verbatim train/test leakage at the seam). Planted pairs:
    every 20th doc spawns a continuation whose first 48 chars are the
    source's last 48.

    Mechanics: for every candidate overlap length k in [32, 128], A
    emits the FIRST 32 CHARS OF ITS LENGTH-k SUFFIX as the anchor key
    (an overlap of length k implies that window equals B's prefix32 —
    the alignment-correct generalization; the original suffix32 =
    prefix32 anchor only ever matched overlaps of EXACTLY 32, which
    made the query vacuously empty at every SF, planted pairs
    included — round-8 non-vacuous-sweep finding). Candidates come
    from the 32-char equi-join (hash join, NEVER all-pairs); each
    (pair, k) is then verified by ONE exact suffix-k = prefix-k
    comparison and the max verified k is reported per pair. Integer
    output, bit-deterministic.

    100 TB: anchors are <= 97 rows per doc (cap-bounded constant);
    the join key is a 32-char hash-partitioned string (or its
    xxhash64 in the production variant); verification cost scales
    with CANDIDATES, not corpus. Reference anchor: F10 scene-dedup
    pushed to the chunk-boundary case (collection_builder scene
    dedup, controller.py)."""
    base = t(spark, sf_dir, "documents")
    docs = base.select("doc_id", "text").filter(F.col("doc_id") % 5 == 0)
    # length >= 48 guard (ADVICE-r6): for shorter docs the start
    # position length(text)-47 is <= 0, where Spark's substring
    # (negative = count from the end) and DuckDB/Postgres substr
    # (virtual-position rule) DIVERGE — guard on both engines so the
    # planted branch only ever uses start positions >= 1.
    planted = (
        base.filter((F.col("doc_id") % 20 == 0)
                    & (F.length("text") >= 48))
        .select((F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat(F.expr("substring(text, length(text) - 47)"),
                         F.lit(" tail tail tail")).alias("text"))
    )
    anch = (
        docs.unionByName(planted)
        .filter(F.length("text") >= 32)
        .select("doc_id", "text", F.length("text").alias("l"),
                F.expr("substring(text, 1, 32)").alias("pre32"))
    )
    akeys = (
        anch.select(
            F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"),
            F.col("l").alias("la"),
            F.explode(F.sequence(F.lit(32),
                                 F.least("l", F.lit(128)))).alias("k"))
        .withColumn("anchor", F.expr("substring(ta, la - k + 1, 32)"))
    )
    b = anch.select(F.col("doc_id").alias("doc_b"),
                    F.col("text").alias("tb"),
                    F.col("l").alias("lb"),
                    F.col("pre32").alias("anchor"))
    cand = (
        akeys.join(b, "anchor")
        .filter((F.col("doc_a") != F.col("doc_b"))
                & (F.col("k") <= F.col("lb"))
                & (F.expr("substring(ta, la - k + 1)")
                   == F.expr("substring(tb, 1, k)")))
        .select("doc_a", "doc_b", "k")
    )
    return cand.groupBy("doc_a", "doc_b").agg(
        F.max("k").cast("bigint").alias("overlap_len"))


@query(
    "cu_dedup_rate_by_source",
    survey=("DD-exact", "CU-sample"),
    oracle="""
        WITH ranked AS (
            SELECT source, doc_id,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_canonical,
               CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dropped,
               round(CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*), 6) AS dedup_rate
        FROM ranked
        GROUP BY source
    """,
)
def cu_dedup_rate_by_source(spark, sf_dir):
    """Exact-duplicate rate per source — the curation dashboard's
    first column: which feeds are flooding the corpus with copies.
    Canonical = the minimum doc_id per content hash (the same
    survivorship rule dd_exact_duplicates applies); a source's
    dropped count is its documents losing that race. Measuring the
    rate per SOURCE (not globally) is what turns dedup from a cleanup
    pass into a data-sourcing decision (cut or down-weight the feed).

    One shuffle on the content hash (the window), one map-side
    combined rollup per source; all-integer output plus one exact
    division — bit-deterministic.

    100 TB: identical envelope to exact dedup itself; the per-source
    rollup is dimension-sized."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("h"))
    w = Window.partitionBy("h").orderBy("doc_id")
    ranked = docs.withColumn("rn", F.row_number().over(w))
    dropped = F.when(F.col("rn") > 1, 1).otherwise(0)
    return ranked.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_canonical"),
        F.sum(dropped).cast("bigint").alias("n_dropped"),
        F.round(F.sum(dropped).cast("double") / F.count("*"), 6)
        .alias("dedup_rate"))


@query(
    "ss_knn_label_accuracy",
    survey=("SS-brute", "DQ-drift"),
    oracle=f"""
        WITH topk AS (
            SELECT query_id, vec_id FROM (
                SELECT e2.vec_id AS query_id, e.vec_id,
                       row_number() OVER (
                           PARTITION BY e2.vec_id
                           ORDER BY
                             round({_DOT_SQL.format(a='e2.embedding',
                                                    b='e.embedding')}
                             / (sqrt({_DOT_SQL.format(a='e2.embedding',
                                                      b='e2.embedding')})
                                * sqrt({_DOT_SQL.format(a='e.embedding',
                                                        b='e.embedding')})),
                                   6) DESC, e.vec_id
                       ) AS rank
                FROM embeddings e CROSS JOIN embeddings e2
                WHERE e2.vec_id < 32 AND e.vec_id <> e2.vec_id
            ) WHERE rank <= 10
        ),
        votes AS (
            SELECT t.query_id, c.label, CAST(count(*) AS BIGINT) AS cnt
            FROM topk t JOIN embeddings c USING (vec_id)
            GROUP BY 1, 2
        ),
        pred AS (
            SELECT query_id, label AS pred_label FROM (
                SELECT query_id, label,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cnt DESC, label) AS r
                FROM votes
            ) WHERE r = 1
        )
        SELECT q.label AS true_label,
               CAST(count(*) AS BIGINT) AS n_queries,
               CAST(sum(CASE WHEN p.pred_label = q.label
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               round(CAST(sum(CASE WHEN p.pred_label = q.label
                              THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS accuracy
        FROM embeddings q JOIN pred p ON p.query_id = q.vec_id
        WHERE q.vec_id < 32
        GROUP BY 1
    """,
)
def ss_knn_label_accuracy(spark, sf_dir):
    """kNN label-consistency eval (Fix & Hodges 1951 / Cover & Hart
    1967 — public): predict each query vector's label by majority
    vote of its 10 exact cosine neighbors (deterministic tie-breaks:
    cosine rounded to 6dp then vec_id for the neighborhood, count
    then smaller label for the vote), score against the true label,
    report per-label accuracy. The embedding-quality smoke test a
    training pipeline runs after re-embedding: labels whose
    neighborhoods stop predicting them signal a collapsed or drifted
    embedding space — the labeled complement of ss_ndcg_eval's
    rank-quality metric.

    Reuses brute_force_topk end-to-end (the documented eval-protocol
    brute-force: bounded 32-query batch broadcast x corpus scan); the
    vote and accuracy stages are exact integer counts over the 320
    neighbor rows plus one final division.

    100 TB: eval cost = one broadcast top-k pass (query batch is
    bounded); everything downstream is dimension-sized."""
    from bdc_collection_builder_spark.extensions.similarity import (
        brute_force_topk,
    )
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("query_id"), "embedding")
    topk = brute_force_topk(emb, queries, k=10)
    votes = (
        topk.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cnt").desc(), F.col("label"))
    pred = (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("query_id", F.col("label").alias("pred_label"))
    )
    truth = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"))
    correct = F.when(F.col("pred_label") == F.col("true_label"), 1) \
        .otherwise(0)
    return (
        truth.join(pred, "query_id")
        .groupBy("true_label")
        .agg(F.count("*").cast("bigint").alias("n_queries"),
             F.sum(correct).cast("bigint").alias("n_correct"),
             F.round(F.sum(correct).cast("double") / F.count("*"), 6)
             .alias("accuracy"))
    )


@query(
    "sk_bloom_fpr_eval",
    survey=("CU-decon", "SK-bloom"),
    oracle=f"""
        WITH train AS (SELECT doc_id, text FROM documents
                       WHERE doc_id % 17 <> 0),
        bench AS (SELECT doc_id, text FROM documents
                  WHERE doc_id % 17 = 0),
        tr AS ({_SHINGLE5_SQL.format(toks=_TOKS, src="train")}),
        be AS ({_SHINGLE5_SQL.format(toks=_TOKS, src="bench")}),
        besh AS (SELECT DISTINCT sh FROM be),
        trsh AS (SELECT DISTINCT sh FROM tr),
        probes(i) AS (VALUES (0), (1), (2)),
        bpos AS (
            SELECT (({_HEX60.format(x='sh')} % {_BLOOM_M})
                    + i * ({_HEX60B.format(x='sh')} % {_BLOOM_M}))
                   % {_BLOOM_M} AS pos
            FROM besh CROSS JOIN probes
        ),
        bitmap AS (
            SELECT pos // 63 AS word_idx,
                   bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
            FROM bpos GROUP BY pos // 63
        ),
        trh AS (
            SELECT sh, {_HEX60.format(x='sh')} % {_BLOOM_M} AS r1,
                   {_HEX60B.format(x='sh')} % {_BLOOM_M} AS r2
            FROM trsh
        ),
        hits AS (
            SELECT sh,
                   sum(CASE WHEN b.bits IS NOT NULL
                            AND (b.bits & (1::BIGINT
                                 << CAST(((r1 + i * r2) % {_BLOOM_M})
                                         % 63 AS INT))) <> 0
                       THEN 1 ELSE 0 END) AS n_hits
            FROM trh CROSS JOIN probes
            LEFT JOIN bitmap b
              ON ((r1 + i * r2) % {_BLOOM_M}) // 63 = b.word_idx
            GROUP BY sh
        ),
        labeled AS (
            SELECT h.sh,
                   CASE WHEN h.n_hits = 3 THEN 1 ELSE 0 END AS flagged,
                   CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END AS member
            FROM hits h LEFT JOIN besh b ON b.sh = h.sh
        )
        SELECT CAST(count(*) AS BIGINT) AS n_probed,
               CAST(sum(member) AS BIGINT) AS n_members,
               CAST(sum(flagged) AS BIGINT) AS n_flagged,
               CAST(sum(CASE WHEN flagged = 1 AND member = 0
                        THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_false_positives,
               round(CAST(sum(CASE WHEN flagged = 1 AND member = 0
                              THEN 1 ELSE 0 END) AS DOUBLE)
                     / (count(*) - sum(member)), 6) AS fpr
        FROM labeled
    """,
)
def sk_bloom_fpr_eval(spark, sf_dir):
    """Measured Bloom-filter quality (Bloom 1970, public) for the
    decontamination path: probe the benchmark bitmap with every
    DISTINCT training shingle, label each probe by EXACT membership
    in the benchmark shingle set, and report the measured
    false-positive rate beside the flag counts. The eval that turns
    cu_bloom_decontaminate's theoretical (1−e^{-kn/m})^k into a
    number the pipeline can alarm on — and the proof of the zero
    false-negative guarantee (every member must be flagged; the
    companion test pins n_flagged >= n_members and this query's
    n_members equals the exact intersection by construction).

    Same deterministic md5 double-hash bitmap as the production
    query (bit-for-bit replayable by the oracle); all counts exact
    int64, FPR one final division.

    100 TB: the bitmap is 4 KiB broadcast; probes are a map-side
    explode + broadcast word-index join (corpus never shuffles
    beyond the distinct); exact labeling is one left join on the
    shingle key — the same envelope as the decontamination pass it
    audits."""
    from bdc_collection_builder_spark.extensions.curation import (
        _md5_hash60_hi,
        bloom_bitmap,
        shingles,
    )
    from bdc_collection_builder_spark.extensions.dedup import md5_hash60

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 17 != 0)
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    m = F.lit(_BLOOM_M)
    bench_sh = shingles(bench, k=5).select("shingle").distinct()
    bitmap = bloom_bitmap(shingles(bench, k=5), key_col="shingle",
                          m_bits=_BLOOM_M, n_hashes=3)
    trsh = (
        shingles(train, k=5).select("shingle").distinct()
        .select("shingle",
                (md5_hash60(F.col("shingle")) % m).alias("r1"),
                (_md5_hash60_hi(F.col("shingle")) % m).alias("r2"))
    )
    probes = trsh.select(
        "shingle", "r1", "r2",
        F.explode(F.array(*[
            (F.col("r1") + F.lit(i) * F.col("r2")) % m
            for i in range(3)])).alias("pos"))
    hit = (F.col("bits").isNotNull()
           & (F.col("bits").bitwiseAND(
               F.expr("shiftleft(CAST(1 AS BIGINT), "
                      "CAST(pos % 63 AS INT))")) != 0))
    hits = (
        probes
        .join(F.broadcast(bitmap),
              F.expr("pos DIV 63") == F.col("word_idx"), "left")
        .groupBy("shingle")
        .agg(F.sum(hit.cast("int")).alias("n_hits"))
    )
    labeled = (
        hits.join(bench_sh.withColumn("is_member", F.lit(1)),
                  "shingle", "left")
        .select(
            F.when(F.col("n_hits") == 3, 1).otherwise(0).alias("flagged"),
            F.coalesce("is_member", F.lit(0)).alias("member"))
    )
    fp = F.when((F.col("flagged") == 1) & (F.col("member") == 0), 1) \
        .otherwise(0)
    return labeled.agg(
        F.count("*").cast("bigint").alias("n_probed"),
        F.sum("member").cast("bigint").alias("n_members"),
        F.sum("flagged").cast("bigint").alias("n_flagged"),
        F.sum(fp).cast("bigint").alias("n_false_positives"),
        F.round(F.sum(fp).cast("double")
                / (F.count("*") - F.sum("member")), 6).alias("fpr"))


@query(
    "mm_audio_silence_trim",
    survey=("MM-audio",),
    oracle="""
        WITH audio AS (
            SELECT i AS media_id, sha256('media-' || i) AS hex,
                   CAST(4 + i % 7 AS INT) AS reps
            FROM range(0, 64) t(i) WHERE i % 3 = 1
        ),
        frames AS (
            SELECT media_id, hex,
                   unnest(generate_series(0, reps - 1)) AS frame_idx
            FROM audio
        ),
        samples AS (
            SELECT media_id, hex, frame_idx,
                   unnest(generate_series(0, 15)) AS k
            FROM frames
        ),
        vals AS (
            SELECT media_id, frame_idx,
                   ((strpos('0123456789abcdef', substr(hex,
                        2*((2*(frame_idx*16+k)) % 32)+1, 1))-1)*16
                    + strpos('0123456789abcdef', substr(hex,
                        2*((2*(frame_idx*16+k)) % 32)+2, 1))-1)
                   + 256 * ((strpos('0123456789abcdef', substr(hex,
                        2*((2*(frame_idx*16+k)+1) % 32)+1, 1))-1)*16
                    + strpos('0123456789abcdef', substr(hex,
                        2*((2*(frame_idx*16+k)+1) % 32)+2, 1))-1) AS raw
            FROM samples
        ),
        energy AS (
            SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
                   CAST(sum(CASE WHEN raw >= 32768
                                 THEN (raw - 65536) * (raw - 65536)
                                 ELSE raw * raw END) AS BIGINT) AS energy
            FROM vals GROUP BY 1, 2
        ),
        per AS (
            SELECT media_id,
                   CAST(count(*) AS BIGINT) AS n_frames,
                   min(CASE WHEN energy >= 5725000000
                            THEN frame_idx END) AS mn,
                   max(CASE WHEN energy >= 5725000000
                            THEN frame_idx END) AS mx
            FROM energy GROUP BY media_id
        )
        SELECT media_id, n_frames,
               CAST(coalesce(mn, n_frames) AS BIGINT) AS lead_trim,
               CAST(coalesce(n_frames - 1 - mx, 0) AS BIGINT)
                 AS tail_trim,
               CAST(n_frames - coalesce(mn, n_frames)
                    - coalesce(n_frames - 1 - mx, 0) AS BIGINT)
                 AS n_kept
        FROM per
    """,
)
def mm_audio_silence_trim(spark, sf_dir):
    """Silence trimming over the audio modality: per clip, the count
    of leading and trailing frames whose energy sits below the voiced
    threshold, and the kept span between them — the standard
    preprocessing step before an audio corpus is tokenized (silence
    carries no training signal but bills storage and compute).
    Frames are 16 samples; "voiced" thresholds the EXACT int64
    sum-of-squares energy (audio_frame_energy — no sqrt, no floats
    anywhere in this query), threshold = half the uniform-int16
    expected frame energy.

    Plumbing is the real multimodal path: one Arrow-batched
    mapInPandas decode (payload bytes stay executor-local), then a
    conditional min/max aggregate per clip — all integers,
    deterministic bytes by construction. The oracle re-derives every
    sample arithmetically from the seeded sha256 fixture.

    100 TB: decode is embarrassingly parallel over clips; only
    (media_id, frame_idx, energy) rows shuffle, and the trim
    aggregate is one map-side-combined groupBy."""
    from bdc_collection_builder_spark.extensions.multimodal import (
        audio_frame_energy,
        synthetic_media,
    )

    media = synthetic_media(spark, n=64).filter(F.col("kind") == "audio")
    en = audio_frame_energy(media, frame_len=16)
    voiced = F.when(F.col("energy") >= 5725000000, F.col("frame_idx"))
    per = en.groupBy("media_id").agg(
        F.count("*").cast("bigint").alias("n_frames"),
        F.min(voiced).alias("mn"),
        F.max(voiced).alias("mx"))
    lead = F.coalesce(F.col("mn").cast("bigint"), F.col("n_frames"))
    tail = F.coalesce((F.col("n_frames") - 1 - F.col("mx"))
                      .cast("bigint"), F.lit(0).cast("bigint"))
    return per.select(
        "media_id", "n_frames",
        lead.alias("lead_trim"),
        tail.alias("tail_trim"),
        (F.col("n_frames") - lead - tail).alias("n_kept"))


@query(
    "cu_cluster_size_distribution",
    survey=("DD-cluster", "CU-sample"),
    oracle=f"""
        WITH RECURSIVE {_JACCARD_CTES},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM jpairs
            UNION
            SELECT doc_b AS a, doc_a AS b FROM jpairs
        ),
        reach AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        comp AS (
            SELECT a AS doc_id, least(a, min(b)) AS component_id
            FROM reach GROUP BY a
        ),
        allc AS (
            SELECT doc_id FROM documents WHERE doc_id % 5 = 0
            UNION ALL
            SELECT doc_id + 1000000 FROM documents WHERE doc_id % 20 = 0
        ),
        assigned AS (
            SELECT c.doc_id,
                   coalesce(p.component_id, c.doc_id) AS component_id
            FROM allc c LEFT JOIN comp p USING (doc_id)
        ),
        csizes AS (
            SELECT component_id, CAST(count(*) AS BIGINT) AS size
            FROM assigned GROUP BY 1
        )
        SELECT size,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(size * count(*) AS BIGINT) AS n_docs,
               CAST((size - 1) * count(*) AS BIGINT)
                 AS n_duplicates_removable
        FROM csizes GROUP BY size
    """,
)
def cu_cluster_size_distribution(spark, sf_dir):
    """Near-duplicate CLUSTER-SIZE distribution — the dedup planning
    report: every document lands in exactly one cluster (its
    connected component from the n-gram-Jaccard pair graph, or itself
    as a singleton), and the histogram of cluster sizes says what
    survivorship will actually reclaim (n_duplicates_removable =
    (size-1) per cluster) and whether duplication is a long tail of
    pairs or a few pathological mega-clusters — the number that
    decides between plain survivorship and template-removal. Sits on
    top of dd_cluster_components exactly as the curation dashboard
    would.

    Pipeline: pair generation (hash-anchored, never all-pairs) →
    min-label-propagation components (bounded rounds, checkpointed) →
    a left join assigning singletons to themselves → two
    dimension-sized aggregates. All-integer output.

    100 TB: identical envelope to the dedup pass it reports on; the
    histogram is bounded by the largest cluster size."""
    from bdc_collection_builder_spark.extensions.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    base = t(spark, sf_dir, "documents")
    docs = base.select("doc_id", "text").filter(F.col("doc_id") % 5 == 0)
    near = (
        base.filter(F.col("doc_id") % 20 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" xy zz wq")).alias("text"))
    )
    corpus = docs.unionByName(near)
    pairs = ngram_jaccard_pairs(corpus, threshold=0.5)
    comp = connected_components(pairs)
    assigned = (
        corpus.select("doc_id")
        .join(comp, "doc_id", "left")
        .select("doc_id",
                F.coalesce("component_id", "doc_id").alias("component_id"))
    )
    sizes = assigned.groupBy("component_id").agg(
        F.count("*").cast("bigint").alias("size"))
    return sizes.groupBy("size").agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        (F.col("size") * F.count("*")).cast("bigint").alias("n_docs"),
        ((F.col("size") - 1) * F.count("*")).cast("bigint")
        .alias("n_duplicates_removable"))


@query(
    "dd_prefix_filter_jaccard",
    survey=("DD-near", "J4", "A2"),
    oracle=f"""
        WITH ts AS (
            SELECT doc_id, list_distinct({_TOKS}) AS tk FROM documents
            WHERE len(list_distinct({_TOKS})) > 0
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.tk, b.tk)) AS BIGINT)
                 AS n_common,
               CAST(len(a.tk) AS BIGINT) AS size_a,
               CAST(len(b.tk) AS BIGINT) AS size_b
        FROM ts a JOIN ts b ON a.doc_id < b.doc_id
        WHERE 39 * len(list_intersect(a.tk, b.tk))
                >= 19 * (len(a.tk) + len(b.tk))
    """,
)
def dd_prefix_filter_jaccard(spark, sf_dir):
    """EXACT set-similarity self-join via prefix filtering (AllPairs /
    PPJoin family — Bayardo et al. 2007, Xiao et al. 2008, public):
    every document pair whose token-SET Jaccard is >= 0.95, found
    WITHOUT comparing all pairs. Complements the estimate-based
    MinHash/SimHash dedups with a zero-false-negative exact variant —
    and is the SCALE path the existing exact baseline lacks:
    dd_ngram_jaccard_pairs self-joins on EVERY shingle (postings
    quadratic in the most common shingle), while the prefix filter
    confines the join to each set's short rare-token prefix.

    Correctness of the filter (Bayardo's prefix bound, tightened in
    round 8 from the earlier t/(1+t) form): for any qualifying pair,
    O = |A inter B| >= t/(1+t)*(sa+sb), which with the size bounds
    (t*sb <= sa <= sb wlog) gives O >= ceil(t*sa) AND O >= ceil(t*sb).
    Take each set's first p = s - ceil(t*s) + 1 tokens under the
    global order. The FIRST common token w1 (positions p1a, p1b) has
    every earlier token non-common, so O <= sa - p1a + 1, i.e.
    p1a <= sa - O + 1 <= p_A — w1 lies inside BOTH prefixes, so the
    prefix equi-join cannot lose a qualifying pair. The PPJoin
    POSITIONAL filter (Xiao et al. 2008) then prunes per candidate
    row: sharing token at positions (pa, pb) bounds the overlap
    through w1's row by 1 + min(sa - pa, sb - pb); a pair is kept if
    ANY of its shared-prefix-token rows passes, and the w1 row always
    does for qualifying pairs, so pruning stays lossless while
    dropping the accidental rare-token collisions that dominate the
    candidate set on template corpora. The global order is
    rarest-token-first (ascending document frequency), the standard
    choice because rare tokens have short postings lists.
    t = 0.95 = 19/20, so all thresholds are integer: prefix skip =
    ceil(19*s/20) = (19*s + 19) div 20, size prune
    20*min >= 19*max, positional 39*(1 + min(sa-pa, sb-pb)) >=
    19*(sa+sb), verify 39*inter >= 19*(sa+sb) — no float comparisons
    anywhere, deterministic bytes. Token-LESS documents
    (empty/whitespace text) are excluded on BOTH sides:
    J(empty, empty) is undefined (0/0), and the Spark plan's posting
    lists structurally cannot emit such pairs, so the oracle must not
    vacuously match them either (39*0 >= 19*0 would).

    100 TB: the df computation and the prefix self-join shuffle on
    TOKEN (postings bounded by the rare-first order); verification
    shuffles candidates + per-doc sorted token arrays on doc_id and
    intersects per pair (no pair x token blowup). No all-pairs stage
    exists in the plan — the quadratic work is confined to tokens'
    postings within the prefix zone, the published scaling story of
    AllPairs. The oracle brute-forces the same predicate, which is
    only feasible at oracle scale — equality with it at sf0.01 is
    the proof the filter dropped nothing."""
    from bdc_collection_builder_spark.extensions.text import tokens

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    post = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"))
    df = post.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    # per-doc tokens sorted rare-first; prefix length p = s - skip + 1
    ordered = (
        post.join(df, "tok")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "tok")))
             .alias("ord"), F.count("*").cast("bigint").alias("s"))
    )
    # ordered is consumed THREE times below (the prefix zone and both
    # verification sides) — without a persist, each consumer replays
    # the full tokenize -> df-join -> sort-collect aggregation, the
    # single most expensive frame in the plan (round-9 profile at
    # sf0.1: 10.9s warm -> 2.0s warm / 13.9s cold -> 5.3s cold from
    # this one persist — the "output-bound" residual was actually
    # re-tokenization). At 100 TB the same reuse is one materialized
    # exchange instead of three corpus scans.
    ordered = tracked_persist(ordered)
    skip = F.expr("(19 * s + 19) DIV 20")
    prefix = ordered.select(
        "doc_id", "s",
        F.posexplode(F.slice(F.col("ord").getField("tok"), F.lit(1),
                             (F.col("s") - skip + 1).cast("int")))
        .alias("p0", "tok"))
    pa = prefix.select(F.col("doc_id").alias("doc_a"),
                       F.col("s").alias("size_a"),
                       (F.col("p0") + 1).alias("pa"), "tok")
    pb = prefix.select(F.col("doc_id").alias("doc_b"),
                       F.col("s").alias("size_b"),
                       (F.col("p0") + 1).alias("pb"), "tok")
    cand = (
        pa.join(pb, "tok")
        .filter((F.col("doc_a") < F.col("doc_b"))
                & (20 * F.least("size_a", "size_b")
                   >= 19 * F.greatest("size_a", "size_b"))
                & (39 * (1 + F.least(F.col("size_a") - F.col("pa"),
                                     F.col("size_b") - F.col("pb")))
                   >= 19 * (F.col("size_a") + F.col("size_b"))))
        .select("doc_a", "doc_b", "size_a", "size_b").distinct()
    )
    # Verification: attach each side's full token ARRAY (already
    # computed in `ordered`) to the candidate pair and intersect
    # per-pair — two joins, NO (pair x common-token) row explosion
    # and no re-aggregation shuffle (the previous posting-join form
    # materialized one row per shared token per pair; VERDICT-r7
    # What's-wrong #2). Tokens are distinct per doc, so
    # size(array_intersect) is the exact intersection cardinality.
    toks_a = ordered.select(
        F.col("doc_id").alias("doc_a"),
        F.col("ord").getField("tok").alias("arr_a"))
    toks_b = ordered.select(
        F.col("doc_id").alias("doc_b"),
        F.col("ord").getField("tok").alias("arr_b"))
    inter = (
        cand.join(toks_a, "doc_a").join(toks_b, "doc_b")
        .select("doc_a", "doc_b", "size_a", "size_b",
                F.size(F.array_intersect("arr_a", "arr_b"))
                .cast("bigint").alias("n_common"))
    )
    return (
        inter.filter(39 * F.col("n_common")
                     >= 19 * (F.col("size_a") + F.col("size_b")))
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b")
    )


@query(
    "dd_hamming_near_pairs",
    survey=("DD-near", "J4"),
    oracle="""
        WITH p AS (
            SELECT doc_id, substr(text || repeat('#', 32), 1, 32) AS s
            FROM documents
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(length(list_filter(range(1, 33),
                       i -> substr(a.s, i, 1) <> substr(b.s, i, 1)))
                       AS BIGINT) AS n_mismatch
            FROM p a JOIN p b ON a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, n_mismatch
        FROM pairs WHERE n_mismatch <= 2
    """,
)
def dd_hamming_near_pairs(spark, sf_dir):
    """EXACT Hamming-distance near-duplicate join over each document's
    fixed-width 32-char head (padded with '#'): pairs differing in at
    most 2 character positions — the substitution-noise dedup model
    (OCR scan noise, mojibake, single-field template fills) that
    SimHash only approximates. Zero false negatives by the pigeonhole
    blocking of Gionis/Indyk-style partitioning (public): split the
    32 chars into 3 fixed segments (11+11+10); <= 2 substitutions
    cannot touch all 3, so every qualifying pair agrees EXACTLY on
    some segment — candidates come from 3 equi-joins on (segment id,
    segment text), then each candidate is verified by counting
    mismatching positions. Both engines count CHARACTER positions
    (per-position substr comparison on each side — deliberately NOT
    DuckDB's byte-based hamming(), which throws on unequal BYTE
    lengths the moment a non-ASCII character lands in one head).
    All-integer output, no float anywhere.

    100 TB: one shuffle on the (seg_id, seg_text) blocking key (the
    3x fan-out is a constant); candidate verification is a
    per-row 32-position vectorized expression (higher-order filter
    over a sequence — JVM codegen, no Python). Skew guard: a
    template-heavy corpus concentrates one segment value; the
    blocking key includes the segment INDEX so the three segment
    spaces don't collide, and AQE splits oversized buckets. The
    oracle brute-forces hamming() over all pairs — equality at
    sf0.01 proves the blocking lost nothing."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(F.concat(F.col("text"), F.lit("#" * 32)), 1, 32)
        .alias("s"))
    segs = docs.select(
        "doc_id", "s",
        F.explode(F.array(
            F.struct(F.lit(0).alias("i"),
                     F.substring("s", 1, 11).alias("seg")),
            F.struct(F.lit(1).alias("i"),
                     F.substring("s", 12, 11).alias("seg")),
            F.struct(F.lit(2).alias("i"),
                     F.substring("s", 23, 10).alias("seg")),
        )).alias("blk"))
    sa = segs.select(F.col("doc_id").alias("doc_a"),
                     F.col("s").alias("str_a"),
                     F.col("blk.i").alias("i"),
                     F.col("blk.seg").alias("seg"))
    sb = segs.select(F.col("doc_id").alias("doc_b"),
                     F.col("s").alias("str_b"),
                     F.col("blk.i").alias("i"),
                     F.col("blk.seg").alias("seg"))
    cand = (
        sa.join(sb, ["i", "seg"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "str_a", "str_b").distinct()
    )
    ham = F.size(F.filter(
        F.sequence(F.lit(1), F.lit(32)),
        lambda i: F.substring(F.col("str_a"), 1, 32).substr(i, F.lit(1))
        != F.substring(F.col("str_b"), 1, 32).substr(i, F.lit(1))))
    return (
        cand.withColumn("n_mismatch", ham.cast("bigint"))
        .filter(F.col("n_mismatch") <= 2)
        .select("doc_a", "doc_b", "n_mismatch")
    )


@query(
    "dd_edit1_near_pairs",
    survey=("DD-near", "J4"),
    oracle=r"""
        WITH h AS (
            SELECT doc_id,
                   regexp_replace(substr(text, 1, 32),
                                  '[^\x20-\x7E]', '?', 'g') AS g
            FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.g, b.g) AS BIGINT) AS n_edits
        FROM h a JOIN h b ON a.doc_id < b.doc_id
        WHERE levenshtein(a.g, b.g) <= 1
    """,
)
def dd_edit1_near_pairs(spark, sf_dir):
    r"""EXACT edit-distance<=1 near-duplicate join over each document's
    32-char head — the single-typo/OCR-glitch dedup model that
    Hamming blocking (dd_hamming_near_pairs) misses whenever the edit
    SHIFTS the tail (an insertion or deletion misaligns every later
    position). Zero false negatives by the DELETION-NEIGHBORHOOD
    blocking of FastSS (Bocek et al. 2007, public): each head emits
    itself (pos 0) and its |g| single-character deletions (pos i);
    two heads are within edit distance 1 iff they are equal (pos-0
    keys match), differ by one substitution (their pos-i deletions
    match at the SAME i), or by one insertion/deletion (one equals a
    deletion of the other — a pos-0 key meets a pos-i key). So
    candidates come from ONE equi-join on the deletion key with a
    position-compatibility filter, then each candidate is verified
    with the built-in (JVM codegen) levenshtein — never an all-pairs
    pass. Heads are ASCII-projected on BOTH engines first
    (non-printable/non-ASCII chars -> '?'): DuckDB's levenshtein
    counts BYTES (levenshtein('e-acute','e') = 2), Spark's counts
    characters — the projection makes the two metrics provably
    coincide instead of relying on the corpus staying ASCII (the
    dd_hamming byte-vs-char lesson, f42f0b3).

    100 TB: <= 33 keys per doc (cap-bounded constant), shuffled on
    the 31/32-char key — postings bounded like the prefix-filter
    join; verification is one O(32^2) DP per CANDIDATE. The oracle
    brute-forces all pairs, feasible only at oracle scale — equality
    proves the neighborhood dropped nothing."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return edit1_near_pairs(docs)


def edit1_near_pairs(docs: "DataFrame") -> "DataFrame":
    """FastSS edit-distance<=1 join engine behind
    :func:`dd_edit1_near_pairs` — factored out (the scc_labels
    pattern) so tests can drive it with ADVERSARIAL planted corpora
    (substitution/insertion/deletion at head/middle/tail, distance-2
    decoys, exact duplicates, non-ASCII projection seams) beyond the
    derived documents table. ``docs`` is (doc_id, text). Returns
    (doc_a, doc_b, n_edits) for every unordered pair whose
    ASCII-projected 32-char heads are within edit distance 1."""
    heads = docs.select(
        "doc_id",
        F.regexp_replace(F.expr("substring(text, 1, 32)"),
                         r"[^\x20-\x7E]", "?").alias("g"))
    keys = heads.select(
        "doc_id", "g",
        F.explode(F.expr(
            "transform(sequence(0, length(g)), i -> struct("
            "i AS pos, IF(i = 0, g, concat(substring(g, 1, i - 1), "
            "substring(g, i + 1))) AS k))")).alias("d")
    ).select("doc_id", "g", F.col("d.pos").alias("pos"),
             F.col("d.k").alias("k"))
    ka = keys.select(F.col("doc_id").alias("doc_a"),
                     F.col("g").alias("ga"),
                     F.col("pos").alias("pa"), "k")
    kb = keys.select(F.col("doc_id").alias("doc_b"),
                     F.col("g").alias("gb"),
                     F.col("pos").alias("pb"), "k")
    cand = (
        ka.join(kb, "k")
        .filter((F.col("doc_a") < F.col("doc_b"))
                & ((F.col("pa") == F.col("pb"))
                   | (F.col("pa") == 0) | (F.col("pb") == 0)))
        .select("doc_a", "doc_b", "ga", "gb").distinct()
    )
    return (
        cand.filter(F.levenshtein("ga", "gb") <= 1)
        .select("doc_a", "doc_b",
                F.levenshtein("ga", "gb").cast("bigint")
                .alias("n_edits"))
    )


@query(
    "cu_kcenter_coreset",
    survey=("CU-sample", "SS-ann"),
    oracle="""
        WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 64) AS BIGINT)) AS v FROM embeddings),
        c1 AS (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 1),
        d1 AS (SELECT q.vec_id, q.v, list_sum(list_transform(list_zip(q.v, c1.v), p -> (p[1]-p[2])*(p[1]-p[2]))) AS mind FROM q, c1),
        c2 AS (SELECT vec_id, v, mind FROM d1 ORDER BY mind DESC, vec_id LIMIT 1),
        d2 AS (SELECT d.vec_id, d.v, least(d.mind, list_sum(list_transform(list_zip(d.v, c2.v), p -> (p[1]-p[2])*(p[1]-p[2])))) AS mind FROM d1 d, c2),
        c3 AS (SELECT vec_id, v, mind FROM d2 ORDER BY mind DESC, vec_id LIMIT 1),
        d3 AS (SELECT d.vec_id, d.v, least(d.mind, list_sum(list_transform(list_zip(d.v, c3.v), p -> (p[1]-p[2])*(p[1]-p[2])))) AS mind FROM d2 d, c3),
        c4 AS (SELECT vec_id, v, mind FROM d3 ORDER BY mind DESC, vec_id LIMIT 1),
        d4 AS (SELECT d.vec_id, d.v, least(d.mind, list_sum(list_transform(list_zip(d.v, c4.v), p -> (p[1]-p[2])*(p[1]-p[2])))) AS mind FROM d3 d, c4),
        c5 AS (SELECT vec_id, v, mind FROM d4 ORDER BY mind DESC, vec_id LIMIT 1),
        d5 AS (SELECT d.vec_id, d.v, least(d.mind, list_sum(list_transform(list_zip(d.v, c5.v), p -> (p[1]-p[2])*(p[1]-p[2])))) AS mind FROM d4 d, c5),
        c6 AS (SELECT vec_id, v, mind FROM d5 ORDER BY mind DESC, vec_id LIMIT 1),
        d6 AS (SELECT d.vec_id, d.v, least(d.mind, list_sum(list_transform(list_zip(d.v, c6.v), p -> (p[1]-p[2])*(p[1]-p[2])))) AS mind FROM d5 d, c6),
        c7 AS (SELECT vec_id, v, mind FROM d6 ORDER BY mind DESC, vec_id LIMIT 1),
        d7 AS (SELECT d.vec_id, d.v, least(d.mind, list_sum(list_transform(list_zip(d.v, c7.v), p -> (p[1]-p[2])*(p[1]-p[2])))) AS mind FROM d6 d, c7),
        c8 AS (SELECT vec_id, v, mind FROM d7 ORDER BY mind DESC, vec_id LIMIT 1)
        SELECT CAST(1 AS BIGINT) AS rank, vec_id, CAST(0 AS BIGINT) AS radius2 FROM c1
        UNION ALL SELECT CAST(2 AS BIGINT) AS rank, vec_id, CAST(mind AS BIGINT) AS radius2 FROM c2
        UNION ALL SELECT CAST(3 AS BIGINT) AS rank, vec_id, CAST(mind AS BIGINT) AS radius2 FROM c3
        UNION ALL SELECT CAST(4 AS BIGINT) AS rank, vec_id, CAST(mind AS BIGINT) AS radius2 FROM c4
        UNION ALL SELECT CAST(5 AS BIGINT) AS rank, vec_id, CAST(mind AS BIGINT) AS radius2 FROM c5
        UNION ALL SELECT CAST(6 AS BIGINT) AS rank, vec_id, CAST(mind AS BIGINT) AS radius2 FROM c6
        UNION ALL SELECT CAST(7 AS BIGINT) AS rank, vec_id, CAST(mind AS BIGINT) AS radius2 FROM c7
        UNION ALL SELECT CAST(8 AS BIGINT) AS rank, vec_id, CAST(mind AS BIGINT) AS radius2 FROM c8
    """,
)
def cu_kcenter_coreset(spark, sf_dir):
    """Diversity CORESET selection via farthest-first traversal
    (Gonzalez 1985, the 2-approximation for k-center — public): pick
    k = 8 maximally-spread embedding vectors, the curation move that
    picks diverse exemplars instead of i.i.d. samples (the gap in the
    cu_ sampling family: hash/stratified/reservoir/DSIR all sample by
    weight, none by COVERAGE). Deterministic and integer-exact:
    embeddings are quantized once as round(double(x) * 64) — the * 64
    is a float exponent shift (EXACT, no rounding before round()) —
    and all distances are int64 squared-L2; the seed is the minimum
    vec_id and every argmax tie-breaks on vec_id, so both engines
    walk the identical center sequence. radius2 reports each center's
    min-distance-to-previous-centers at selection time — the
    monotonically NON-INCREASING coverage radius sequence (pinned in
    pytest), which is the coreset's quality certificate.

    100 TB: the Gonzalez loop is k passes over the corpus, each ONE
    scan + TakeOrdered(1) (per-partition top-1 heaps, no global
    sort); driver state per round is one 64-int vector + one id —
    k-bounded scalar reads, the ss_kmeans centroid-collect class. The
    oracle unrolls the same 8 steps as chained CTEs, feasible only at
    oracle scale."""
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> "
               "CAST(round(CAST(x AS DOUBLE) * 64) AS BIGINT))")
        .alias("v"))
    emb = tracked_persist(emb)

    def dist2_to(vec: list) -> "F.Column":
        lits = ",".join(str(int(x)) for x in vec)
        return F.expr(
            f"aggregate(zip_with(v, array({lits}), "
            "(a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), "
            "(acc, x) -> acc + x)")

    first = emb.orderBy("vec_id").limit(1).collect()[0]
    centers = [(1, int(first.vec_id), 0)]
    mind = emb.select("vec_id", "v", dist2_to(first.v).alias("mind"))
    for rank in range(2, 9):
        top = (mind.orderBy(F.desc("mind"), F.asc("vec_id"))
               .limit(1).collect()[0])
        centers.append((rank, int(top.vec_id), int(top.mind)))
        if rank < 8:
            mind = mind.select(
                "vec_id", "v",
                F.least("mind", dist2_to(top.v)).alias("mind"))
    return spark.createDataFrame(
        centers, "rank bigint, vec_id bigint, radius2 bigint")


@query(
    "ss_ivf_delete_erasure",
    survey=("SS-ivf", "Y3", "S15"),
    oracle=f"""
        WITH cent AS (
            SELECT CAST(vec_id AS INT) AS cid, embedding AS cvec,
                   sqrt({_DOT_SQL.format(a='embedding', b='embedding')})
                     AS cnorm
            FROM embeddings WHERE vec_id < 16
        ),
        assign AS (
            SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY
                             {_DOT_SQL.format(a='e.embedding', b='c.cvec')}
                             / (sqrt({_DOT_SQL.format(a='e.embedding',
                                                      b='e.embedding')})
                                * c.cnorm) DESC, c.cid
                       ) AS rnk
                FROM embeddings e CROSS JOIN cent c
            ) WHERE rnk = 1
        )
        SELECT cid AS centroid_id,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(vec_id) AS BIGINT) AS id_sum
        FROM assign WHERE vec_id % 7 <> 3
        GROUP BY cid
    """,
)
def ss_ivf_delete_erasure(spark, sf_dir):
    """ANN index ERASURE (extensions/similarity.py
    delete_from_ivf_index) — the GDPR path the erasure worker
    (streaming/incremental.py incremental_erasure) already provides
    for tables, completed for the persisted IVF index (VERDICT-r9
    task 6): build the seeded index over the full embedding corpus,
    erase every vec_id % 7 == 3 vector, then REDELIVER the same
    delete batch — which must be a byte-level no-op (the frozen
    quantizer re-derives each key's partition deterministically, so
    both passes rewrite the same touched partitions to the same
    content). Only touched centroid partitions are rewritten;
    untouched ones keep their inodes and probes keep their static
    PartitionFilter.

    The returned per-centroid inventory (count + id checksum) equals
    the from-scratch assignment of the corpus MINUS the erased ids —
    proving the in-place delete converges to the batch rebuild,
    the same identity ss_ivf_incremental_upsert pins for appends.
    The fully-emptied-partition edge (dynamic overwrite leaves a
    zero-survivor partition's old files in place unless dropped) is
    pinned separately in tests/test_new_ops_properties.py."""
    from bdc_collection_builder_spark.extensions.similarity import (
        build_ivf_index_seeded,
        delete_from_ivf_index,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    path = scratch_dir("bdc_ivf_delete_")
    build_ivf_index_seeded(emb, path)
    erase = emb.filter(F.col("vec_id") % 7 == 3)
    delete_from_ivf_index(spark, path, erase)
    delete_from_ivf_index(spark, path, erase)  # redelivery: must no-op
    return (
        spark.read.parquet(f"{path}/vectors")
        .groupBy(F.col("centroid_id").cast("int").alias("centroid_id"))
        .agg(F.count("*").cast("bigint").alias("n_vectors"),
             F.sum("vec_id").cast("bigint").alias("id_sum"))
    )
