"""Tokenizer-training statistics — the distributed scans behind BPE /
SentencePiece vocabulary construction.

BPE training never iterates over the corpus: it iterates over the
WORD-FREQUENCY DICTIONARY (orders of magnitude smaller), which is the
one corpus-sized scan these operators perform. Both queries therefore
share the same shape:

    corpus scan → whitespace-token explode → word dict (one shuffle,
    map-side combined) → per-word enumeration (pairs / substrings,
    weighted by word count) → count aggregate → TakeOrdered top-k

At 100 TB the word dict for natural-language text is ~10⁷ rows — the
enumeration stage runs over that, not the corpus, so the expensive
part stays a single map-side-combined count shuffle. Tokenization is
the shared ``tokens()`` contract (extensions/text.py) so results line
up with the vocabulary/TF-IDF queries.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bdc_collection_builder_spark.extensions.text import tokens
from bdc_collection_builder_spark.functions.iterate import iterate, note_rounds
from bdc_collection_builder_spark.plans._util import t
from bdc_collection_builder_spark.plans.registry import query

# whitespace word dict, shared with the vocabulary queries (_TOKS in
# plans/extensions.py pins the identical DuckDB-side tokenization)
_WORD_DICT = r"""
    words AS (
        SELECT tok AS w, CAST(count(*) AS BIGINT) AS cnt FROM (
            SELECT unnest(list_filter(
                regexp_split_to_array(lower(text), '\s+'), x -> x <> ''
            )) AS tok FROM documents
        ) GROUP BY tok
    )
"""


@query(
    "tk_bpe_pair_counts",
    survey=("TK-bpe",),
    oracle="WITH " + _WORD_DICT + """,
    pairs AS (
        SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, cnt
        FROM (
            SELECT w, cnt, unnest(generate_series(1, length(w) - 1)) AS i
            FROM words WHERE length(w) >= 2
        )
    )
    SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_count
    FROM pairs GROUP BY pair
    ORDER BY pair_count DESC, pair LIMIT 50
""",
)
def tk_bpe_pair_counts(spark, sf_dir):
    """The first BPE training step: adjacent-symbol pair frequencies
    over the word dict, weighted by word count — the statistic whose
    argmax becomes merge #1. Enumeration is per *distinct word*
    (sequence explode over positions), so cost is O(dict chars), not
    O(corpus chars). Top-k is TakeOrdered, never a global sort."""
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w").agg(F.count("*").alias("cnt"))
        .filter(F.length("w") >= 2)
    )
    pairs = (
        words.select(
            "w", "cnt",
            F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"))
        .select(F.col("w").substr(F.col("i"), F.lit(2)).alias("pair"), "cnt")
    )
    return (
        pairs.groupBy("pair").agg(F.sum("cnt").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair").limit(50)
    )


@query(
    "tk_seed_vocab_substrings",
    survey=("TK-seed-vocab",),
    oracle="WITH " + _WORD_DICT + """,
    pieces AS (
        SELECT substr(w, CAST(i AS INTEGER), CAST(j AS INTEGER)) AS piece,
               cnt
        FROM (
            SELECT w, cnt, i,
                   unnest(generate_series(
                       1, least(4, length(w) - i + 1))) AS j
            FROM (
                SELECT w, cnt,
                       unnest(generate_series(1, length(w))) AS i
                FROM words
            )
        )
    )
    SELECT piece, CAST(sum(cnt) AS BIGINT) AS piece_count
    FROM pieces GROUP BY piece
    ORDER BY piece_count DESC, piece LIMIT 200
""",
)
def tk_seed_vocab_substrings(spark, sf_dir):
    """SentencePiece-style seed vocabulary: every substring up to
    length 4 of every dictionary word, count-weighted — the candidate
    set the unigram-LM trainer prunes by EM. Double sequence-explode
    over the word dict (positions × lengths) keeps enumeration
    O(dict chars × max_len), corpus untouched after the dict scan."""
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w").agg(F.count("*").alias("cnt"))
    )
    pieces = (
        words.select(
            "w", "cnt",
            F.explode(F.sequence(F.lit(1), F.length("w"))).alias("i"))
        .select(
            "w", "cnt", "i",
            F.explode(F.sequence(
                F.lit(1),
                F.least(F.lit(4), F.length("w") - F.col("i") + 1))).alias("j"))
        .select(F.col("w").substr(F.col("i"), F.col("j")).alias("piece"),
                "cnt")
    )
    return (
        pieces.groupBy("piece").agg(F.sum("cnt").alias("piece_count"))
        .orderBy(F.col("piece_count").desc(), "piece").limit(200)
    )


@query(
    "tk_pmi_cooccurrence",
    survey=("TK-bpe", "TX-vocab"),
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, unnest(list_filter(
                regexp_split_to_array(lower(text), '\s+'), x -> x <> ''
            )) AS tok FROM documents
        ),
        df AS (
            SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM toks GROUP BY tok
        ),
        top AS (
            SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 100
        ),
        incidence AS (
            SELECT DISTINCT t.doc_id, t.tok
            FROM toks t JOIN top USING (tok)
        ),
        nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n
               FROM documents),
        pairs AS (
            SELECT a.tok AS tok_a, b.tok AS tok_b,
                   CAST(count(*) AS BIGINT) AS n_docs_both
            FROM incidence a JOIN incidence b
              ON a.doc_id = b.doc_id AND a.tok < b.tok
            GROUP BY a.tok, b.tok
        )
        SELECT tok_a, tok_b, n_docs_both,
               round(ln(
                   (n_docs_both * (SELECT n FROM nn))
                   / (da.df * db.df)
               ), 6) AS pmi
        FROM pairs
        JOIN top da ON da.tok = tok_a
        JOIN top db ON db.tok = tok_b
        ORDER BY n_docs_both DESC, tok_a, tok_b LIMIT 50
    """,
)
def tk_pmi_cooccurrence(spark, sf_dir):
    """Pointwise mutual information over document-level co-occurrence
    of the top-100 vocabulary — the collocation/topic-affinity signal
    (high-PMI pairs = phrases and topical clusters; near-zero = words
    that merely share frequency). Scale shape: the candidate
    vocabulary is CAPPED (top-k by document frequency, a broadcast
    dimension), so the incidence table is ≤ k rows per document and
    per-doc vocabulary incidence is ≤ k tokens, so pairs are generated
    INSIDE each doc's sorted array with a combinations HOF (≤ k²/2 per
    doc, bounded by construction, never corpus-quadratic) — no pair
    self-join at all. ONE corpus-scale shuffle (the token df
    aggregate, with map-side partial aggregation over per-doc distinct
    tokens); the incidence set is a map-side array_intersect with the
    collected top-k literals, and the pair aggregate runs on the
    capped k²/2 key space."""
    docs = t(spark, sf_dir, "documents")
    # Per-doc DISTINCT tokens first (array_distinct is the map-side
    # dedup), so document frequency is a plain count with partial
    # aggregation — the previous countDistinct shuffled every raw
    # token occurrence and dedup'd reduce-side (guide §2.3: aggregate
    # before you shuffle).
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"))
    df = toks.groupBy("tok").agg(F.count("*").alias("df"))
    # The top-100 vocabulary is a CAP-BOUNDED dimension: collect it
    # once and bake it in as literals. The previous broadcast-join
    # form consumed the `top` subplan three times (incidence filter +
    # the two df attach joins) and Catalyst replayed the corpus-scale
    # df aggregate for each — three extra full shuffles for 100 rows
    # (guide §2.4: remove shuffles outright).
    top100 = df.orderBy(F.col("df").desc(), "tok").limit(100).collect()
    top_lit = F.array(*[F.lit(r["tok"]) for r in top100])
    # Per-doc vocab set = array_intersect with the literal top-100:
    # map-side, NO shuffle — replaces the explode + broadcast join +
    # collect_set regroup (one full corpus exchange gone). Pairs then
    # come from a combinations HOF over the sorted array — map-side,
    # output bounded by k²/2 per doc.
    doc_sets = docs.select(
        "doc_id",
        F.array_sort(F.array_intersect(
            F.array_distinct(tokens(F.col("text"))), top_lit)).alias("ts"))
    ts, sz = F.col("ts"), F.size("ts")
    pair_arr = F.when(sz >= 2, F.flatten(F.transform(
        F.sequence(F.lit(1), sz - 1),
        lambda i: F.transform(
            F.slice(ts, i + 1, sz - i),
            lambda y: F.struct(F.element_at(ts, i).alias("tok_a"),
                               y.alias("tok_b"))),
    ))).otherwise(F.array().cast("array<struct<tok_a:string,tok_b:string>>"))
    n = docs.select("doc_id").distinct().count()
    pairs = (
        doc_sets.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.tok_a").alias("tok_a"),
                 F.col("p.tok_b").alias("tok_b"))
        .agg(F.count("*").alias("n_docs_both"))
    )
    # df attach from the already-collected rows — a 100-row local
    # frame, never a replay of the corpus aggregate.
    top_local = spark.createDataFrame(
        [(r["tok"], r["df"]) for r in top100], "tok string, df long")
    da = top_local.select(F.col("tok").alias("tok_a"),
                          F.col("df").alias("df_a"))
    db = top_local.select(F.col("tok").alias("tok_b"),
                          F.col("df").alias("df_b"))
    return (
        pairs.join(F.broadcast(da), "tok_a").join(F.broadcast(db), "tok_b")
        .select(
            "tok_a", "tok_b", "n_docs_both",
            F.round(F.log(
                F.col("n_docs_both") * F.lit(float(n))
                / (F.col("df_a") * F.col("df_b"))), 6).alias("pmi"))
        .orderBy(F.col("n_docs_both").desc(), "tok_a", "tok_b").limit(50)
    )


_SEG_HASH = "CAST(concat('0x', substr(md5(substr(rem, 1, {L})), 1, 15)) AS BIGINT)"


@query(
    "tk_greedy_segment_encode",
    survey=("TK-bpe", "TK-seed"),
    oracle=f"""
        WITH RECURSIVE words AS (
            SELECT tok AS w, CAST(count(*) AS BIGINT) AS cnt FROM (
                SELECT unnest(list_filter(
                    regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''
                )) AS tok FROM documents
            ) GROUP BY tok
        ),
        seg AS (
            SELECT w, substr(w, 1, 24) AS rem, CAST(0 AS BIGINT) AS n
            FROM words
            UNION ALL
            SELECT w,
                   substr(rem, CASE
                       WHEN len(rem) >= 4 AND {_SEG_HASH.format(L=4)} % 5 = 0
                           THEN 4
                       WHEN len(rem) >= 3 AND {_SEG_HASH.format(L=3)} % 5 = 0
                           THEN 3
                       WHEN len(rem) >= 2 AND {_SEG_HASH.format(L=2)} % 5 = 0
                           THEN 2
                       ELSE 1 END + 1),
                   n + 1
            FROM seg WHERE rem <> ''
        )
        SELECT s.w, wd.cnt, s.n AS n_pieces
        FROM seg s JOIN words wd USING (w)
        WHERE s.rem = ''
        ORDER BY wd.cnt DESC, s.w LIMIT 50
    """,
)
def tk_greedy_segment_encode(spark, sf_dir):
    """Tokenizer APPLICATION (the step after training): greedy
    longest-prefix segmentation of every word against a vocabulary —
    the WordPiece/BPE-encode loop — run as a pure Catalyst
    ``aggregate`` HOF with a (remaining-suffix, count) struct
    accumulator, zero Python and zero extra shuffles. Vocabulary
    membership is a deterministic hash rule (md5-60bit % 5 == 0 for
    2..4-char pieces; single chars always match) so both engines share
    the exact vocab without a fixture table; a trained vocab swaps in
    as a broadcast map lookup with the same loop. Segmentation runs
    over the word DICT, not the corpus — at 100 TB that is ~10^7
    distinct words once, then a broadcast join back to documents
    (tk_bpe_pair_counts' docstring scale argument, applied to encode).
    The DuckDB oracle replays the same greedy loop as a recursive CTE,
    value-checking every strip decision. Words truncate to 24 chars on
    both sides (bounds the unrolled loop; real vocabularies cap token
    length the same way)."""
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w").agg(F.count("*").alias("cnt"))
    )

    def h60(col):
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")

    def piece_len(rem):
        return (
            F.when((F.length(rem) >= 4)
                   & (h60(F.substring(rem, 1, 4)) % 5 == 0), F.lit(4))
            .when((F.length(rem) >= 3)
                  & (h60(F.substring(rem, 1, 3)) % 5 == 0), F.lit(3))
            .when((F.length(rem) >= 2)
                  & (h60(F.substring(rem, 1, 2)) % 5 == 0), F.lit(2))
            .otherwise(F.lit(1))
        )

    def step(acc, _i):
        rem = acc["rem"]
        stripped = F.substr(rem, piece_len(rem) + 1, F.lit(24))
        return F.when(rem == "", acc).otherwise(
            F.struct(stripped.alias("rem"),
                     (acc["n"] + F.lit(1).cast("bigint")).alias("n")))

    n_pieces = F.aggregate(
        F.sequence(F.lit(1), F.lit(24)),
        F.struct(F.substring(F.col("w"), 1, 24).alias("rem"),
                 F.lit(0).cast("bigint").alias("n")),
        step,
        lambda acc: acc["n"],
    )
    return (
        words.select("w", "cnt", n_pieces.alias("n_pieces"))
        .orderBy(F.col("cnt").desc(), "w").limit(50)
    )


_VIT_CAP = 16    # word-length cap for the bounded DP (cf. greedy's 24)
_VIT_TOP = 200   # seed-vocab size before single-char coverage union


@query(
    "tk_unigram_viterbi",
    survey=("TK-seed", "TK-unigram"),
    oracle=f"""
        WITH RECURSIVE words AS (
            SELECT tok AS w, CAST(count(*) AS BIGINT) AS cnt FROM (
                SELECT unnest(list_filter(
                    regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''
                )) AS tok FROM documents
            ) GROUP BY tok
        ),
        allp AS (
            SELECT substr(w, CAST(i AS INTEGER), CAST(j AS INTEGER))
                       AS piece,
                   cnt
            FROM (
                SELECT w, cnt, i,
                       unnest(generate_series(
                           1, least(4, length(w) - i + 1))) AS j
                FROM (SELECT w, cnt,
                             unnest(generate_series(1, length(w))) AS i
                      FROM words)
            )
        ),
        pc AS (
            SELECT piece, CAST(sum(cnt) AS BIGINT) AS piece_count
            FROM allp GROUP BY piece
        ),
        vocab AS (
            -- NB: explicit GROUP BY dedupe, NOT a bare UNION: inside a
            -- WITH RECURSIVE block DuckDB gives UNION recursive-union
            -- semantics and the overlap between the top-N arm and the
            -- single-char arm survives (observed: duplicated pieces
            -- and an inflated probability mass)
            SELECT piece, max(piece_count) AS piece_count FROM (
                SELECT piece, piece_count FROM (
                    SELECT piece, piece_count,
                           row_number() OVER (
                               ORDER BY piece_count DESC, piece) AS rk
                    FROM pc) WHERE rk <= {_VIT_TOP}
                UNION ALL
                SELECT piece, piece_count FROM pc WHERE length(piece) = 1
            ) GROUP BY piece
        ),
        tot AS (SELECT CAST(sum(piece_count) AS DOUBLE) AS z FROM vocab),
        wcap AS (
            SELECT w, cnt, substr(w, 1, {_VIT_CAP}) AS cw,
                   length(substr(w, 1, {_VIT_CAP})) AS l
            FROM words
        ),
        edges AS (
            SELECT x.w, x.i, x.j, CAST(v.piece_count AS DOUBLE) / t.z AS pr
            FROM (
                SELECT w, i - 1 AS i, i - 1 + j AS j,
                       substr(cw, CAST(i AS INTEGER), CAST(j AS INTEGER))
                           AS piece
                FROM (
                    SELECT w, cw, i,
                           unnest(generate_series(
                               1, least(4, l - i + 1))) AS j
                    FROM (SELECT w, cw, l,
                                 unnest(generate_series(1, l)) AS i
                          FROM wcap)
                )
            ) x JOIN vocab v ON v.piece = x.piece CROSS JOIN tot t
        ),
        dp AS (
            SELECT w, l, 0 AS step,
                   [CAST(1.0 AS DOUBLE)] AS best,
                   [CAST(1.0 AS DOUBLE)] AS alpha
            FROM wcap
            UNION ALL
            SELECT d.w, d.l, d.step + 1,
                   list_append(d.best, (
                       SELECT max(d.best[e.i + 1] * e.pr)
                       FROM edges e
                       WHERE e.w = d.w AND e.j = d.step + 1)),
                   list_append(d.alpha, (
                       SELECT list_sum(
                           list(d.alpha[e.i + 1] * e.pr ORDER BY e.i))
                       FROM edges e
                       WHERE e.w = d.w AND e.j = d.step + 1))
            FROM dp d WHERE d.step < d.l
        )
        SELECT d.w, c.cnt,
               d.best[d.l + 1] AS viterbi_prob,
               d.alpha[d.l + 1] AS marginal_prob
        FROM dp d JOIN wcap c ON c.w = d.w
        WHERE d.step = d.l
    """,
)
def tk_unigram_viterbi(spark, sf_dir):
    """Unigram-LM word scoring — the E-step of SentencePiece unigram
    training (Kudo 2018, public): under a piece vocabulary with
    probabilities proportional to seed counts (top-{_VIT_TOP}
    substrings + all single characters for coverage), compute per
    dictionary word BOTH the Viterbi (best-segmentation) probability
    and the forward-algorithm MARGINAL probability over all
    segmentations — the two quantities EM needs (the marginal is the
    normalizer for expected piece counts; Viterbi is the decode).

    Everything stays in probability space (products, sums, max of
    exact count ratios) — no ln/exp, so there is NO libm dependency
    and the doubles are bit-identical across engines; the DP's
    summation order is pinned (edges sorted (j, i), forward sums in
    i-ascending order) and the DuckDB oracle replays it with a
    list-state recursive CTE + ordered list_sum.

    Scale shape: the DP runs over the word DICT (vocabulary-bounded,
    never the corpus — tk_bpe_pair_counts' argument); edges come from
    one bounded position×length explode joined to the broadcast vocab;
    the per-word DP is ONE cached-SQL aggregate HOF over its sorted
    edge array (≤ 4·{_VIT_CAP} edges, state = two ≤{_VIT_CAP}+1-slot
    arrays), zero Python, zero extra shuffles."""
    from bdc_collection_builder_spark.extensions.similarity import (
        _cached_expr,
    )
    from bdc_collection_builder_spark.extensions.text import tokens

    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w").agg(F.count("*").alias("cnt"))
    )
    allp = (
        words.select(
            "w", "cnt",
            F.explode(F.sequence(F.lit(1), F.length("w"))).alias("i"))
        .select(
            "w", "cnt", "i",
            F.explode(F.sequence(
                F.lit(1),
                F.least(F.lit(4), F.length("w") - F.col("i") + 1)))
            .alias("j"))
        .select(F.col("w").substr(F.col("i"), F.col("j")).alias("piece"),
                "cnt")
    )
    pc = allp.groupBy("piece").agg(
        F.sum("cnt").cast("bigint").alias("piece_count"))
    # top-N via orderBy+limit -> TakeOrderedAndProject (per-partition
    # heaps), not a global row_number window (single-partition sort)
    top = (pc.orderBy(F.col("piece_count").desc(), "piece")
           .limit(_VIT_TOP))
    singles = pc.filter(F.length("piece") == 1)
    vocab = top.unionByName(singles).distinct()
    tot = vocab.agg(F.sum("piece_count").cast("double").alias("z"))

    wcap = words.select(
        "w", "cnt", F.col("w").substr(F.lit(1), F.lit(_VIT_CAP)).alias("cw")
    ).withColumn("l", F.length("cw"))
    edges = (
        wcap.select(
            "w", "cw", "l",
            F.explode(F.sequence(F.lit(1), F.col("l"))).alias("i"))
        .select(
            "w", "cw", "i",
            F.explode(F.sequence(
                F.lit(1),
                F.least(F.lit(4), F.col("l") - F.col("i") + 1))).alias("j"))
        .select(
            "w", (F.col("i") - 1).alias("ei"),
            (F.col("i") - 1 + F.col("j")).alias("ej"),
            F.col("cw").substr(F.col("i"), F.col("j")).alias("piece"))
        .join(F.broadcast(vocab), "piece")
        .crossJoin(F.broadcast(tot))
        .select("w", "ei", "ej",
                (F.col("piece_count").cast("double") / F.col("z"))
                .alias("pr"))
    ).localCheckpoint(eager=True)
    es = edges.groupBy("w").agg(
        F.array_sort(F.collect_list(
            F.struct(F.col("ej").alias("j"), F.col("ei").alias("i"),
                     F.col("pr").alias("pr")))).alias("es"))
    dp_sql = """
        aggregate(
            es,
            named_struct(
                'best', transform(sequence(0, l),
                                  p -> IF(p = 0, CAST(1.0 AS DOUBLE),
                                          CAST(0.0 AS DOUBLE))),
                'alpha', transform(sequence(0, l),
                                   p -> IF(p = 0, CAST(1.0 AS DOUBLE),
                                           CAST(0.0 AS DOUBLE)))),
            (acc, e) -> named_struct(
                'best', transform(sequence(0, l),
                    p -> IF(p = e.j,
                            greatest(acc.best[p], acc.best[e.i] * e.pr),
                            acc.best[p])),
                'alpha', transform(sequence(0, l),
                    p -> IF(p = e.j,
                            acc.alpha[p] + acc.alpha[e.i] * e.pr,
                            acc.alpha[p]))),
            acc -> named_struct('v', acc.best[l], 'm', acc.alpha[l]))
    """
    scored = (
        wcap.join(es, "w")
        .select("w", "cnt", "l", "es")
        .select("w", "cnt", _cached_expr(dp_sql).alias("dp"))
    )
    return scored.select(
        "w", "cnt",
        F.col("dp.v").alias("viterbi_prob"),
        F.col("dp.m").alias("marginal_prob"))


def _bpe_initial_segmentation(spark, sf_dir):
    """Word dict with each word's character-level segmentation as a
    space-joined symbol string (leading/trailing space so every merge
    is a delimited literal replace)."""
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w").agg(F.count("*").alias("cnt"))
    )
    return words.select(
        "w", "cnt",
        F.concat(F.lit(" "),
                 F.regexp_replace("w", "(.)", "$1 ")).alias("seg"))


def _bpe_pair_counts(seg_df):
    """Corpus-weighted adjacent-symbol pair counts of a segmentation."""
    toks = F.filter(F.split(F.col("seg"), " "), lambda x: x != "")
    with_toks = seg_df.select("cnt", toks.alias("toks")).filter(
        F.size("toks") >= 2)
    pairs = with_toks.select(
        "cnt",
        F.explode(F.expr(
            "transform(sequence(1, size(toks) - 1), "
            "i -> named_struct('s1', toks[i - 1], 's2', toks[i]))"))
        .alias("p"))
    return (pairs.select(F.col("p.s1").alias("s1"),
                         F.col("p.s2").alias("s2"), "cnt")
            .groupBy("s1", "s2")
            .agg(F.sum("cnt").cast("bigint").alias("c")))


def _bpe_apply_merge(seg_df, top1):
    """Apply the chosen (m1, m2) merge to every word: literal
    non-overlapping left-to-right replace of ' m1 m2 ' — identical
    semantics in the JVM and DuckDB."""
    return (
        seg_df.crossJoin(F.broadcast(top1))
        .select(
            "w", "cnt",
            F.replace(
                F.col("seg"),
                F.concat(F.lit(" "), F.col("m1"), F.lit(" "),
                         F.col("m2"), F.lit(" ")),
                F.concat(F.lit(" "), F.col("m1"), F.col("m2"),
                         F.lit(" "))).alias("seg"))
    )


# adjacent symbol pairs of a space-segmented word string, as SQL text
# shared by both engines' merge round
_SEG_PAIRS = """
    SELECT w, cnt, toks[i] AS s1, toks[i + 1] AS s2
    FROM (
        SELECT w, cnt,
               list_filter(string_split({seg}, ' '), x -> x <> '') AS toks
        FROM {src}
    ), unnest(generate_series(1, len(toks) - 1)) AS g(i)
    WHERE len(toks) >= 2
"""


@query(
    "tk_bpe_merge_round",
    survey=("TK-bpe",),
    oracle="WITH " + _WORD_DICT + r""",
    seg0 AS (
        SELECT w, cnt,
               ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS seg
        FROM words
    ),
    p0 AS (""" + _SEG_PAIRS.format(seg="seg", src="seg0") + """),
    c0 AS (
        SELECT s1, s2, CAST(sum(cnt) AS BIGINT) AS c
        FROM p0 GROUP BY s1, s2
    ),
    top1 AS (
        SELECT s1, s2 FROM c0 ORDER BY c DESC, s1, s2 LIMIT 1
    ),
    seg1 AS (
        SELECT g.w, g.cnt,
               replace(g.seg, ' ' || t.s1 || ' ' || t.s2 || ' ',
                       ' ' || t.s1 || t.s2 || ' ') AS seg
        FROM seg0 g CROSS JOIN top1 t
    ),
    p1 AS (""" + _SEG_PAIRS.format(seg="seg", src="seg1") + """),
    c1 AS (
        SELECT s1, s2, CAST(sum(cnt) AS BIGINT) AS c
        FROM p1 GROUP BY s1, s2
    )
    SELECT c1.s1, c1.s2, c1.c AS pair_count,
           t.s1 || t.s2 AS merged_symbol
    FROM c1 CROSS JOIN top1 t
    ORDER BY pair_count DESC, c1.s1, c1.s2 LIMIT 50
""",
)
def tk_bpe_merge_round(spark, sf_dir):
    """One FULL BPE merge round (Sennrich et al. 2016, public) — not
    just the pair statistic (tk_bpe_pair_counts) but the training
    loop's body: pick the argmax pair (ties to the lexicographically
    smallest, a fixed rule both engines share), apply the merge to
    every word's segmentation, and recount — the post-merge pair table
    is exactly the input of merge round 2, so iterating this query IS
    BPE training. The segmentation is a space-joined symbol string;
    the merge is a literal (non-regex) replace of ' s1 s2 ' with
    ' s1s2 ' whose left-to-right non-overlapping semantics are
    identical in the JVM and DuckDB — no tokenizer state object, the
    corpus-wide merge is one codegen'd string op over the word DICT
    (vocabulary-bounded; the corpus is never touched after the dict
    scan). The chosen pair rides as a one-row broadcast."""
    seg0 = _bpe_initial_segmentation(spark, sf_dir)
    c0 = _bpe_pair_counts(seg0)
    top1 = c0.orderBy(F.col("c").desc(), "s1", "s2").limit(1) \
        .select(F.col("s1").alias("m1"), F.col("s2").alias("m2"))
    seg1 = _bpe_apply_merge(seg0, top1)
    c1 = _bpe_pair_counts(seg1)
    return (
        c1.crossJoin(F.broadcast(top1))
        .select("s1", "s2", F.col("c").alias("pair_count"),
                F.concat(F.col("m1"), F.col("m2")).alias("merged_symbol"))
        .orderBy(F.col("pair_count").desc(), "s1", "s2").limit(50)
    )


_OOV_SIZES = (100, 500, 1000)


@query(
    "tk_vocab_coverage_oov",
    survey=("TK-vocab",),
    oracle=f"""
        WITH {_WORD_DICT},
        ranked AS (
            SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rnk
            FROM words
        ),
        totals AS (
            SELECT CAST(sum(cnt) AS BIGINT) AS total
            FROM words
        )
    """ + "\nUNION ALL\n".join(f"""
        SELECT CAST({n} AS INT) AS n_vocab,
               CAST(sum(cnt) AS BIGINT) AS covered_tokens,
               (SELECT total FROM totals) AS total_tokens,
               round(1.0 - CAST(sum(cnt) AS DOUBLE)
                     / (SELECT total FROM totals), 6) + 0.0 AS oov_rate
        FROM ranked WHERE rnk <= {n}
    """ for n in _OOV_SIZES),
)
def tk_vocab_coverage_oov(spark, sf_dir):
    """Vocabulary-size → OOV-rate curve: for top-N frequency vocabs
    (N ∈ {_OOV_SIZES}), the fraction of corpus tokens that fall
    outside the vocabulary — the sizing curve every tokenizer design
    starts from (and the reason subword vocabs exist: where this curve
    flattens, bigger word-vocabs stop paying).

    Scale: the curve is computed ENTIRELY on the word dictionary — one
    corpus-scan token count (map-side combined), then a TakeOrdered
    top-1000 (no global sort shuffle) folded per N over the collected
    prefix; the corpus is never rescanned per vocabulary size.
    Integer token counts, one division per N — cross-engine exact."""
    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w").agg(F.count("*").cast("bigint").alias("cnt"))
    )
    top = (
        words.orderBy(F.col("cnt").desc(), F.col("w"))
        .limit(max(_OOV_SIZES))
        .agg(F.collect_list(F.struct(
            (-F.col("cnt")).alias("neg"), "w", "cnt")).alias("arr"),
        )
        .select(F.array_sort("arr").alias("arr"))
    )
    totals = words.agg(F.sum("cnt").cast("bigint").alias("total"))
    curve = top.crossJoin(F.broadcast(totals)).select(
        F.explode(F.array(*[F.lit(n) for n in _OOV_SIZES])).alias("n_vocab"),
        F.col("arr"), F.col("total"))
    covered = F.expr(
        "CAST(aggregate(slice(arr, 1, n_vocab), 0L, (a, x) -> a + x.cnt) "
        "AS BIGINT)")
    return curve.select(
        "n_vocab",
        covered.alias("covered_tokens"),
        F.col("total").alias("total_tokens"),
        (F.round(F.lit(1.0) - covered.cast("double") / F.col("total"), 6)
         + F.lit(0.0)).alias("oov_rate"))


_BPE_ROUNDS = 3


def _bpe_train_oracle(n_rounds: int = _BPE_ROUNDS) -> str:
    """n chained merge rounds in DuckDB: seg_k -> counts_k -> argmax
    top_k -> seg_{k+1}; emits (round, merged_symbol, pair_count)."""
    parts = ["WITH " + _WORD_DICT + r""",
    seg0 AS (
        SELECT w, cnt,
               ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS seg
        FROM words
    )"""]
    for r in range(n_rounds):
        parts.append(f""",
    p{r} AS ({_SEG_PAIRS.format(seg="seg", src=f"seg{r}")}),
    c{r} AS (
        SELECT s1, s2, CAST(sum(cnt) AS BIGINT) AS c
        FROM p{r} GROUP BY s1, s2
    ),
    top{r} AS (
        SELECT s1, s2, c FROM c{r} ORDER BY c DESC, s1, s2 LIMIT 1
    ),
    seg{r + 1} AS (
        SELECT g.w, g.cnt,
               replace(g.seg, ' ' || t.s1 || ' ' || t.s2 || ' ',
                       ' ' || t.s1 || t.s2 || ' ') AS seg
        FROM seg{r} g CROSS JOIN top{r} t
    )""")
    arms = "\n        UNION ALL\n".join(
        f"SELECT CAST({r + 1} AS BIGINT) AS round, s1 || s2 AS "
        f"merged_symbol, c AS pair_count FROM top{r}"
        for r in range(n_rounds))
    parts.append("\n    " + arms)
    return "".join(parts)


@query(
    "tk_bpe_train_rounds",
    survey=("TK-bpe",),
    oracle=_bpe_train_oracle(),
)
def tk_bpe_train_rounds(spark, sf_dir):
    """BPE TRAINING, first {n} merges (Sennrich et al. 2016): iterate
    tk_bpe_merge_round's body — count adjacent symbol pairs, take the
    argmax (ties to the lexicographically smallest pair, the shared
    deterministic rule), apply the merge to every word's segmentation
    — and emit the learned merge table in order. This is the loop the
    single-round query's docstring promises composes into training;
    here it actually composes, with the segmentation persisted per
    round (each round's pair count and the next round's merge both
    read it) and the one-row argmax attached by broadcast.

    100 TB: per round, one aggregate over the VOCABULARY (the corpus
    is touched once, by the word-dict scan), one one-row sort-limit,
    one map-side string replace. Round count is the vocab budget
    (30k in production); the plan stays bounded because each round's
    persist cuts the lineage like iterate() does for graphs."""
    from bdc_collection_builder_spark.functions.persist import (
        tracked_persist,
    )

    learned = []

    def merge_round(seg, r):
        top = (
            _bpe_pair_counts(seg)
            .orderBy(F.col("c").desc(), "s1", "s2").limit(1)
            .select(F.col("s1").alias("m1"), F.col("s2").alias("m2"),
                    F.col("c"))
        )
        top = tracked_persist(top)
        learned.append(top.select(
            F.lit(r + 1).cast("bigint").alias("round"),
            F.concat(F.col("m1"), F.col("m2")).alias("merged_symbol"),
            F.col("c").alias("pair_count")))
        return tracked_persist(
            _bpe_apply_merge(seg, top.select("m1", "m2")))

    # checkpoint_every=0: the per-round persists stand in for
    # truncation, so the jobs stay those of the plain loop
    iterate(tracked_persist(_bpe_initial_segmentation(spark, sf_dir)),
            merge_round, _BPE_ROUNDS, checkpoint_every=0)
    out = learned[0]
    for df in learned[1:]:
        out = out.unionByName(df)
    return out


@query(
    "tk_viterbi_em_counts",
    survey=("TK-unigram", "TK-bpe"),
    oracle=f"""
        WITH RECURSIVE words AS (
            SELECT tok AS w, CAST(count(*) AS BIGINT) AS cnt FROM (
                SELECT unnest(list_filter(
                    regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''
                )) AS tok FROM documents
            ) GROUP BY tok
        ),
        allp AS (
            SELECT substr(w, CAST(i AS INTEGER), CAST(j AS INTEGER))
                       AS piece,
                   cnt
            FROM (
                SELECT w, cnt, i,
                       unnest(generate_series(
                           1, least(4, length(w) - i + 1))) AS j
                FROM (SELECT w, cnt,
                             unnest(generate_series(1, length(w))) AS i
                      FROM words)
            )
        ),
        pc AS (
            SELECT piece, CAST(sum(cnt) AS BIGINT) AS piece_count
            FROM allp GROUP BY piece
        ),
        vocab AS (
            SELECT piece, max(piece_count) AS piece_count FROM (
                SELECT piece, piece_count FROM (
                    SELECT piece, piece_count,
                           row_number() OVER (
                               ORDER BY piece_count DESC, piece) AS rk
                    FROM pc) WHERE rk <= {_VIT_TOP}
                UNION ALL
                SELECT piece, piece_count FROM pc WHERE length(piece) = 1
            ) GROUP BY piece
        ),
        tot AS (SELECT CAST(sum(piece_count) AS DOUBLE) AS z FROM vocab),
        wcap AS (
            SELECT w, cnt, substr(w, 1, {_VIT_CAP}) AS cw,
                   length(substr(w, 1, {_VIT_CAP})) AS l
            FROM words
        ),
        edges AS (
            SELECT x.w, x.i, x.j, x.piece,
                   CAST(v.piece_count AS DOUBLE) / t.z AS pr
            FROM (
                SELECT w, i - 1 AS i, i - 1 + j AS j,
                       substr(cw, CAST(i AS INTEGER), CAST(j AS INTEGER))
                           AS piece
                FROM (
                    SELECT w, cw, i,
                           unnest(generate_series(
                               1, least(4, l - i + 1))) AS j
                    FROM (SELECT w, cw, l,
                                 unnest(generate_series(1, l)) AS i
                          FROM wcap)
                )
            ) x JOIN vocab v ON v.piece = x.piece CROSS JOIN tot t
        ),
        dp AS (
            SELECT w, l, 0 AS step, [CAST(1.0 AS DOUBLE)] AS best
            FROM wcap
            UNION ALL
            SELECT d.w, d.l, d.step + 1,
                   list_append(d.best, (
                       SELECT max(d.best[e.i + 1] * e.pr)
                       FROM edges e
                       WHERE e.w = d.w AND e.j = d.step + 1))
            FROM dp d WHERE d.step < d.l
        ),
        best AS (SELECT w, l, best FROM dp WHERE step = l),
        pred AS (
            SELECT w, j, i, piece FROM (
                SELECT e.w, e.j, e.i, e.piece,
                       row_number() OVER (
                           PARTITION BY e.w, e.j
                           ORDER BY b.best[e.i + 1] * e.pr DESC, e.i
                       ) AS rk
                FROM edges e JOIN best b ON b.w = e.w
            ) WHERE rk = 1
        ),
        walk (w, pos, piece) AS (
            SELECT w, l, CAST(NULL AS VARCHAR) FROM best
            UNION ALL
            SELECT k.w, p.i, p.piece
            FROM walk k JOIN pred p ON p.w = k.w AND p.j = k.pos
            WHERE k.pos > 0
        )
        SELECT k.piece,
               CAST(sum(c.cnt) AS BIGINT) AS viterbi_count,
               CAST(sum(c.cnt) AS DOUBLE) / (
                   SELECT sum(cnt * length(substr(w, 1, {_VIT_CAP}))) * 0
                        + (SELECT CAST(sum(x.n) AS DOUBLE) FROM (
                             SELECT sum(cnt) AS n FROM (
                               SELECT k2.w, count(*) * any_value(c2.cnt)
                                   AS cnt
                               FROM walk k2 JOIN wcap c2 ON c2.w = k2.w
                               WHERE k2.piece IS NOT NULL
                               GROUP BY k2.w
                             )
                           ) x)
                   FROM wcap
               ) AS em_prob
        FROM walk k JOIN wcap c ON c.w = k.w
        WHERE k.piece IS NOT NULL
        GROUP BY k.piece
        ORDER BY viterbi_count DESC, piece
        LIMIT 50
    """,
)
def tk_viterbi_em_counts(spark, sf_dir):
    """Hard-EM (Viterbi-EM) expected piece counts — one full E-step of
    SentencePiece unigram training under BEST-PATH responsibility:
    each dictionary word is segmented by its Viterbi path (the decode
    tk_unigram_viterbi scores), every path piece earns the word's
    corpus count, and the M-step probability is count/total. Because
    responsibilities are 0/1, every count is an exact int64 — no
    float accumulates ANYWHERE (the soft-EM variant would need the
    reproducible-reduction quantization; the hard variant needs
    nothing), and the single em_prob division happens per output row.

    The decode is fully relational — no per-word backtrack loop: the
    DP's best[] array joins back to the edge table, a window picks
    each position's argmax predecessor (ties: smallest start — the
    deterministic rule both engines share), and the path materializes
    by walking pred {_VIT_CAP} bounded rounds (word length cap). The
    oracle replays the walk as a recursive CTE.

    100 TB: everything is vocabulary-bounded (word dict, edge table,
    {_VIT_CAP} walk rounds of |dict|-row joins); the corpus is
    touched once by the word-count scan."""
    from bdc_collection_builder_spark.extensions.similarity import (
        _cached_expr,
    )
    from bdc_collection_builder_spark.extensions.text import tokens
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w").agg(F.count("*").alias("cnt"))
    )
    allp = (
        words.select(
            "w", "cnt",
            F.explode(F.sequence(F.lit(1), F.length("w"))).alias("i"))
        .select(
            "w", "cnt", "i",
            F.explode(F.sequence(
                F.lit(1),
                F.least(F.lit(4), F.length("w") - F.col("i") + 1)))
            .alias("j"))
        .select(F.col("w").substr(F.col("i"), F.col("j")).alias("piece"),
                "cnt")
    )
    pc = allp.groupBy("piece").agg(
        F.sum("cnt").cast("bigint").alias("piece_count"))
    top = (pc.orderBy(F.col("piece_count").desc(), "piece")
           .limit(_VIT_TOP))
    singles = pc.filter(F.length("piece") == 1)
    vocab = top.unionByName(singles).distinct()
    tot = vocab.agg(F.sum("piece_count").cast("double").alias("z"))

    wcap = (words.select(
        "w", "cnt", F.col("w").substr(F.lit(1), F.lit(_VIT_CAP)).alias("cw")
    ).withColumn("l", F.length("cw"))
    ).localCheckpoint(eager=True)
    edges = (
        wcap.select(
            "w", "cw", "l",
            F.explode(F.sequence(F.lit(1), F.col("l"))).alias("i"))
        .select(
            "w", "cw", "i",
            F.explode(F.sequence(
                F.lit(1),
                F.least(F.lit(4), F.col("l") - F.col("i") + 1))).alias("j"))
        .select(
            "w", (F.col("i") - 1).alias("ei"),
            (F.col("i") - 1 + F.col("j")).alias("ej"),
            F.col("cw").substr(F.col("i"), F.col("j")).alias("piece"))
        .join(F.broadcast(vocab), "piece")
        .crossJoin(F.broadcast(tot))
        .select("w", "ei", "ej", "piece",
                (F.col("piece_count").cast("double") / F.col("z"))
                .alias("pr"))
    ).localCheckpoint(eager=True)
    es = edges.groupBy("w").agg(
        F.array_sort(F.collect_list(
            F.struct(F.col("ej").alias("j"), F.col("ei").alias("i"),
                     F.col("pr").alias("pr")))).alias("es"))
    best_sql = """
        aggregate(
            es,
            transform(sequence(0, l),
                      p -> IF(p = 0, CAST(1.0 AS DOUBLE),
                              CAST(0.0 AS DOUBLE))),
            (acc, e) -> transform(sequence(0, l),
                p -> IF(p = e.j,
                        greatest(acc[p], acc[e.i] * e.pr),
                        acc[p])))
    """
    # localCheckpoint(eager) rather than lazy persist: the walk below
    # re-reads best/pred from EVERY round's branch, and the final
    # 16-branch union would otherwise race 16 copies of this whole
    # upstream plan (observed: multi-minute runtime from duplicated
    # persist computation). Materializing here cuts the lineage once.
    best = wcap.join(es, "w").select(
        "w", "l", _cached_expr(best_sql).alias("best")
    ).localCheckpoint(eager=True)
    val = (F.element_at(F.col("best"), F.col("ei").cast("int") + 1)
           * F.col("pr"))
    wp = Window.partitionBy("w", "ej").orderBy(
        val.desc(), F.asc("ei"))
    pred = (
        edges.join(best.select("w", "best"), "w")
        .withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") == 1)
        .select(F.col("w").alias("pw"), "ej", "ei", "piece")
    )
    # The backtrack used to run _VIT_CAP sequential rounds, each a
    # checkpointed |dict|-row join — 16 barrier stages whose wall is
    # scheduling, not data (guide §2.4: remove shuffles outright). The
    # per-word predecessor rows instead fold into ONE map (ej ->
    # (ei, piece); keys are unique by the rk = 1 argmax) and the walk
    # happens map-side inside a single bounded aggregate() HOF: start
    # at pos = l, follow the map up to _VIT_CAP steps (piece lengths
    # are >= 1, so a capped word finishes in <= l <= _VIT_CAP steps),
    # appending each step's piece. A missing map entry stops the walk
    # exactly where the old inner join dropped the row. Identical
    # pieces, identical multiplicities; one groupBy + one join replace
    # 16 join+checkpoint rounds.
    note_rounds(1)
    pm = pred.groupBy("pw").agg(
        F.map_from_entries(F.collect_list(F.struct(
            F.col("ej").cast("int").alias("k"),
            F.struct(F.col("ei").cast("int").alias("ei"),
                     F.col("piece").alias("piece")).alias("v"))))
        .alias("pm"))
    walk_sql = f"""
        aggregate(
            sequence(1, {_VIT_CAP}),
            named_struct('pos', CAST(l AS INT),
                         'ps', CAST(array() AS ARRAY<STRING>)),
            (acc, x) -> IF(acc.pos > 0
                           AND element_at(pm, acc.pos) IS NOT NULL,
                named_struct(
                    'pos', element_at(pm, acc.pos).ei,
                    'ps', array_append(acc.ps,
                                       element_at(pm, acc.pos).piece)),
                acc),
            acc -> acc.ps)
    """
    path = (
        best.select("w", "l")
        .join(pm, F.col("w") == F.col("pw"))
        .select("w", F.explode(F.expr(walk_sql)).alias("piece"))
    )
    counted = (
        path.join(wcap.select("w", "cnt"), "w")
        .groupBy("piece")
        .agg(F.sum("cnt").cast("bigint").alias("viterbi_count"))
    )
    total = counted.agg(
        F.sum("viterbi_count").cast("double").alias("zt"))
    return (
        counted.crossJoin(F.broadcast(total))
        .select("piece", "viterbi_count",
                (F.col("viterbi_count").cast("double") / F.col("zt"))
                .alias("em_prob"))
        .orderBy(F.desc("viterbi_count"), "piece")
        .limit(50)
    )
