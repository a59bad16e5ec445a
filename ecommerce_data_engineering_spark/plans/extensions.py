"""LLM-data-pipeline extension queries: dedup, similarity search,
text analysis, multimodal plumbing (BASELINE.json north-star; not in
the reference — SURVEY.md §7.2.7).

Every stage that is SQL-expressible carries a full DuckDB oracle —
including MinHash LSH and SimHash, which is only possible because all
hashing is md5-based (functions/hashing.py).  The oracle SQL for the
multi-stage operators is generated from the same knobs as the Spark
plan so the two can't drift.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as X
from ..sources import load
from ..functions.rounding import half_up_sql, pround, pround_sql
from ..functions.tokens import (
    bpe_token_count_sql, content_key, content_key_sql, content_text_sql,
    ngrams_sql, words_sql, ws_words_sql)
from .registry import query

# ---------------------------------------------------------------- knobs
NUM_HASHES = 8
BANDS = 4
MAX_BUCKET = 50
JACCARD_T = 0.3
# 32 nibbles / hamming ≤ 1: the fixture corpus is homogeneous word
# salad (tiny shared vocabulary), so narrower fingerprints collide on
# ~half of all pairs — 32/1 keeps near-dup output meaningful (~4k of
# 125k possible pairs at sf0.01).
SIMHASH_NIBBLES = 32
SIMHASH_MAX_HAMMING = 1
SIMHASH_CHUNKS = 4
ANN_QUERY_LIMIT = 50   # vec_id < 50 are the query vectors
ANN_K = 5
ANN_PLANES = 6
EMB_DIM = 64


def _shingles_cte(n: int) -> str:
    """DuckDB CTEs ``words`` (doc_id, w) and ``sh`` (doc_id, shingle):
    the distinct word ``n``-gram shingles per doc, the twin of
    operators/dedup.word_shingles."""
    return f"""
    words AS (
      SELECT doc_id, {words_sql('text')} AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, unnest({ngrams_sql('w', n)}) AS shingle
      FROM words
    )"""


# ------------------------------------------------------------------ dedup

@query(
    "dedup_exact",
    oracle=f"""
    SELECT {content_key_sql('text')} AS content_key,
           min(doc_id) AS keeper_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
    covers=("EXT-dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized content; keeper = min id.
    The shuffle moves 32-byte hashes, not document bodies — the detail
    that matters at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    return D.exact_dedup(docs, "text", "doc_id")


def _jaccard_oracle(cand: str, *ctes: str) -> str:
    """The oracle twin of operators/dedup.jaccard_verify, shared by
    every shingle-Jaccard oracle: ``cand`` selects the distinct
    (id_a < id_b) candidate pairs over the word-3gram shingles ``sh``
    and the search's own ``ctes``; then shingle-set sizes,
    intersections, and the pairs whose rounded Jaccard is at least
    ``JACCARD_T``."""
    return f"""
    WITH {", ".join((_shingles_cte(3), *ctes))},
    cand AS ({cand}
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY c.id_a, c.id_b
    ), scored AS (
      SELECT i.id_a, i.id_b,
             {pround_sql("i.n_common / (na.n + nb.n - i.n_common)", 4)}
               AS jaccard
      FROM inter i
      JOIN sizes na ON na.doc_id = i.id_a
      JOIN sizes nb ON nb.doc_id = i.id_b
    )
    SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= {JACCARD_T}
    """


def _minhash_oracle() -> str:
    from ..functions.hashing import MINHASH_P, minhash_params

    base = "CAST(('0x' || substring(md5(shingle), 1, 7)) AS BIGINT)"
    mh_cols = ",\n        ".join(
        f"min(({base} * {a} + {b}) % {MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(NUM_HASHES)))
    rows = NUM_HASHES // BANDS
    band_pieces = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS bucket FROM mh".format(
            b=b,
            key=" || '|' || ".join(
                f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)),
        )
        for b in range(BANDS)
    )
    return _jaccard_oracle(f"""
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sized a JOIN sized b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < b.doc_id AND a.bsize <= {MAX_BUCKET}
        AND b.bsize <= {MAX_BUCKET}""", f"""mh AS (
      SELECT doc_id,
        {mh_cols}
      FROM sh GROUP BY doc_id
    ), banded AS (
      {band_pieces}
    ), sized AS (
      SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsize FROM banded
    )""")


@query("dedup_minhash_lsh", oracle=_minhash_oracle(), covers=("EXT-dedup",),
       bench=True)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: word-3gram shingles → 8-wide md5 MinHash →
    4 bands × 2 rows LSH bucketing → exact Jaccard verification of
    candidates (≥ 0.3).

    Scale shape: explode (map-side) → 1 groupBy for signatures →
    1 groupBy per band for buckets → candidate self-join bounded by
    ``MAX_BUCKET`` (the skew guard) → verification join linear in
    candidates.  Never all-pairs."""
    docs = load(spark, sf_dir, "documents")
    # shingles feed three consumers (signatures, sizes, intersection
    # join) — persist so the explode+distinct shuffle runs once.
    # Cache lifecycle: Spark's CacheManager dedups identical plans, so
    # re-invoking this query reuses ONE cached entry per (session,
    # sf_dir) instead of accumulating (pinned by
    # test_minhash_repeat_invocations_reuse_one_cache_entry); at 100 TB
    # the equivalent is materializing the shingle table to storage once
    # per corpus snapshot.
    sh = D.word_shingles(docs, "text", "doc_id").persist()
    sig = D.minhash_signatures(sh, "doc_id", NUM_HASHES)
    cand = D.lsh_candidate_pairs(sig, "doc_id", NUM_HASHES, BANDS, MAX_BUCKET)
    return D.jaccard_verify(cand, sh, "doc_id", JACCARD_T)


# the semantics of "all pairs with Jaccard >= t" spelled exhaustively —
# shared by the brute-force query AND (as the oracle) by the
# prefix-filtered one, whose whole guarantee is returning the
# identical result with far fewer candidates
_JACCARD_ALL_PAIRS_SQL = _jaccard_oracle("""
      SELECT DISTINCT sa.doc_id AS id_a, sb.doc_id AS id_b
      FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id""")


@query(
    "dedup_ngram_jaccard",
    oracle=_JACCARD_ALL_PAIRS_SQL,
    covers=("EXT-dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive n-gram Jaccard: candidates = any pair sharing a
    shingle (inverted-index join).  The exact-recall baseline that
    dedup_minhash_lsh approximates — quadratic in hot shingles, so LSH
    is the scale path; this one exists to measure LSH recall."""
    docs = load(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, "text", "doc_id")
    cand = (D._pairs_sharing(sh, ["shingle"], "doc_id")
            .select("id_a", "id_b").distinct())
    return D.jaccard_verify(cand, sh, "doc_id", JACCARD_T)


@query(
    "dedup_jaccard_prefix",
    oracle=_JACCARD_ALL_PAIRS_SQL,   # EXHAUSTIVE semantics on purpose:
    # prefix filtering must return the identical pair set, so the
    # driver hash IS the proof that no qualifying pair was pruned
    covers=("EXT-dedup",),
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs Jaccard via PREFIX FILTERING
    (:func:`..operators.dedup.prefix_filter_candidates`, the
    SSJoin/PPJoin family) — the exact tier that scales: same result as
    the exhaustive inverted-index join (the oracle is the exhaustive
    SQL), but the self-join runs only over each document's rarest
    ``|X| − ⌈t·|X|⌉ + 1`` shingles, so corpus-hot shingles generate no
    candidates.  Candidate-volume reduction vs exhaustive is asserted
    in tests/test_dedup_prefix.py."""
    docs = load(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, "text", "doc_id")
    cand = D.prefix_filter_candidates(sh, "doc_id", JACCARD_T)
    return D.jaccard_verify(cand, sh, "doc_id", JACCARD_T)


def _simhash_fp_cte() -> str:
    return f"""
    tok AS (
      SELECT DISTINCT doc_id,
             unnest({words_sql('text')}) AS token
      FROM documents
    ), votes AS (
      SELECT doc_id, unnest(generate_series(1, {SIMHASH_NIBBLES})) AS pos,
             md5(token) AS h
      FROM tok
    ), bits AS (
      SELECT doc_id, pos,
             CASE WHEN CAST(sum(strpos('0123456789abcdef', substr(h, pos, 1)) - 1) AS DOUBLE)
                       / count(*) > 7.5
                  THEN '1' ELSE '0' END AS bit
      FROM votes GROUP BY doc_id, pos
    ), fp AS (
      SELECT doc_id, string_agg(bit, '' ORDER BY pos) AS simhash
      FROM bits GROUP BY doc_id
    )
"""


@query(
    "dedup_simhash_fingerprints",
    oracle=f"WITH {_simhash_fp_cte()} SELECT doc_id, simhash FROM fp",
    covers=("EXT-dedup",),
)
def dedup_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint per document (nibble-vote over md5 token
    hashes — operators/dedup.simhash)."""
    docs = load(spark, sf_dir, "documents")
    return D.simhash(docs, "text", "doc_id", SIMHASH_NIBBLES)


def _simhash_pairs_oracle() -> str:
    clen = SIMHASH_NIBBLES // SIMHASH_CHUNKS
    blocked = "\n      UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS chunk, "
        f"substr(simhash, {c * clen + 1}, {clen}) AS ckey FROM fp"
        for c in range(SIMHASH_CHUNKS)
    )
    hamming = " + ".join(
        f"(CASE WHEN substr(sh_a, {i}, 1) <> substr(sh_b, {i}, 1) THEN 1 ELSE 0 END)"
        for i in range(1, SIMHASH_NIBBLES + 1)
    )
    # The Hamming predicate is applied INSIDE the candidate scan,
    # BEFORE the DISTINCT (filter-past-distinct commutes, so the
    # result set is identical): the band self-join's raw candidate
    # volume is quadratic in the hottest (chunk, ckey) bucket, and
    # DISTINCT-materializing hundreds of millions of 32-char pairs
    # OOMed DuckDB on the r9 16x fixture — post-filter, the distinct
    # set is just the true near-dup pairs.
    return f"""
    WITH {_simhash_fp_cte()},
    blocked AS (
      {blocked}
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM blocked a JOIN blocked b
        ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.doc_id < b.doc_id
    ), pairs AS (
      SELECT DISTINCT id_a, id_b, sh_a, sh_b
      FROM cand
      WHERE {hamming} <= {SIMHASH_MAX_HAMMING}
    )
    SELECT id_a, id_b, {hamming} AS hamming
    FROM pairs
    """


@query("dedup_simhash_pairs", oracle=_simhash_pairs_oracle(),
       covers=("EXT-dedup",))
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: pigeonhole chunk blocking
    (``SIMHASH_CHUNKS`` chunks) + positional hamming verification (at
    most ``SIMHASH_MAX_HAMMING`` of the ``SIMHASH_NIBBLES`` bits)."""
    docs = load(spark, sf_dir, "documents")
    fp = D.simhash(docs, "text", "doc_id", SIMHASH_NIBBLES)
    return (D.simhash_near_dups(fp, "doc_id", SIMHASH_NIBBLES,
                                SIMHASH_MAX_HAMMING, SIMHASH_CHUNKS)
            .withColumn("hamming", F.col("hamming").cast("int")))


# ------------------------------------------------------- similarity search

_VEC_CTE = """
    v AS (
      SELECT vec_id,
             unnest(generate_series(1, len(embedding))) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), norms AS (
      -- HAVING drops zero-norm vectors: cosine against them is 0/0
      -- (NaN here, NULL in Spark, ranked oppositely) — the Spark twin
      -- excludes them in operators/similarity.with_norm, and every
      -- cosine oracle below inner-joins norms, so both engines agree
      SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY vec_id
      HAVING sum(x * x) > 0
    )"""


def _topk_oracle(cand: str, *ctes: str) -> str:
    """The oracle twin of operators/similarity._score_and_rank, shared
    by every cosine top-k oracle: ``cand`` selects the distinct
    (query_id, neighbor_id) candidate pairs over ``_VEC_CTE`` and the
    search's own ``ctes``; then exact dot products, the rounded
    cosine, and the top ``ANN_K`` per query by cosine descending, then
    neighbor_id."""
    return f"""
    WITH {", ".join((_VEC_CTE, *ctes))},
    cand AS ({cand}
    ), dots AS (
      SELECT cand.query_id, cand.neighbor_id, sum(a.x * b.x) AS dot
      FROM cand
      JOIN v a ON a.vec_id = cand.query_id
      JOIN v b ON b.vec_id = cand.neighbor_id AND b.i = a.i
      GROUP BY 1, 2
    ), sims AS (
      SELECT d.query_id, d.neighbor_id,
             {pround_sql('d.dot / (nq.nrm * nc.nrm)', 6)} AS cosine
      FROM dots d
      JOIN norms nq ON d.query_id = nq.vec_id
      JOIN norms nc ON d.neighbor_id = nc.vec_id
    ), ranked AS (
      SELECT *, row_number() OVER
        (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
      FROM sims
    )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= {ANN_K}
    """


@query(
    "embedding_cosine_topk",
    oracle=_topk_oracle(f"""
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM norms q JOIN norms c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {ANN_QUERY_LIMIT}"""),
    covers=("EXT-similarity",),
    # bench=False since r7 (VERDICT r6 #2): the candidate generator is
    # deliberately O(|Q|·|C|) — it exists as the exact-recall yardstick
    # the ANN variants are measured against (scripts/ann_recall.py →
    # RECALL.json), and at 64x it was 56.5 s of a 105.7 s bench total,
    # so leaving it in the headline set made the scaled bench measure
    # the yardstick instead of the engine.  Still registered, oracled,
    # driver-verified (r1-r5) and swept at 4x/seeds/skew.
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the exact baseline): query set ×
    corpus, JVM-side zip_with/aggregate dot products, per-query window
    top-k.  Right answer when |Q| is small; the LSH variant below is
    the corpus×corpus scale path."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERY_LIMIT)
    return S.cosine_topk(emb, queries, ANN_K)


ANN_TABLES = 2


def _lsh_oracle(num_tables: int, probe_hamming: int) -> str:
    """Oracle twin of operators/similarity.lsh_cosine_topk at
    ``ANN_PLANES`` planes per table: every vector's sign bit per
    (table, plane) over the same precomputed ±1 weights
    (rademacher_weights — the md5 derivation both engines used to
    recompute per row), its bucket per table, and each query's probe
    buckets — its own, plus, at ``probe_hamming`` 1, every bucket one
    bit flip away.  Candidate = a corpus vector in a probed bucket of
    the same table."""
    from ..operators.similarity import rademacher_weights

    assert probe_hamming in (0, 1), probe_hamming
    ws = rademacher_weights(num_tables * ANN_PLANES, EMB_DIM)
    rows = ", ".join(
        f"({t}, {p}, [{', '.join(str(w) for w in ws[t * ANN_PLANES + p])}]"
        f"::DOUBLE[])"
        for t in range(num_tables) for p in range(ANN_PLANES))
    flips = f"""
      UNION
      SELECT qb.vec_id, qb.tbl,
             substr(qb.bucket, 1, fp.p)
               || (CASE WHEN substr(qb.bucket, fp.p + 1, 1) = '1'
                        THEN '0' ELSE '1' END)
               || substr(qb.bucket, fp.p + 2) AS bucket
      FROM qb CROSS JOIN
           (SELECT unnest(generate_series(0, {ANN_PLANES - 1})) AS p) fp"""
    return _topk_oracle("""
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM probes q JOIN buckets c
        ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.vec_id <> c.vec_id""",
        f"""planes AS (SELECT * FROM (VALUES {rows}) AS t(tbl, p, w)),
    sb AS (
      SELECT v.vec_id, planes.tbl, planes.p,
             CASE WHEN {pround_sql('sum(v.x * planes.w[v.i])', 9)} > 0
                  THEN '1' ELSE '0' END AS bit
      FROM v CROSS JOIN planes
      GROUP BY v.vec_id, planes.tbl, planes.p
    ), buckets AS (
      SELECT vec_id, tbl, string_agg(bit, '' ORDER BY p) AS bucket
      FROM sb GROUP BY vec_id, tbl
    ),
    qb AS (SELECT * FROM buckets WHERE vec_id < {ANN_QUERY_LIMIT}),
    probes AS (
      SELECT vec_id, tbl, bucket FROM qb{flips if probe_hamming else ""}
    )""")


@query("embedding_ann_lsh", oracle=_lsh_oracle(1, 0), covers=("EXT-similarity",),
       bench=True)
def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane sign-LSH: md5-derived ±1
    planes (shared with the oracle), bucket on the 6-bit signature,
    exact cosine within buckets only.  Candidate volume drops
    ~2^planes; recall tunes with plane count / multi-probe."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERY_LIMIT)
    return S.lsh_cosine_topk(emb, queries, ANN_K, EMB_DIM, ANN_PLANES)


@query("embedding_ann_lsh_multitable", oracle=_lsh_oracle(ANN_TABLES, 0),
       covers=("EXT-similarity",))
def embedding_ann_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH (L=2 independent hyperplane sets): the
    recall lever orthogonal to multi-probe — a near neighbor only has
    to share a bucket in ONE table.  Table 0's planes are
    embedding_ann_lsh's, so its candidate set contains the
    single-table one (recall dominance property-tested).  The corpus is
    scanned once; candidate volume grows linearly in L."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERY_LIMIT)
    return S.lsh_cosine_topk(emb, queries, ANN_K, EMB_DIM, ANN_PLANES,
                             num_tables=ANN_TABLES)


@query("embedding_ann_lsh_multiprobe", oracle=_lsh_oracle(1, 1),
       covers=("EXT-similarity",))
def embedding_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH (the production recall knob): every query
    additionally probes the H buckets at Hamming distance 1 from its
    signature, recovering neighbors that fell just across one
    hyperplane.  Probe fan-out is query-side only — the corpus stays
    bucketed once, so recall rises without a second corpus pass or
    extra tables."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERY_LIMIT)
    return S.lsh_cosine_topk(emb, queries, ANN_K, EMB_DIM, ANN_PLANES,
                             probe_hamming=1)


# ------------------------------------------------------------ text analysis

_LANGS = ("de", "en", "es", "fr", "zh")
_SW_SQL = {
    "de": "['der','die','und','das','ist']",
    "en": "['the','and','of','to','a']",
    "es": "['el','la','de','que','y']",
    "fr": "['le','les','et','des','un']",
    "zh": "['的','是','在','了','我']",
}


def _lang_id_oracle() -> str:
    # zh mirrors operators/text.stopword_hits: stopword CHARACTERS on
    # the raw text (CJK is unsegmented; the Latin tokenizer deletes it)
    zh_cls = "[的是在了我]"
    hits = ",\n             ".join(
        (f"length(text) - length(regexp_replace(text, '{zh_cls}', '', 'g'))"
         f" AS h_{l}") if l == "zh" else
        f"len(list_filter(w, x -> list_contains({_SW_SQL[l]}, x))) AS h_{l}"
        for l in _LANGS)
    m = "greatest(" + ", ".join(f"h_{l}" for l in _LANGS) + ")"
    chain = "\n             ".join(
        f"WHEN h_{l} = {m} THEN '{l}'" for l in _LANGS)
    return f"""
    WITH words AS (
      SELECT doc_id, lang, text, {words_sql('text')} AS w FROM documents
    ), hits AS (
      SELECT doc_id, lang,
             {hits}
      FROM words
    )
    SELECT doc_id, lang,
           CASE WHEN {m} <= 0 THEN 'und'
             {chain}
             ELSE 'und' END AS predicted_lang
    FROM hits
    """


@query("text_language_id", oracle=_lang_id_oracle(), covers=("EXT-text",))
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (operators/text.language_id).
    Fixture lang labels are synthetic, so the check is computational
    parity, not accuracy."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang",
        X.language_id(F.col("text")).alias("predicted_lang"),
    )


def _quality_sql(docs: str) -> str:
    """DuckDB twin of operators/text.quality_score over the rows of
    ``docs`` (a relation with a ``text`` column): every column of
    ``docs`` plus the words array ``w``, ``punct_ratio`` and
    ``quality_score``."""
    punct = pround_sql("length(regexp_replace(text, '[^.!?,;:]', '', 'g'))"
                       " / greatest(length(text), 1)", 4)
    score = pround_sql("(least(len(w) / 100.0, 1.0)"
                       " + len(list_distinct(w)) / greatest(len(w), 1)"
                       " + 1.0 - least(punct_ratio * 10, 1.0)) / 3.0", 4)
    return f"""
      SELECT *, {score} AS quality_score FROM (
        SELECT *, {words_sql('text')} AS w, {punct} AS punct_ratio
        FROM {docs})"""


@query(
    "text_quality_scores",
    oracle=f"""
    SELECT doc_id, len(w) AS n_words, punct_ratio, quality_score
    FROM ({_quality_sql("documents")})
    """,
    covers=("EXT-text",),
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training quality heuristics: saturating length score +
    lexical diversity + punctuation sanity (operators/text.quality_score)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.word_count(F.col("text")).cast("bigint").alias("n_words"),
        X.punct_ratio(F.col("text")).alias("punct_ratio"),
        X.quality_score(F.col("text")).alias("quality_score"),
    )


@query(
    "text_token_counts",
    oracle=f"""
    SELECT doc_id,
           len({ws_words_sql('text')}) AS ws_tokens,
           {bpe_token_count_sql('text')} AS bpe_ish_tokens
    FROM documents
    """,
    covers=("EXT-text",),
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts (operators/text.token_counts)."""
    docs = load(spark, sf_dir, "documents")
    return X.token_counts(docs, "text", "doc_id")


@query(
    "text_fingerprints",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {content_key_sql('text')} AS content_md5,
             {content_text_sql('text')} AS t
      FROM documents)
    SELECT doc_id,
           content_md5,
           list_aggregate(
             list_transform(generate_series(1, greatest(
                              length(t) - {X.FINGERPRINT_GRAM - 1}, 1)),
                            i -> md5(substr(t, i, {X.FINGERPRINT_GRAM}))),
             'min') AS winnow_fp
    FROM base
    """,
    covers=("EXT-text",),
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content md5 + winnowing-style min-hash over rolling char n-grams
    (operators/text.fingerprints)."""
    docs = load(spark, sf_dir, "documents")
    return X.fingerprints(docs, "text", "doc_id")


@query(
    "doc_stats",
    oracle=f"""
    SELECT lang, source, count(*) AS n_docs,
           {pround_sql('CAST(sum(n_chars) AS DOUBLE) / count(n_chars)')} AS avg_chars,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang, source
    """,
    covers=("A1", "EXT-text"),
)
def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus census per (lang, source)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            pround(F.sum("n_chars").cast("double") / F.count("n_chars"), 2)
             .alias("avg_chars"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# -------------------------------------------------------------- multimodal

@query(
    "multimodal_manifest",
    oracle="""
    SELECT doc_id,
           'text' AS media_kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5,
           source, lang
    FROM documents
    """,
    covers=("EXT-multimodal",),
)
def multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload manifest: media as opaque bytes + typed metadata
    (operators/multimodal.to_media_table).  md5 over the raw payload
    bytes proves the binary column round-trips exactly."""
    docs = load(spark, sf_dir, "documents")
    media = M.to_media_table(docs)
    return media.select(
        "doc_id", "media_kind",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
        F.col("meta.source").alias("source"),
        F.col("meta.lang").alias("lang"),
    )


@query(
    "multimodal_decode_stub",
    oracle="""
    SELECT doc_id,
           'text' AS media_kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS checksum,
           CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
           CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height
    FROM documents
    """,
    covers=("EXT-multimodal",),
)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas pseudo-decode over binary payloads
    (operators/multimodal.decode_media, stub path) — the smoke check
    for the Arrow plumbing on payloads with no decodable format (raw
    text bytes here).  The REAL codec path is `multimodal_decode` /
    `multimodal_audio_decode` (struct-level BMP/WAV)."""
    docs = load(spark, sf_dir, "documents")
    return M.decode_media(M.to_media_table(docs))


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(unnest(generate_series(0,
                greatest(octet_length(encode(text)) - 1, 0), 64)) AS INT)
             AS frame_offset
    FROM documents
    """,
    covers=("EXT-multimodal",),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out shape: one row per sampled byte offset
    (JVM-side explode — operators/multimodal.frame_sample)."""
    docs = load(spark, sf_dir, "documents")
    return (M.frame_sample(M.to_media_table(docs), 64)
            .withColumn("frame_offset", F.col("frame_offset").cast("int")))


@query(
    "multimodal_decode",
    oracle="""
    SELECT doc_id,
           'image/bmp' AS media_kind,
           CAST(1 + doc_id % 16 AS INT) AS width,
           CAST(1 + doc_id % 12 AS INT) AS height,
           CAST(54 + (1 + doc_id % 12)
                    * (CAST(floor(((1 + doc_id % 16) * 3 + 3) / 4) AS BIGINT) * 4)
                AS BIGINT) AS n_bytes,
           CAST((doc_id % 256) * (1 + doc_id % 16) * (1 + doc_id % 12) * 3
                AS BIGINT) AS pixel_sum
    FROM documents
    """,
    covers=("EXT-multimodal",),
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: a deterministic BMP is encoded per
    document (operators/multimodal.synth_bmp_media), then an Arrow-
    batched mapInPandas kernel parses the actual bytes back
    (functions/codecs.bmp_decode) — width/height come from the BMP
    header, pixel_sum from the decoded pixel array, n_bytes from the
    payload.  The oracle recomputes all four from the BMP spec, so a
    decoder that faked any field would hash-mismatch."""
    docs = load(spark, sf_dir, "documents")
    return M.decode_image(M.synth_bmp_media(docs))


@query(
    "multimodal_audio_decode",
    oracle="""
    SELECT doc_id,
           'audio/wav' AS media_kind,
           CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
           CAST(1 + doc_id % 2 AS INT) AS n_channels,
           CAST(16 + doc_id % 64 AS BIGINT) AS n_frames,
           CAST(44 + 2 * (16 + doc_id % 64) * (1 + doc_id % 2) AS BIGINT) AS n_bytes,
           CAST(((doc_id % 256) - 128) * (16 + doc_id % 64) * (1 + doc_id % 2)
                AS BIGINT) AS sample_sum
    FROM documents
    """,
    covers=("EXT-multimodal",),
)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: PCM-16 WAV encoded per document
    (operators/multimodal.synth_wav_media), parsed back by
    functions/codecs.wav_decode inside mapInPandas — rate/channels/
    frames from the RIFF header, sample_sum from the decoded samples."""
    docs = load(spark, sf_dir, "documents")
    return M.decode_audio(M.synth_wav_media(docs))


# the rounded cosine of an all-pairs oracle row (vectors a, b with
# norms nrm)
_PAIR_COSINE_SQL = pround_sql(
    "list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)", 6)


@query(
    "dedup_embedding_cosine",
    # list_dot_product formulation: bit-identical (post-rounding) to
    # the unnest-self-join dots CTE on every fixture, ~140x cheaper —
    # the all-pairs join stays (exhaustive SEMANTICS on purpose), but
    # the per-pair dot is one native list op instead of 64 aggregated
    # join rows, which is what made the 4x-scale sweep intractable.
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), n AS (
      SELECT vec_id, sqrt(list_dot_product(emb, emb)) AS nrm, emb
      FROM e WHERE list_dot_product(emb, emb) > 0
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_PAIR_COSINE_SQL} AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE {_PAIR_COSINE_SQL} >= 0.4
    """,
    covers=("EXT-dedup", "EXT-similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute-force all-pairs —
    the exact-recall form; the sign-LSH bucketing of embedding_ann_lsh
    is the corpus×corpus scale path).  Threshold 0.4 chosen for the
    fixture corpus, whose max off-diagonal cosine is ~0.51.

    The stream side is repartitioned to the session's shuffle
    parallelism before the broadcast-nested-loop join: the fixture
    parquet is 1-2 row groups, so without it the O(n²·d) pair compute
    lands on TWO tasks regardless of core count (measured at 16×: one
    straggler task carrying ~half of 512M pair-cosines for over an
    hour while 30 cores idled).  One tiny n-row shuffle buys full
    scan-side parallelism — on a cluster, exactly the fan-out the
    quadratic yardstick needs to stay wall-clock-feasible.  The b
    side carries an explicit broadcast hint (r11): with two
    same-sized inputs the BNLJ planner may otherwise pick the
    REPARTITIONED side as the build side and stream the raw scan,
    which silently re-collapses the pair compute onto the file's
    row-group count (measured on a single-file 32k fixture: 4 tasks,
    3 cores busy, >25 min before the kill) — the hint pins the
    stream side to the repartitioned one on every fixture layout."""
    emb = load(spark, sf_dir, "embeddings")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    a = (S.with_norm(emb).repartition(n_part)
         .select(F.col("vec_id").alias("id_a"),
                 F.col("embedding").alias("va"),
                 F.col("norm").alias("na")))
    b = S.with_norm(emb).select(F.col("vec_id").alias("id_b"),
                                F.col("embedding").alias("vb"),
                                F.col("norm").alias("nb"))
    # row-level double casts + multiply-only lambda (r11): HOF lambdas
    # are interpreted per element, so the per-element casts were ~40%
    # of this quadratic kernel's cost; values are bit-identical
    dot = S._dot("va", "vb")
    # SCALE BOUND on the broadcast hint (VERDICT r11 #6 / SCALE.md
    # "Exhaustive yardsticks"): F.broadcast(b) pins the BNLJ build side
    # so AQE's size tie cannot stream the single-file side (the r11
    # 4-task parallelism collapse), but the hinted side is the FULL
    # with_norm'd corpus — it grows O(|corpus|·d) and hits Spark's
    # 8 GB / 512M-row broadcast cap near ~8M 64-dim float vectors
    # (~3 GB framed plus overhead).  That is fine for this operator's
    # role — the deliberately-quadratic exact yardstick, whose
    # O(n²·d) compare dies long before the broadcast does (64× fixture
    # = 640k vectors ≈ 250 MB broadcast; at 8M vectors the pair count
    # is 3.2e13 — not runnable anyway).  The scalable path is
    # embedding_ann_* / dedup_embedding_clusters, never this.
    return (a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", pround(dot / (F.col("na") * F.col("nb")), 6))
            .filter(F.col("cosine") >= 0.4)
            .select("id_a", "id_b", "cosine"))


IVF_K = 16        # centroid count: every (500/16≈31st) vector seeds a cell
IVF_SEED_STEP = 31
ANN_NPROBE = 2

# Production IVF operating point (VERDICT r7 #2, retrained r8 #2):
# chosen from the measured (cell-grid × nprobe × train-iters) sweep in
# evidence/RECALL.json.  Since r9 the quantizer is TRAINED — two
# quantized Lloyd's iterations — which buys recall per probe.  Since
# r11 training runs on a deterministic ~25% HASH-SAMPLE of the corpus
# (the standard IVF recipe: Lloyd's cost is O(k_cells·n_train·d) and
# ANN_SCALING.json measured it dominating the √n-cells ladder at
# 128k/k256; sampling the trainer touches only centroid QUALITY, and
# the corpus/query assignment still scans everything once).  Measured
# at the shipped point (sample 0.25, nprobe 15): recall@5 = 0.848 at
# sf0.1 / 0.852 at 16× / 1.0 clustered vs full-train 0.856/0.86/1.0 —
# one probe more buys back what the 4×-cheaper trainer costs (floor
# 0.8 pinned in tests/test_recall_evidence.py).  On uniform-random
# vectors recall is ≈ linear in candidate fraction (little cluster
# structure to exploit), so the honest default still spends what the
# floor requires; clustered real-world embeddings concentrate
# neighbors in few cells and reach the same recall at far smaller
# nprobe/k_cells — the knobs, not the plan shape, are what a
# deployment retunes.
PROD_IVF_K = 32        # finer cells than IVF_K=16: better recall at the
PROD_SEED_STEP = 15    # same candidate fraction, and the fraction per
PROD_NPROBE = 15       # probe shrinks as k_cells grows with corpus size
PROD_TRAIN_ITERS = 2   # quantized Lloyd's iterations over the seeds
PROD_TRAIN_SAMPLE_FRAC = 0.25  # Lloyd's trains on md5(vec_id) < frac
PROD_TRAIN_SAMPLE_SEED = 0     # (operators/sampling hash gate, r11)


def _cent_cte_sql(ivf_k: int, seed_step: int, train_iters: int = 0,
                  train_sample_sql: str | None = None) -> str:
    """SQL CTE chain ending in ``cent(cluster_id, i, x)`` — the oracle
    twin of :func:`_seed_centroids` optionally refined by
    :func:`_train_centroids`: ``train_iters`` quantized Lloyd's
    iterations, each assigning every vector to its nearest centroid
    (1e-9-rounded L2, cluster_id tiebreak), recomputing per-cell means
    rounded with the shared floor-form at 1e-9, and keeping the
    previous centroid for empty cells.  Because both engines round
    every mean to the same 1e-9 grid, the trained centroids are
    bit-identical and everything downstream stays exact.

    ``train_sample_sql``: predicate over ``vec_id`` restricting the
    TRAINING corpus (sampled Lloyd's, r11) — the assignment and mean
    CTEs read from the filtered ``vs`` instead of ``v``.  The Spark
    twin applies the same operators/sampling hash gate to the frame it
    trains on, so both engines train on the identical row set and the
    trained centroids stay bit-identical."""
    chain = [f"""cent0 AS (
      SELECT CAST(vec_id / {seed_step} AS INT) AS cluster_id, i, x
      FROM v WHERE vec_id % {seed_step} = 0 AND vec_id < {ivf_k * seed_step}
    )"""]
    train_src = "v"
    if train_sample_sql and train_iters:
        chain.append(f"vs AS (SELECT * FROM v WHERE {train_sample_sql})")
        train_src = "vs"
    for t in range(1, train_iters + 1):
        p = t - 1
        chain.append(f"""td{t} AS (
      SELECT v.vec_id, c.cluster_id,
             {pround_sql('sum((v.x - c.x) * (v.x - c.x))', 9)} AS d2
      FROM {train_src} v JOIN cent{p} c ON v.i = c.i GROUP BY 1, 2
    ), ta{t} AS (
      SELECT vec_id, cluster_id FROM (
        SELECT *, row_number() OVER
          (PARTITION BY vec_id ORDER BY d2, cluster_id) AS rn
        FROM td{t})
      WHERE rn = 1
    ), tm{t} AS (
      SELECT a.cluster_id, v.i,
             {pround_sql('avg(v.x)', 9)} AS x
      FROM ta{t} a JOIN {train_src} v ON v.vec_id = a.vec_id GROUP BY 1, 2
    ), cent{t} AS (
      SELECT c.cluster_id, c.i, COALESCE(m.x, c.x) AS x
      FROM cent{p} c LEFT JOIN tm{t} m
        ON m.cluster_id = c.cluster_id AND m.i = c.i
    )""")
    chain.append(f"cent AS (SELECT * FROM cent{train_iters})")
    return ",\n    ".join(chain)


def _ivf_nprobe_oracle(ivf_k: int, seed_step: int, nprobe: int,
                       train_iters: int = 0,
                       train_sample_sql: str | None = None) -> str:
    """Oracle twin of :func:`_ivf_search` over the ``_cent_cte_sql``
    centroids: the corpus stored in its nearest cell, each query
    probing its ``nprobe`` nearest cells, exact cosine, top ``ANN_K``."""
    return _topk_oracle(f"""
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM q_probe q JOIN assigned c
        ON q.cluster_id = c.cluster_id AND q.vec_id <> c.vec_id""",
        _cent_cte_sql(ivf_k, seed_step, train_iters, train_sample_sql),
        f"""dist AS (
      SELECT v.vec_id, c.cluster_id,
             {pround_sql('sum((v.x - c.x) * (v.x - c.x))', 9)} AS d2
      FROM v JOIN cent c ON v.i = c.i
      GROUP BY 1, 2
    ), ranked_cells AS (
      SELECT *, row_number() OVER
        (PARTITION BY vec_id ORDER BY d2, cluster_id) AS rn
      FROM dist
    ),
    assigned AS (SELECT vec_id, cluster_id FROM ranked_cells WHERE rn = 1),
    q_probe AS (
      SELECT vec_id, cluster_id FROM ranked_cells
      WHERE rn <= {nprobe} AND vec_id < {ANN_QUERY_LIMIT}
    )""")


def _seed_centroids(emb: DataFrame, ivf_k: int, seed_step: int) -> DataFrame:
    """Deterministic seed centroid grid: every seed_step-th vec_id."""
    return (emb.filter((F.col("vec_id") % seed_step == 0)
                       & (F.col("vec_id") < ivf_k * seed_step))
            .select((F.col("vec_id") / seed_step).cast("int")
                    .alias("cluster_id"), "embedding"))


def _train_centroids(emb: DataFrame, seeds: DataFrame, n_iter: int,
                     sample_frac: float = 1.0,
                     sample_seed: int = 0) -> DataFrame:
    """The IVF trainer: ``n_iter`` quantized Lloyd's iterations from
    ``seeds``, lazy (operators/similarity.kmeans_refine_lazy).

    ``sample_frac`` < 1 trains on the deterministic hash-sample
    md5(seed‖vec_id) < frac (operators/sampling — the same gate the
    curation family ships) instead of the full corpus: the standard
    IVF recipe, since training cost is O(k_cells·n_train·d) while the
    one-pass corpus/query ASSIGNMENT — which still reads every row —
    is what correctness depends on.  The oracle (``_cent_cte_sql``)
    applies the identical predicate in its training CTEs.

    Quantizing each mean at 1e-9 keeps the trained centroids
    bit-identical across engines and partitionings; ``persist_steps``
    keeps a table consumed more than once (corpus and query
    assignment) from re-expanding the nested training lineage; every
    embeddings fixture is exactly EMB_DIM wide, which the oracle's
    ``_VEC_CTE`` already assumes."""
    from ..operators.sampling import sample_predicate

    train_df = emb if sample_frac >= 1.0 else emb.filter(
        sample_predicate(F.col("vec_id"), sample_frac, seed=sample_seed))
    return S.kmeans_refine_lazy(train_df, seeds, EMB_DIM, n_iter=n_iter,
                                quantize=9, persist_steps=True)


def _prod_centroids(emb: DataFrame) -> DataFrame:
    """The production quantizer: PROD_IVF_K seeds trained on the
    PROD_TRAIN_SAMPLE_FRAC hash-sample."""
    return _train_centroids(emb, _seed_centroids(emb, PROD_IVF_K,
                                                 PROD_SEED_STEP),
                            PROD_TRAIN_ITERS, PROD_TRAIN_SAMPLE_FRAC,
                            PROD_TRAIN_SAMPLE_SEED)


def _ivf_search(emb: DataFrame, centroids: DataFrame,
                nprobe: int) -> DataFrame:
    """The IVF search plan over a centroid table: corpus stored once
    per cell (nprobe=1) → the ``ANN_QUERY_LIMIT`` queries probe their
    ``nprobe`` nearest cells → cosine rank inside the candidate set.
    Probe cost scales with |Q|·(corpus/k_cells)·nprobe, never
    all-pairs.  No pair dedup is needed (or paid for): a corpus vector
    lives in exactly ONE cell, so a (query, neighbor) pair meets at
    most once even when the query probes many cells."""
    # ONE fold of the centroid table shared by both assignments (r12):
    # the two fold trees were identical anyway (runtime plans
    # unchanged); building it once just skips a construction-time
    # py4j chain per extra assignment
    folded = S.fold_centroids(centroids)
    corpus_cells = S.ivf_assign(S.with_norm(emb), prefolded=folded)
    query_cells = S.ivf_assign(
        S.with_norm(emb.filter(F.col("vec_id") < ANN_QUERY_LIMIT)),
        nprobe=nprobe, prefolded=folded)
    return S._score_and_rank(S._side(query_cells, "query", "cluster_id"),
                             S._side(corpus_cells, "neighbor", "cluster_id"),
                             ANN_K)


@query("embedding_ann_ivf",
       oracle=_ivf_nprobe_oracle(IVF_K, IVF_SEED_STEP, 1),
       covers=("EXT-similarity",))
def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantization to K=16 deterministic seed
    centroids (every 31st vector — a k-means iteration would refine
    them; seeds keep the oracle exact), then exact cosine only within
    the query's cell (nprobe=1).  Cost drops from |Q|·|C| to
    |Q|·|C|/K on balanced cells — the IVF scale path next to the
    sign-LSH variant."""
    emb = load(spark, sf_dir, "embeddings")
    return _ivf_search(emb, _seed_centroids(emb, IVF_K, IVF_SEED_STEP), 1)


@query("embedding_ann_ivf_nprobe",
       oracle=_ivf_nprobe_oracle(IVF_K, IVF_SEED_STEP, ANN_NPROBE),
       covers=("EXT-similarity",))
def embedding_ann_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe=2 (the IVF recall knob): each query searches its
    TWO nearest cells while the corpus stays stored once per cell —
    probe cost scales with |Q|·nprobe, never with corpus size.  Recall
    strictly dominates the nprobe=1 variant (candidate superset)."""
    emb = load(spark, sf_dir, "embeddings")
    return _ivf_search(emb, _seed_centroids(emb, IVF_K, IVF_SEED_STEP),
                       ANN_NPROBE)


def _prod_train_sample_sql() -> str:
    from ..operators.sampling import sql_sample_predicate

    return sql_sample_predicate("vec_id", PROD_TRAIN_SAMPLE_FRAC,
                                PROD_TRAIN_SAMPLE_SEED)


@query("embedding_ann_production",
       oracle=_ivf_nprobe_oracle(PROD_IVF_K, PROD_SEED_STEP, PROD_NPROBE,
                                 PROD_TRAIN_ITERS, _prod_train_sample_sql()),
       covers=("EXT-similarity",), bench=True)
def embedding_ann_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOYABLE ANN flagship (VERDICT r7 #2): IVF at the measured
    production operating point — 32 cells TRAINED with two quantized
    Lloyd's iterations over a deterministic ~25% hash-sample of the
    corpus (VERDICT r8 #2; sampled since r11 per VERDICT r10 #1),
    nprobe 15 — instead of a single-lever demo.  Sampling attacks the
    one measured scale frontier left: Lloyd's costs O(k_cells·n_train·d)
    and dominated the √n-cells ladder (ANN_SCALING.json r10: 198 s at
    128k/k256); the corpus/query assignment still scans every row
    exactly once.  Measured recall@5 at the shipped point: 0.848 at
    sf0.1 / 0.852 at 16× / 1.0 clustered — within 0.008 of the
    full-corpus trainer at a 4× smaller training pass, ≥ 0.8 floor
    pinned in tests/test_recall_evidence.py, candidate budget recorded
    per fixture in evidence/RECALL.json.

    The oracle replays the SAME sampled training loop in SQL: the
    training CTEs filter on the identical md5 hash gate
    (operators/sampling.sql_sample_predicate) and per-cell means are
    rounded with the shared floor-form at 1e-9 on both engines
    (operators/similarity._lloyd_step quantize=9), so the trained
    centroids — and therefore every assignment — are bit-identical.

    Same subquadratic shape as every IVF variant here: candidate
    generation is a cell-key equi-join (corpus stored once per cell),
    never all-pairs; raising recall costs probes, not plan changes.
    At 100 TB the sampled trainer is exactly the deployment recipe —
    train on O(k_cells·samples-per-cell) rows, persist the (k·d)-float
    centroid table, reuse it across queries — here it stays inline so
    the registered plan is self-contained and lazy."""
    emb = load(spark, sf_dir, "embeddings")
    return _ivf_search(emb, _prod_centroids(emb), PROD_NPROBE)


# "Newly arrived" slice for the incremental index-maintenance query:
# a deterministic ~14% of vec_ids, mirrored literally in the oracle.
INDEX_NEW_MOD = 7
INDEX_NEW_REM = 3


def _index_delta_oracle() -> str:
    return f"""
    WITH {_VEC_CTE},
    {_cent_cte_sql(PROD_IVF_K, PROD_SEED_STEP, PROD_TRAIN_ITERS,
                   _prod_train_sample_sql())}, dist AS (
      -- join norms: the Spark side assigns with_norm(emb), which
      -- excludes zero-norm/empty vectors — mirror that here
      SELECT v.vec_id, c.cluster_id,
             {pround_sql('sum((v.x - c.x) * (v.x - c.x))', 9)} AS d2
      FROM v
      JOIN norms nm ON v.vec_id = nm.vec_id
      JOIN cent c ON v.i = c.i
      GROUP BY 1, 2
    ), ranked AS (
      SELECT *, row_number() OVER
        (PARTITION BY vec_id ORDER BY d2, cluster_id) AS rn
      FROM dist
    ),
    a AS (SELECT vec_id, cluster_id FROM ranked WHERE rn = 1),
    oldc AS (
      SELECT cluster_id, count(*) AS n_existing FROM a
      WHERE vec_id % {INDEX_NEW_MOD} <> {INDEX_NEW_REM} GROUP BY 1
    ),
    newc AS (
      SELECT cluster_id, count(*) AS n_new FROM a
      WHERE vec_id % {INDEX_NEW_MOD} = {INDEX_NEW_REM} GROUP BY 1
    )
    SELECT COALESCE(o.cluster_id, n.cluster_id) AS cluster_id,
           COALESCE(o.n_existing, 0) AS n_existing,
           COALESCE(n.n_new, 0) AS n_new,
           {pround_sql('''COALESCE(n.n_new, 0) * 1.0
                 / (COALESCE(o.n_existing, 0) + COALESCE(n.n_new, 0))''', 4)}
             AS share_new
    FROM oldc o FULL OUTER JOIN newc n ON o.cluster_id = n.cluster_id
    """


@query("embedding_index_delta", oracle=_index_delta_oracle(),
       covers=("EXT-similarity",))
def embedding_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance — the embedding-store twin of
    the CDC family's O(changes) discipline: newly arrived vectors (a
    deterministic vec_id slice standing in for today's ingest) are
    assigned to the EXISTING production quantizer (``_prod_centroids``,
    the trained PROD_IVF_K-cell table embedding_ann_production
    searches) without touching stored vectors or retraining further,
    and the query emits the per-cell maintenance report (existing
    count, new count, share of cell that is new — the drift signal
    that schedules a retrain).

    At 100 TB this is the path that keeps a daily-growing embedding
    store searchable: assignment costs O(|new| · k_cells · dim) — one
    broadcast cross over the ingest slice only — while the
    existing-side counts come from index metadata (recomputed here so
    the oracle can verify both sides of the report end-to-end).
    Centroids stay fixed, so every previously stored vector's cell is
    unchanged by construction and the search plan
    (embedding_ann_production) needs no replan."""
    emb = load(spark, sf_dir, "embeddings")
    assigned = S.ivf_assign(S.with_norm(emb), _prod_centroids(emb)).select(
        "vec_id", "cluster_id")
    is_new = F.col("vec_id") % INDEX_NEW_MOD == INDEX_NEW_REM
    oldc = (assigned.filter(~is_new).groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n_existing")))
    newc = (assigned.filter(is_new).groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n_new")))
    n_old = F.coalesce(F.col("n_existing"), F.lit(0))
    n_new = F.coalesce(F.col("n_new"), F.lit(0))
    return (oldc.join(newc, "cluster_id", "full")
            .select(F.col("cluster_id"),
                    n_old.alias("n_existing"),
                    n_new.alias("n_new"),
                    pround(n_new * 1.0 / (n_old + n_new), 4)
                    .alias("share_new")))


def _clusters_oracle() -> str:
    # transitive closure by recursive CTE (fine at candidate-pair scale;
    # the Spark side is the one that must scale)
    return f"""
    WITH RECURSIVE pairs AS (
      {_minhash_oracle().strip()}
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS node,
           least(src, min(dst)) AS component
    FROM reach GROUP BY src
    """


@query("dedup_clusters", oracle=_clusters_oracle(), covers=("EXT-dedup",))
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash-LSH verified pairs → connected
    components → canonical (node, component=min reachable id).  The
    Spark side is iterative min-label propagation (scales to graphs
    with billions of edges); the oracle computes the same components
    with a recursive-CTE transitive closure."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    return D.connected_components(pairs)


@query(
    "corpus_dedup_stats",
    oracle=f"""
    WITH {_shingles_cte(3)},
    per_doc AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
    SELECT
      (SELECT count(*) FROM documents) AS n_docs,
      (SELECT count(DISTINCT {content_key_sql('text')}) FROM documents)
        AS n_unique_texts,
      (SELECT {pround_sql(f'''1.0 - count(DISTINCT {content_key_sql('text')})
                                * 1.0 / count(*)''', 4)} FROM documents)
        AS exact_dup_rate,
      (SELECT count(DISTINCT shingle) FROM sh) AS shingle_vocab,
      (SELECT {pround_sql('CAST(sum(n_sh) AS DOUBLE) / count(*)')}
       FROM per_doc) AS avg_shingles_per_doc
    """,
    covers=("A7", "EXT-dedup"),
)
def corpus_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dedup telemetry: the numbers a training-data
    pipeline reports before/after dedup (doc counts, exact-dup rate,
    shingle vocabulary, shingles per doc)."""
    docs = load(spark, sf_dir, "documents")
    sh = D.word_shingles(docs, "text", "doc_id")
    key = content_key(F.col("text"))
    doc_stats_ = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(key).alias("n_unique_texts"),
        pround(1.0 - F.countDistinct(key) / F.count(F.lit(1)), 4)
        .alias("exact_dup_rate"),
    )
    sh_stats = sh.agg(F.countDistinct("shingle").alias("shingle_vocab"))
    per_doc = (sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
               .agg(pround(F.sum("n_sh").cast("double") / F.count(F.lit(1)), 2)
                    .alias("avg_shingles_per_doc")))
    return doc_stats_.crossJoin(sh_stats).crossJoin(per_doc)


QUALITY_KEEP_T = 0.5


@query(
    "corpus_filter_pipeline",
    oracle=f"""
    WITH keepers AS (
      SELECT min(doc_id) AS doc_id FROM documents
      GROUP BY {content_key_sql('text')}
    )
    SELECT doc_id, lang, source, len(w) AS n_tokens, quality_score
    FROM ({_quality_sql("documents JOIN keepers USING (doc_id)")})
    WHERE quality_score >= {QUALITY_KEEP_T}
    """,
    covers=("EXT-text", "EXT-dedup"),
)
def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data filter: exact-dedup keep-list →
    quality scoring → threshold — the standard select-what-to-train-on
    pass, end to end in one declarative plan (each stage is the
    operator tested individually above)."""
    docs = load(spark, sf_dir, "documents")
    keepers = (D.exact_dedup(docs, "text", "doc_id")
               .select(F.col("keeper_id").alias("doc_id")))
    kept = docs.join(keepers, "doc_id", "left_semi")
    return (kept.select(
        "doc_id", "lang", "source",
        X.word_count(F.col("text")).cast("bigint").alias("n_tokens"),
        X.quality_score(F.col("text")).alias("quality_score"))
        .filter(F.col("quality_score") >= QUALITY_KEEP_T))


def _emb_clusters_oracle() -> str:
    # same list_dot_product rewrite as dedup_embedding_cosine's oracle
    # (bit-identical post-rounding, ~140x cheaper all-pairs stage)
    return f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), n AS (
      SELECT vec_id, sqrt(list_dot_product(emb, emb)) AS nrm, emb
      FROM e WHERE list_dot_product(emb, emb) > 0
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE {_PAIR_COSINE_SQL} >= 0.4
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS node, least(src, min(dst)) AS component
    FROM reach GROUP BY src
    """


@query("dedup_embedding_clusters", oracle=_emb_clusters_oracle(),
       covers=("EXT-dedup", "EXT-similarity"))
def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: embedding-cosine near-dup pairs
    (≥ 0.4) → connected components → one canonical representative per
    semantic cluster.  Same iterative operator as dedup_clusters, fed
    by vector similarity instead of lexical overlap."""
    pairs = dedup_embedding_cosine(spark, sf_dir).select("id_a", "id_b")
    return D.connected_components(pairs)


@query(
    "embedding_int8_quantize",
    oracle=f"""
    WITH vx AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), s AS (
      SELECT vec_id, max(abs(x)) / 127.0 AS scale FROM vx GROUP BY vec_id
    ), e AS (
      SELECT v.vec_id, s.scale,
             CASE WHEN s.scale > 0
               THEN abs({half_up_sql('v.x / s.scale')} * s.scale - v.x)
               ELSE 0.0 END AS err
      FROM vx v JOIN s ON v.vec_id = s.vec_id
    )
    SELECT vec_id,
           {pround_sql('scale', 8)} AS scale,
           {pround_sql('max(err)', 8)} AS max_abs_err,
           {pround_sql('sum(err * err) / count(*)', 10)} AS mse
    FROM e GROUP BY vec_id, scale
    UNION ALL
    -- unnest of an empty list yields no rows, which would drop the
    -- vec_id; mirror the Spark side's pinned zero-stats row instead
    SELECT vec_id, 0.0 AS scale, 0.0 AS max_abs_err, 0.0 AS mse
    FROM embeddings WHERE len(embedding) = 0
    """,
    covers=("EXT-similarity", "EXT-curation"),
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit over the embedding store
    (operators/similarity.int8_quantize_stats): per-vector scale and
    reconstruction error — the check run before compressing an
    embedding column 4x for the 100 TB store."""
    emb = load(spark, sf_dir, "embeddings")
    return S.int8_quantize_stats(emb, "embedding", "vec_id")


@query(
    "embedding_ivf_kmeans",
    oracle="""
    SELECT CAST(i AS INT) AS iteration,
           CAST(1 AS INT) AS wcss_non_increasing,
           (SELECT count(*) FROM embeddings) AS n_vectors
    FROM (SELECT unnest(generate_series(1, 3)) AS i)
    """,
    covers=("EXT-similarity",),
)
def embedding_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the IVF coarse quantizer: 3 Lloyd's iterations from the
    deterministic seed centroids (operators/similarity.
    kmeans_refine_lazy).

    Verification contract (r5, the ``approx_distinct_users`` pattern —
    VERDICT r4 #3): the iteration itself is not SQL-expressible, but
    Lloyd's invariant IS checkable: WCSS is monotone non-increasing.
    Emit one row per iteration with a Spark-computed
    ``wcss_non_increasing`` flag (WCSS(i) ≤ WCSS(i−1) up to float-sum
    slack) plus the exact corpus count; the oracle asserts literal 1
    per iteration.  A diverging refinement flips a flag and fails the
    driver hash-compare — the row verifies the algorithm's contract
    instead of merely running it.  Cell populations / centroid norms
    (training OUTCOMES, not invariants) stay pytest-pinned
    (tests/test_operators.py, incl. run-to-run determinism).

    LAZY since r8 (VERDICT r7 #3): the centroid chain stays a
    DataFrame through every iteration (kmeans_refine_lazy) and the
    per-iteration WCSS probes are lazy one-row aggregates
    (kmeans_wcss_df) unioned and self-joined into the flag rows —
    constructing this plan launches ZERO Spark jobs, the same
    contract every other registered query honors
    (tests/test_construction_budget.py pins it registry-wide)."""
    emb = load(spark, sf_dir, "embeddings")
    cents = [_seed_centroids(emb, IVF_K, IVF_SEED_STEP)]
    for _ in range(3):
        cents.append(S.kmeans_refine_lazy(emb, cents[-1], EMB_DIM, n_iter=1))
    wcss_rows = [
        S.kmeans_wcss_df(emb, c).select(F.lit(i).alias("iteration"), "wcss")
        for i, c in enumerate(cents)]
    wcss = reduce(DataFrame.unionAll, wcss_rows)
    prev = wcss.select((F.col("iteration") + 1).alias("iteration"),
                       F.col("wcss").alias("prev_wcss"))
    flags = (wcss.join(prev, "iteration")
             .select("iteration",
                     F.when(F.col("wcss")
                            <= F.col("prev_wcss") * (1 + 1e-9) + 1e-6,
                            1).otherwise(0).cast("int")
                     .alias("wcss_non_increasing")))
    total = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    return flags.crossJoin(total).select(
        "iteration", "wcss_non_increasing", "n_vectors")


def _pii_oracle() -> str:
    email, ipv4, phone = (X.PII_PATTERNS["email"], X.PII_PATTERNS["ipv4"],
                          X.PII_PATTERNS["phone"])
    return f"""
    WITH injected AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 <> 0
                  THEN ' reach user' || CAST(doc_id AS VARCHAR)
                       || '@example.org' ELSE '' END
             || CASE WHEN doc_id % 2 = 0
                  THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR)
                       || '.' || CAST(doc_id % 250 AS VARCHAR)
                       || '.' || CAST(doc_id % 256 AS VARCHAR) ELSE '' END
             || ' call +1-555-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents
    )
    , r1 AS (
      -- each class is counted on the text AS REDACTED SO FAR (nested
      -- matches, e.g. an IPv4 inside an email domain, must not be
      -- double-reported) — mirrors operators/text.pii_scrub exactly
      SELECT doc_id, COALESCE(t, '') AS t0,
             len(regexp_extract_all(COALESCE(t, ''), '{email}')) AS n_email
      FROM injected
    ), r2 AS (
      SELECT doc_id, n_email,
             regexp_replace(t0, '{email}', '<EMAIL>', 'g') AS t1
      FROM r1
    ), r3 AS (
      SELECT doc_id, n_email,
             len(regexp_extract_all(t1, '{ipv4}')) AS n_ipv4,
             regexp_replace(t1, '{ipv4}', '<IPV4>', 'g') AS t2
      FROM r2
    )
    SELECT doc_id, n_email, n_ipv4,
           len(regexp_extract_all(t2, '{phone}')) AS n_phone,
           md5(regexp_replace(t2, '{phone}', '<PHONE>', 'g')) AS redacted_md5
    FROM r3
    """


@query("text_pii_redaction", oracle=_pii_oracle(), covers=("EXT-text",))
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrub (operators/text.pii_scrub): email / IPv4 / phone
    counts plus the md5 of the fully-masked text.  The fixture corpus
    carries no PII, so the query injects deterministic synthetic PII
    (a pure function of doc_id, mirrored exactly in the oracle SQL)
    before scrubbing — the operator itself is injection-agnostic."""
    docs = load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 3 != 0,
                   F.concat(F.lit(" reach user"), did.cast("string"),
                            F.lit("@example.org"))).otherwise(F.lit("")),
            F.when(did % 2 == 0,
                   F.concat(F.lit(" from 10."),
                            (did % 200).cast("string"), F.lit("."),
                            (did % 250).cast("string"), F.lit("."),
                            (did % 256).cast("string"))).otherwise(F.lit("")),
            F.lit(" call +1-555-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ).alias("t"))
    return X.pii_scrub(injected, "t", "doc_id")
