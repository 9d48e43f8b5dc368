"""LLM-training-data pipeline queries: text analysis, deduplication,
similarity search, multimodal plumbing, and streaming — the
beyond-the-reference operator families, each oracle-paired where
SQL-expressible (BASELINE.json "north_star")."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    LANG_STOPWORDS,
    bpe_ish_token_count,
    char_shingles_min_md5,
    content_fingerprint,
    lang_predict,
    lang_scores,
    quality_features,
    repetition_features,
    token_count,
    tokens,
)
from ..operators.dedup import (
    connected_components_twophase,
    exact_duplicates,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from ..operators.multimodal import (
    attach_binary,
    binary_meta,
    fake_decode_media,
    resize_media_fake,
    sample_frames,
)
from ..operators.similarity import (
    _hyperplane_values,
    brute_force_topk,
    brute_force_topk_arrow,
    embedding_near_dup_pairs,
    ivf_topk,
    lsh_bucket_stats,
    lsh_near_dup_pairs,
    lsh_topk,
)
from .analytics import DEC, _t, register

#: normalized text, SQL form (DuckDB regexp_replace needs the 'g' flag;
#: Spark's replaces all matches by default).
NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
EN = "('the','a','and','of','to','in','is')"


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


def _doc_profile_sql() -> str:
    """Oracle for the consolidated per-document profile: the union of
    the former tx_token_count / tx_quality_score / tx_lang_id /
    tx_fingerprint column sets in ONE select over documents."""
    langs = list(LANG_STOPWORDS)
    score = {
        lang: f"len(list_filter(string_split({NORM}, ' '), x -> x IN "
        f"({','.join(repr(w) for w in LANG_STOPWORDS[lang])})))"
        for lang in langs
    }
    whens = []
    for i, lang in enumerate(langs):
        conds = [f"{score[lang]} >= {score[o]}" for o in langs[i + 1 :]]
        whens.append(
            f"WHEN {' AND '.join(conds)} THEN '{lang}'" if conds else f"ELSE '{lang}'"
        )
    case = "CASE " + " ".join(whens) + " END"
    lang_cols = ", ".join(f"CAST({score[l]} AS INT) AS s_{l}" for l in langs)
    return f"""
SELECT doc_id,
       CAST(len(string_split({NORM}, ' ')) AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe_ish,
       n_chars,
       CAST(length(text) AS DOUBLE) / len(string_split({NORM}, ' ')) AS avg_token_len,
       CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text) AS punct_ratio,
       CAST(len(list_filter(string_split({NORM}, ' '), x -> x IN {EN})) AS DOUBLE)
         / len(string_split({NORM}, ' ')) AS stop_ratio,
       lang,
       {case} AS lang_pred,
       {lang_cols},
       1.0 - CAST(len(list_distinct(string_split({NORM}, ' '))) AS DOUBLE)
         / len(string_split({NORM}, ' ')) AS dup_word_ratio,
       1.0 - CAST(len(list_distinct(list_transform(
           generate_series(1, greatest(len(string_split({NORM}, ' ')) - 1, 0)),
           i -> array_to_string((string_split({NORM}, ' '))[i:i+1], ' ')))) AS DOUBLE)
         / len(list_transform(
           generate_series(1, greatest(len(string_split({NORM}, ' ')) - 1, 0)),
           i -> array_to_string((string_split({NORM}, ' '))[i:i+1], ' '))) AS dup_2gram_ratio,
       CAST(list_max(list_transform(list_distinct(string_split({NORM}, ' ')),
           w -> len(list_filter(string_split({NORM}, ' '), x -> x = w)))) AS DOUBLE)
         / len(string_split({NORM}, ' ')) AS top_word_frac,
       md5({NORM}) AS fingerprint,
       list_min(list_transform(
         generate_series(1, greatest(length({NORM}) - 7, 1)),
         i -> md5(substr({NORM}, i, 8)))) AS winnow_min
FROM documents
"""


@register("tx_doc_profile", tags=("TX",), oracle=_doc_profile_sql())
def tx_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan per-document profile — the r7 consolidation of four
    formerly separate scorers, each of which re-scanned documents for
    one column family:

    - token counting (whitespace + BPE-pre-tokenizer regex),
    - quality features (length/punctuation/stopword ratios, exact
      integer-count divisions -> engine-portable doubles),
    - stopword-vote language identification with deterministic
      priority tie-breaking (per-language scores exposed for audit),
    - word-level repetition (duplicate-word / duplicate-2-gram
      ratios, top-word fraction — the Gopher-style filter inputs;
      the word-3-gram dup ratio lives in ``tx_repetition``),
    - fingerprinting (whole-content md5 + winnowing-style minimum
      over 8-char shingle hashes).

    All expressions are per-row and JVM-side, so ONE pass over the
    corpus computes everything — at 100 TB that is strictly better
    than four scans, and it is how a production profiler would run
    (the reference's per-row derivations are likewise single-pass,
    scripts/pricenow_etl.py:238-259)."""
    docs = _t(spark, sf_dir, "documents")
    feats = quality_features("text")
    toks = tokens("text")
    scores = lang_scores(toks)
    rep = repetition_features("text")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").cast("int").alias("n_bpe_ish"),
        "n_chars",
        feats["avg_token_len"].alias("avg_token_len"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stop_ratio"].alias("stop_ratio"),
        "lang",
        lang_predict(toks).alias("lang_pred"),
        *[scores[lang].cast("int").alias(f"s_{lang}") for lang in LANG_STOPWORDS],
        *[rep[k].alias(k) for k in ("dup_word_ratio", "dup_2gram_ratio", "top_word_frac")],
        content_fingerprint("text").alias("fingerprint"),
        char_shingles_min_md5("text", 8).alias("winnow_min"),
    )


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


@register(
    "dd_exact",
    headline=True,
    tags=("DD",),
    oracle=f"""
SELECT md5({NORM}) AS fingerprint, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
FROM documents GROUP BY 1
""",
)
def dd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-fingerprint groups with canonical ids."""
    return exact_duplicates(_t(spark, sf_dir, "documents"), "doc_id", "text")


_MINHASH_SH = f"""
  toks AS (
    SELECT doc_id, string_split({NORM}, ' ') AS tk FROM documents
  ), sh AS (
    SELECT DISTINCT doc_id, sh FROM (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
                                   i -> array_to_string(tk[i:i+2], ' '))) AS sh
      FROM toks) t
  )"""

_SIG_COLS = ", ".join(f"min(md5('{i}:' || sh)) AS h{i}" for i in range(8))
_BAND_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, h{2 * b} || '|' || h{2 * b + 1} AS bucket FROM sig"
    for b in range(4)
)


@register(
    "dd_minhash_lsh",
    headline=True,
    tags=("DD",),
    oracle=f"""
WITH {_MINHASH_SH},
sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
bands AS ({_BAND_SQL})
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
""",
)
def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8 hashes over 3-word shingles) + LSH(4 bands x 2 rows)
    candidate pairs. Hashes are seed-salted md5 hex strings, portable
    across engines."""
    sigs = minhash_signatures(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k_shingle=3, n_hashes=8
    )
    return lsh_candidate_pairs(sigs, "doc_id", n_hashes=8, bands=4)


@register(
    "dd_cluster_components",
    headline=True,
    multi_action=True,
    tags=("DD",),
    oracle=f"""
WITH {_MINHASH_SH},
sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
bands AS ({_BAND_SQL}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT a, a FROM edges
    UNION
    SELECT r.src, e.b FROM r JOIN edges e ON r.dst = e.a
  ) SELECT * FROM r
)
SELECT src AS node, MIN(dst) AS component FROM reach GROUP BY src
""",
)
def dd_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the MinHash-LSH
    candidate-pair graph (the dedup step that picks one canonical doc
    per near-dup cluster). Spark has no native CC operator — this runs
    the alternating large-star/small-star contraction
    (``connected_components_twophase``, O(log^2 n) rounds), the
    algorithm that survives web-scale graphs with long templated-
    document chains; the O(diameter) min-label propagation remains as
    the simple variant and is pytest-verified to produce identical
    labels. The oracle computes the same components with a recursive
    CTE."""
    sigs = minhash_signatures(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k_shingle=3, n_hashes=8
    )
    pairs = lsh_candidate_pairs(sigs, "doc_id", n_hashes=8, bands=4)
    return connected_components_twophase(pairs)


@register(
    "dd_ngram_jaccard",
    tags=("DD",),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split({NORM}, ' ') AS tk FROM documents
), sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, greatest(len(tk) - 4, 0)),
                                 i -> array_to_string(tk[i:i+4], ' '))) AS sh
    FROM toks) t
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
       CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2
""",
)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-gram Jaccard near-dup pairs via shingle inverted index."""
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k_shingle=5, min_jaccard=0.2
    )


@register(
    "dd_ngram_containment",
    tags=("DD",),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split({NORM}, ' ') AS tk FROM documents
), sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, greatest(len(tk) - 4, 0)),
                                 i -> array_to_string(tk[i:i+4], ' '))) AS sh
    FROM toks) t
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
       CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh) AS containment
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= 0.5
""",
)
def dd_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup pairs by 5-gram CONTAINMENT
    (n_common / min set size): the detector for quotes, excerpts, and
    doc-inside-doc relationships Jaccard misses (contained short doc:
    Jaccard -> 0, containment -> 1; Broder's resemblance vs
    containment). Same inverted-index join as ``dd_ngram_jaccard`` —
    never all-pairs."""
    return ngram_containment_pairs(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k_shingle=5,
        min_containment=0.5,
    )


@register(
    "dd_simhash",
    tags=("DD",),
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split({NORM}, ' ')) AS tok FROM documents) t
), pos AS (
  SELECT doc_id, md5(tok) AS h, unnest(generate_series(0, 15)) AS p FROM toks
), nib AS (
  SELECT doc_id, p, strpos('0123456789abcdef', substr(h, p + 1, 1)) - 1 AS nib FROM pos
), votes AS (
  SELECT doc_id, p,
         SUM(CASE WHEN (nib >> 0) & 1 = 1 THEN 1 ELSE -1 END) AS s0,
         SUM(CASE WHEN (nib >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS s1,
         SUM(CASE WHEN (nib >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS s2,
         SUM(CASE WHEN (nib >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS s3
  FROM nib GROUP BY doc_id, p
), chars AS (
  SELECT doc_id, p,
         substr('0123456789abcdef',
                (CASE WHEN s0 > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN s1 > 0 THEN 2 ELSE 0 END)
                + (CASE WHEN s2 > 0 THEN 4 ELSE 0 END)
                + (CASE WHEN s3 > 0 THEN 8 ELSE 0 END) + 1, 1) AS ch
  FROM votes
)
SELECT doc_id, string_agg(ch, '' ORDER BY p) AS simhash FROM chars GROUP BY doc_id
""",
)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 16-nibble fingerprints (bit-majority over token md5s)."""
    return simhash_fingerprints(_t(spark, sf_dir, "documents"), "doc_id", "text")


# --------------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------------

_DOT = (
    "(SELECT SUM(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)) "
    "FROM generate_series(1, 64) g(i))"
)


@register(
    "ann_topk_bruteforce",
    headline=True,
    tags=("ANN",),
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         round({_DOT.format(a='qv', b='cv')}
               / (sqrt({_DOT.format(a='qv', b='qv')})
                  * sqrt({_DOT.format(a='cv', b='cv')})), 6) AS cos_sim
  FROM c, q WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored) t
WHERE rank <= 5
""",
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for query vectors (vec_id < 10) —
    the correctness baseline for the LSH variant. ``rank`` is widened
    to BIGINT to match DuckDB's window-function output dtype."""
    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).withColumn(
        "rank", F.col("rank").cast("long")
    )


@register(
    "dd_embedding_cosine",
    tags=("DD", "ANN"),
    oracle=f"""
SELECT id_a, id_b, cos_sim FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({_DOT.format(a='a.embedding', b='b.embedding')}
               / (sqrt({_DOT.format(a='a.embedding', b='a.embedding')})
                  * sqrt({_DOT.format(a='b.embedding', b='b.embedding')})), 6) AS cos_sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) t
WHERE cos_sim >= 0.4
""",
)
def dd_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the exact all-pairs
    baseline, kept as the recall oracle for the first-class blocked
    variant ``dd_embedding_near_dup``. The synthetic corpus's max
    pairwise cosine is ~0.51, so the threshold is 0.4 here; a real
    near-dup pass would use ~0.95."""
    return embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", threshold=0.4
    )


def _lsh_buckets_cte(
    n_planes: int, n_tables: int, dim: int = 64, src: str = "embeddings"
) -> str:
    """DuckDB CTE chain reproducing ``sign_lsh_buckets_long`` exactly:
    the deterministic hyperplanes are emitted as literal lists (same
    float values the Spark plan embeds), projected per (vector, plane),
    sign-thresholded, and folded into per-table bit-string buckets.
    ``src`` names the (vec_id, embedding) relation to bucket — a table
    or an earlier CTE."""
    rows = ",\n         ".join(
        f"({pid}, [{', '.join(repr(v) for v in _hyperplane_values(pid, dim))}])"
        for pid in range(n_planes * n_tables)
    )
    return f"""planes(pid, pv) AS (
  VALUES {rows}
), proj AS (
  SELECT e.vec_id, p.pid,
         CASE WHEN (SELECT SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(p.pv[i] AS DOUBLE))
                    FROM generate_series(1, {dim}) g(i)) >= 0
              THEN '1' ELSE '0' END AS bit
  FROM {src} e, planes p
), buckets AS (
  SELECT vec_id, CAST(pid // {n_planes} AS INT) AS tbl,
         string_agg(bit, '' ORDER BY pid % {n_planes}) AS bucket
  FROM proj GROUP BY vec_id, pid // {n_planes}
)"""


@register(
    "dd_embedding_near_dup",
    # not headline: at the corpus's forced-low threshold (0.4) the
    # bucket filter passes ~64% of all pairs, so blocking overhead
    # can't pay for itself at bench scale — the operator's win is at
    # production thresholds/corpus sizes (see SCALE.md); the bench
    # headline set stays the round-1 11 for apples-to-apples totals.
    tags=("DD", "ANN"),
    oracle=f"""
WITH {_lsh_buckets_cte(4, 16)},
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_sim FROM (
  SELECT id_a, id_b,
         round({_DOT.format(a='ea.embedding', b='eb.embedding')}
               / (sqrt({_DOT.format(a='ea.embedding', b='ea.embedding')})
                  * sqrt({_DOT.format(a='eb.embedding', b='eb.embedding')})), 6) AS cos_sim
  FROM cand
  JOIN embeddings ea ON ea.vec_id = id_a
  JOIN embeddings eb ON eb.vec_id = id_b) t
WHERE cos_sim >= 0.4
""",
)
def dd_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-class embedding near-dup: sign-LSH blocked candidates
    (bucket equi-join over 16 tables x 4 planes — never |C| x |C|),
    exact rounded-cosine threshold on the survivors. The hyperplanes
    are deterministic float literals, so the oracle reproduces the
    *same* bucketing and the result is hash-checkable; recall vs the
    exact all-pairs baseline is additionally gated in pytest."""
    return lsh_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        threshold=0.4, n_planes=4, n_tables=16,
    )


#: deterministic near-dup twin derivation shared by the _hi query and
#: its oracle: per-position scaling factors 0.85..1.15 (period 7), so a
#: twin's cosine to its base is ~0.995 — above any production near-dup
#: threshold — while unrelated pairs stay at the corpus's ~0.51 max.
#: Exact same IEEE double ops in both engines (multiply by an exact
#: expression), so the rounded cosines are bit-identical.
_HI_TWIN_SQL = """
corpus AS (
  SELECT vec_id,
         (SELECT list(CAST(embedding[i] AS DOUBLE) ORDER BY i)
          FROM generate_series(1, 64) g(i)) AS embedding
  FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000,
         (SELECT list(CAST(embedding[i] AS DOUBLE)
                      * (1.0 + (((i - 1) % 7) - 3) / 20.0) ORDER BY i)
          FROM generate_series(1, 64) g(i))
  FROM embeddings WHERE vec_id % 10 = 0
)"""


def _hi_twin_corpus(emb: DataFrame) -> DataFrame:
    base = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    twins = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x.cast("double")
            * (
                F.lit(1.0)
                + ((i % 7) - F.lit(3)).cast("double") / F.lit(20.0)
            ),
        ).alias("embedding"),
    )
    return base.unionByName(twins)


@register(
    "dd_embedding_near_dup_hi",
    headline=True,
    tags=("DD", "ANN"),
    oracle=f"""
WITH {_HI_TWIN_SQL},
{_lsh_buckets_cte(12, 8, src="corpus")},
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_sim FROM (
  SELECT id_a, id_b,
         round({_DOT.format(a='ea.embedding', b='eb.embedding')}
               / (sqrt({_DOT.format(a='ea.embedding', b='ea.embedding')})
                  * sqrt({_DOT.format(a='eb.embedding', b='eb.embedding')})), 6) AS cos_sim
  FROM cand
  JOIN corpus ea ON ea.vec_id = id_a
  JOIN corpus eb ON eb.vec_id = id_b) t
WHERE cos_sim >= 0.9
""",
)
def dd_embedding_near_dup_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked embedding near-dup at a PRODUCTION threshold (0.9) —
    the headline demonstration that LSH blocking beats exact all-pairs
    where it matters. ``dd_embedding_near_dup`` runs at this corpus's
    forced-low 0.4 threshold, where ~64% of all pairs survive the
    bucket filter and blocking can't pay for itself (documented in
    SCALE.md); here the corpus is augmented with deterministic
    near-dup twins (10% of vectors, per-position scaling, cosine
    ~0.995 to their base), so the 0.9 threshold has real signal and
    the bucket join passes a near-constant candidate set instead of
    O(n^2) pairs. The blocking is 8 tables x 12 planes — deeper
    tables than the 0.4-threshold query's 16x4, because bits per
    table must grow with corpus size and threshold (4-bit tables
    have 16 buckets: at 17k+ vectors the in-bucket pair count
    degenerates back to O(n^2), measured in tools/probe_r6.py; 12-bit
    tables keep the candidate set ~1% of pairs while the planted
    pairs' per-table collision prob 0.68 over 8 tables bounds the
    miss rate at ~1e-4). Same exact rounded-cosine threshold on
    survivors, fully hash-checkable (the twin derivation is exact
    double arithmetic in both engines). The measured blocked-vs-exact
    crossover is SCALE.md's dd row."""
    from ..operators.similarity import lsh_near_dup_pairs

    corpus = _hi_twin_corpus(_t(spark, sf_dir, "embeddings"))
    return lsh_near_dup_pairs(
        corpus, "vec_id", "embedding", threshold=0.9, n_planes=12, n_tables=8
    )


@register(
    "ann_lsh_buckets",
    tags=("ANN",),
    oracle=f"""
WITH {_lsh_buckets_cte(4, 8)}
SELECT tbl, bucket, COUNT(*) AS n_vectors,
       CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS n_pairs,
       MIN(vec_id) AS min_id
FROM buckets GROUP BY tbl, bucket
""",
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact projection of the blocking structure behind the
    approximate ``ann_lsh_topk`` (same 8-table x 4-plane space, planes
    ``t*4+p``): per-bucket vector/pair counts and min member id. This
    pins the deterministic part of the ANN family down to a green
    hash-checked row — the top-k itself stays approximate and is
    recall-gated in pytest."""
    return lsh_bucket_stats(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        n_planes=4, n_tables=8,
    )


@register("ann_topk_arrow", tags=("ANN",))  # BLAS-summed floats: tolerance-tested in pytest
def ann_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy brute-force top-5: one BLAS matmul per corpus batch
    against the broadcast query matrix — the throughput path when the
    query set is large. No SQL oracle (BLAS accumulation order differs
    in the last ulp); parity with the JVM-exact variant is pytest-gated."""
    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk_arrow(emb, emb.filter(F.col("vec_id") < 10), k=5)


@register("ann_ivf_topk", tags=("ANN",))  # approximate: rows-only; recall vs brute force in pytest
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-5: corpus partitioned into inverted
    lists by nearest deterministic centroid, queries probe 4 lists,
    exact re-rank inside. No SQL oracle — approximate by design."""
    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@register("ann_lsh_topk", tags=("ANN",))  # approximate: rows-only check; recall tested in pytest
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed approximate top-5 (the 100 TB path: candidates
    are bucket-joined, never |Q| x |C|). No SQL oracle — approximate by
    design; recall vs brute force is asserted in tests."""
    emb = _t(spark, sf_dir, "embeddings")
    return lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


# --------------------------------------------------------------------------
# Multimodal + streaming
# --------------------------------------------------------------------------


@register(
    "mm_media_pipeline",
    tags=("MM",),
    oracle="""
WITH d AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS INT) AS meta_bytes,
         sha256(text) AS sha256,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         CAST(16 + ascii(substr(text, 1, 1)) AS INT) AS width,
         CAST(16 + ascii(substr(text, length(text), 1)) AS INT) AS height,
         CAST(1 + octet_length(encode(text)) % 7 AS INT) AS n_frames
  FROM documents
)
SELECT doc_id, meta_bytes, sha256, width, height, n_frames,
       CAST(LEAST(width, 64) AS INT) AS rs_width,
       CAST(LEAST(height, 64) AS INT) AS rs_height,
       CAST((n_bytes * (LEAST(width, 64) * LEAST(height, 64)))
            // (width * height) AS BIGINT) AS n_bytes_est,
       CAST(i AS INT) AS frame_idx,
       CAST(i * (n_bytes // n_frames) AS BIGINT) AS byte_offset
FROM (SELECT *, unnest(generate_series(0, n_frames - 1, 2)) AS i FROM d) t
""",
)
def mm_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal column pipeline in ONE registry entry (the
    round-6 consolidation of mm_binary_meta / mm_fake_decode /
    mm_resize / mm_frame_sample — four window slots folded into one
    without losing operator coverage): attach a binary payload +
    typed metadata struct (``attach_binary``), extract JVM-side
    metadata with zero Python (``binary_meta`` -> meta_bytes/sha256),
    decode via Arrow-batched ``mapInPandas`` (``fake_decode_media``
    — the deterministic stand-in with the exact batch plumbing of the
    real Pillow path), resize with the resampler batch shape
    (``resize_media_fake`` -> rs_width/rs_height/n_bytes_est), and
    sample every 2nd frame with byte offsets (``sample_frames`` ->
    frame_idx/byte_offset). One row per (doc, sampled frame), every
    stage contributing its own columns so the oracle pins each
    operator's arithmetic. The doc_id joins are co-keyed (one shuffle
    key end-to-end). Catalyst inlines the decode subtree into every
    branch here (3 decodes + resize) — the price of keeping the
    consolidated query a single declarative, oracle-checkable plan;
    the production twin is ``media_pipeline_persist_once``
    (operators/multimodal.py), which checkpoints the decode once and
    is pytest-asserted row-identical, with the decode-once-vs-thrice
    ratio measured in SCALE.md."""
    docs = attach_binary(_t(spark, sf_dir, "documents"), "doc_id", "text")
    meta = binary_meta(docs, "doc_id").select(
        "doc_id", F.col("n_bytes").alias("meta_bytes"), "sha256"
    )
    dec = fake_decode_media(docs, "doc_id")
    res = resize_media_fake(dec, "doc_id", max_dim=64).select(
        "doc_id",
        F.col("width").alias("rs_width"),
        F.col("height").alias("rs_height"),
        "n_bytes_est",
    )
    frames = sample_frames(dec, "doc_id", every_k=2)
    return (
        meta.join(dec.select("doc_id", "width", "height", "n_frames"), "doc_id")
        .join(res, "doc_id")
        .join(frames, "doc_id")
    )


@register(
    "st_windowed_counts",
    tags=("ST",),
    oracle=f"""
SELECT strftime(time_bucket(INTERVAL 6 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS {DEC})) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""",
)
def st_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real Structured Streaming query (readStream -> watermark ->
    tumbling window -> availableNow) whose final state must equal the
    equivalent batch aggregation."""
    from ..streaming.jobs import windowed_event_counts

    return windowed_event_counts(spark, f"{sf_dir}/events.parquet")


@register(
    "st_stream_static_join",
    tags=("ST", "J1"),
    oracle="""
SELECT strftime(time_bucket(INTERVAL 1 DAY, ts), '%Y-%m-%d') AS day,
       c_mktsegment,
       COUNT(*) AS n
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
""",
)
def st_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the
    customer dim (broadcast per micro-batch, no join state) with a
    windowed count — equals the batch join+agg on finite input."""
    from ..streaming.jobs import stream_static_enriched_counts

    return stream_static_enriched_counts(
        spark, f"{sf_dir}/events.parquet", _t(spark, sf_dir, "customer")
    )


@register(
    "st_incremental_agg",
    tags=("ST", "A1", "K1"),
    oracle="""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(15,3))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""",
)
def st_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained aggregate view (materialized-view
    maintenance): per micro-batch, the batch's partial aggregate is
    ADDED into a stored (day, event_type) summary table — per-batch
    cost is O(batch + view), never O(history). Decimal accumulation
    makes the stored totals batching-independent, so the final table
    equals the plain batch GROUP BY the oracle runs."""
    from ..session import session_scratch_dir
    from ..streaming.jobs import stream_incremental_agg_job

    target = session_scratch_dir(spark, "st_incr_agg") + "/view"
    stream_incremental_agg_job(spark, f"{sf_dir}/events.parquet", target)
    return spark.read.parquet(target).select(
        "day",
        "event_type",
        "n",
        F.col("sum_dec").cast("double").alias("sum_value"),
    )


@register(
    "st_stream_stream_join",
    tags=("ST", "J2"),
    oracle="""
SELECT l.event_id AS left_id, r.event_id AS right_id, l.user_id,
       CAST(date_diff('second', l.ts, r.ts) AS BIGINT) AS lag_s
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'click' AND r.event_type = 'purchase'
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
""",
)
def st_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream funnel join (click -> purchase by the same user
    within 1 hour): watermarks on both sides + a two-ended event-time
    bound let Spark evict provably-unmatchable join state, so state is
    proportional to the horizon, not stream history. On the finite
    availableNow input the result equals the batch self-join the
    oracle runs."""
    from ..streaming.jobs import stream_stream_funnel_join

    return stream_stream_funnel_join(spark, f"{sf_dir}/events.parquet")


@register(
    "st_dedup_keys",
    tags=("ST", "DD"),
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def st_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with watermark-bounded state
    (dropDuplicatesWithinWatermark); on the finite input equals batch
    SELECT DISTINCT."""
    from ..streaming.jobs import stream_distinct_keys

    return stream_distinct_keys(spark, f"{sf_dir}/events.parquet")


@register(
    "st_sessionize",
    tags=("ST",),
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start_s,
       CAST(floor(epoch(MAX(ts))) AS BIGINT) AS session_end_s
FROM sess GROUP BY user_id, session_id
""",
)
def st_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization via
    applyInPandasWithState (per-user open-session state across
    micro-batches). On the finite test input the final state equals
    the batch w3 sessionization, so it shares w3's oracle."""
    from ..streaming.stateful import sessionize_stream

    return sessionize_stream(spark, f"{sf_dir}/events.parquet")


@register(
    "st_ewma_fold",
    tags=("ST", "TS"),
    oracle="""
WITH f AS (
  SELECT user_id, ts, event_id,
         CAST(floor(greatest(value, 0) * 1000000) AS BIGINT) AS v
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL),
g AS (
  SELECT user_id,
         list(v ORDER BY ts ASC, event_id ASC) AS vs,
         COUNT(*) AS n_events
  FROM f GROUP BY user_id)
SELECT user_id, n_events,
       CAST(list_reduce(vs, (acc, x) -> acc - acc // 4 + x // 4) AS BIGINT)
         AS ewma_fixed
FROM g
""",
)
def st_ewma_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ts_ewma_smooth: the SAME integer EWMA
    recurrence folded incrementally via applyInPandasWithState with
    O(1) state per key (n_events, acc) — the unbounded-key scale path
    the batch operator's docstring points at. On the finite test
    input (one availableNow batch) the final state equals the batch
    fold exactly, so it shares the batch twin's oracle."""
    from ..streaming.stateful import ewma_stream

    return ewma_stream(spark, f"{sf_dir}/events.parquet")


@register(
    "llm_prep_pipeline",
    headline=True,
    tags=("TX", "DD", "A1"),
    oracle=f"""
WITH feats AS (
  SELECT doc_id, source, lang, text,
         len(string_split({NORM}, ' ')) AS n_tokens,
         CAST(len(list_filter(string_split({NORM}, ' '), x -> x IN {EN})) AS DOUBLE)
           / len(string_split({NORM}, ' ')) AS stop_ratio,
         md5({NORM}) AS fp
  FROM documents
), canonical AS (
  SELECT fp, MIN(doc_id) AS keep_id FROM feats GROUP BY fp
), kept AS (
  SELECT f.* FROM feats f JOIN canonical c
    ON f.fp = c.fp AND f.doc_id = c.keep_id
  WHERE f.n_tokens >= 30 AND f.stop_ratio >= 0.01
)
SELECT source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS total_bpe_ish
FROM kept GROUP BY source, lang
""",
)
def llm_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LLM training-data prep over the documents table:
    quality gate (min tokens + stopword-ratio floor) -> exact-dedup
    keep-list (canonical doc per content fingerprint) -> per
    (source, lang) corpus stats with both tokenizations. The
    composition every reference-scale data pipeline runs before
    training; one shuffle for the dedup group, one for the final
    rollup."""
    docs = _t(spark, sf_dir, "documents")
    feats = quality_features("text")
    enriched = docs.select(
        "doc_id",
        "source",
        "lang",
        "text",
        feats["n_tokens"].cast("int").alias("n_tokens"),
        feats["stop_ratio"].alias("stop_ratio"),
        content_fingerprint("text").alias("fp"),
    )
    # canonical derives from enriched, so the join keys must be
    # disambiguated via aliases — enriched.fp == canonical.fp would
    # resolve both sides to the same attribute (trivially-true predicate).
    canonical = (
        enriched.groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"))
        .withColumnRenamed("fp", "canon_fp")
    )
    kept = enriched.join(
        canonical,
        (enriched["fp"] == canonical["canon_fp"])
        & (enriched["doc_id"] == canonical["keep_id"]),
    ).filter((F.col("n_tokens") >= 30) & (F.col("stop_ratio") >= 0.01))
    return kept.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(bpe_ish_token_count("text")).cast("long").alias("total_bpe_ish"),
    )


@register(
    "tx_chunk_windows",
    tags=("TX",),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split({NORM}, ' ') AS tk FROM documents
)
SELECT doc_id,
       CAST(s AS INT) AS chunk_idx,
       array_to_string(tk[s:s + 63], ' ') AS chunk_text,
       CAST(len(tk[s:s + 63]) AS INT) AS n_tokens
FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk), 48)) AS s FROM toks) t
""",
)
def tx_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking for training data: overlapping 64-token
    windows with stride 48 (the sliding-window split every LLM corpus
    pipeline runs before tokenization). Pure expression pipeline —
    sequence for the window starts, slice + array_join per window;
    the explode fans out map-side with no shuffle at all."""
    docs = _t(spark, sf_dir, "documents")
    tk = tokens("text")
    return (
        docs.select("doc_id", tk.alias("__tk"))
        .select(
            "doc_id",
            "__tk",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.size("__tk"), F.lit(1)), F.lit(48))
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.array_join(F.slice("__tk", F.col("chunk_idx"), 64), " ").alias("chunk_text"),
            F.size(F.slice("__tk", F.col("chunk_idx"), 64)).alias("n_tokens"),
        )
    )


@register(
    "tx_hash_sample",
    tags=("TX", "T4"),
    oracle=f"""
SELECT doc_id, lang,
       CAST(('0x' || substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100 AS INT) AS bucket
FROM documents
WHERE ('0x' || substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100
      < CASE lang WHEN 'en' THEN 80 WHEN 'zh' THEN 60 ELSE 30 END
""",
)
def tx_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus rebalancing: keep
    p% per language where the keep decision is a salted md5 hash of
    the doc id — reproducible across engines, runs, and partitionings
    (unlike RNG-based sample()), and stable under re-runs so
    downstream incremental pipelines see a consistent subset."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("s42:"), F.col("doc_id").cast("string")).cast("binary")), 1, 4),
            16,
            10,
        ).cast("int")
        % 100
    )
    rate = (
        F.when(F.col("lang") == "en", 80)
        .when(F.col("lang") == "zh", 60)
        .otherwise(30)
    )
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < rate)
    )


@register(
    "tx_cap_per_source",
    tags=("TX", "A2", "R2"),
    oracle=f"""
SELECT source, doc_id, n_tokens, rnk FROM (
  SELECT source, doc_id,
         CAST(len(string_split({NORM}, ' ')) AS INT) AS n_tokens,
         row_number() OVER (PARTITION BY source
                            ORDER BY len(string_split({NORM}, ' ')) DESC,
                                     doc_id ASC) AS rnk
  FROM documents) t
WHERE rnk <= 50
""",
)
def tx_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap for corpus curation: keep the 50
    longest docs per source (window row_number — the anti-domination
    guard that stops one crawl source from flooding the training mix).
    The per-source rank is a running COUNT — row_number == running sum
    of ones — so it goes through ``grouped_running_sum(mode='auto')``:
    at a sane source distribution auto picks the plain window (same
    plan as a direct row_number, one shuffle on source); when one
    source dominates the corpus it switches to the two-level prefix
    scan, bounding every window partition by a range block (the
    dominant-source skew note SCALE.md used to pin on this family)."""
    from ..operators.prefix import grouped_running_sum

    docs = _t(spark, sf_dir, "documents")
    n_tokens = token_count("text")
    return (
        grouped_running_sum(
            docs.select(
                "source",
                "doc_id",
                n_tokens.cast("int").alias("n_tokens"),
                (-n_tokens).cast("long").alias("__neg_tokens"),
                F.lit(1).cast("long").alias("__one"),
            ),
            ["source"],
            ["__neg_tokens", "doc_id"],
            "__one",
            out_col="rnk",
            mode="auto",
        )
        .filter(F.col("rnk") <= 50)
        .select("source", "doc_id", "n_tokens", "rnk")
    )


@register(
    "tx_token_budget_mix",
    tags=("TX", "A2", "R2"),
    oracle=f"""
SELECT source, doc_id, n_tokens, cum_tokens FROM (
  SELECT source, doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source
                                  ORDER BY n_tokens DESC, doc_id ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW)
              AS BIGINT) AS cum_tokens
  FROM (SELECT source, doc_id,
               CAST(len(string_split({NORM}, ' ')) AS BIGINT) AS n_tokens
        FROM documents) d) t
WHERE cum_tokens - n_tokens < 2500
""",
)
def tx_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture sampling — the data-mixing primitive of a
    training-corpus builder (DoReMi-style weighting ends here): each
    source admits its preferred docs in deterministic priority order
    until a PER-SOURCE TOKEN budget (2500) fills, because training
    cost is tokens, not documents — a doc-count cap
    (``tx_cap_per_source``) lets one source of long documents consume
    the whole compute budget. A doc is admitted iff the budget was
    not yet full when its turn came (``cum - n < budget``), so the
    crossing doc is kept and every source with any docs contributes.
    Exact integer token arithmetic; per-source mixture weights would
    simply replace the constant.

    The running sum is computed by ``grouped_running_sum``
    (operators/prefix.py) — the distributed two-level prefix scan —
    instead of one window per source, closing the skew point SCALE.md
    used to document for this family: a plain
    ``Window.partitionBy(source)`` serializes each source into ONE
    task, so a source holding most of a 100 TB corpus runs on one
    core; the scan form bounds every window partition by a range
    block regardless of the source distribution, at the cost of one
    extra balanced shuffle + a metadata-sized offsets collect.
    Value-identical to the window form (operator's equality pins,
    tests/test_prefix.py) so the oracle below is unchanged."""
    from ..operators.prefix import grouped_running_sum

    docs = _t(spark, sf_dir, "documents")
    n_tokens = token_count("text").cast("long")
    return (
        grouped_running_sum(
            docs.select(
                "source",
                "doc_id",
                n_tokens.alias("n_tokens"),
                (-n_tokens).alias("__neg_tokens"),  # priority = longest first
            ),
            ["source"],
            ["__neg_tokens", "doc_id"],
            "n_tokens",
            out_col="cum_tokens",
            mode="auto",
        )
        .filter((F.col("cum_tokens") - F.col("n_tokens")) < 2500)
        .select("source", "doc_id", "n_tokens", "cum_tokens")
    )


# --------------------------------------------------------------------------
# PII scrubbing, sequence packing, term ranking, data-quality profiling
# --------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+\d[\d -]{7,}\d"

#: deterministic PII augmentation — the synthetic corpus carries no
#: PII, so the query plants one email/IP/phone per doc (derived from
#: doc_id, identically in both engines) and the scrub must remove all
#: of them.
_PII_AUG = (
    "text || ' contact user' || doc_id || '@mail.example.com from 10.' || "
    "(doc_id % 200) || '.0.' || (doc_id % 250) || ' call +41 79 ' || "
    "(100 + doc_id % 900) || ' 22 33'"
)


@register(
    "tx_pii_scrub",
    tags=("TX",),
    oracle=f"""
WITH aug AS (SELECT doc_id, {_PII_AUG} AS raw FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(raw, '{_PII_IP}')) AS INT) AS n_ip,
       CAST(len(regexp_extract_all(raw, '{_PII_PHONE}')) AS INT) AS n_phone,
       regexp_replace(regexp_replace(regexp_replace(raw,
           '{_PII_EMAIL}', '[EMAIL]', 'g'),
           '{_PII_IP}', '[IP]', 'g'),
           '{_PII_PHONE}', '[PHONE]', 'g') AS clean_text
FROM aug
""",
)
def tx_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (emails / IPv4 / phone numbers -> typed
    placeholders) with per-category hit counts for scrub audits.
    Chained JVM-side regexp_replace — zero shuffle, streaming-safe;
    patterns restricted to Java-regex/RE2 common syntax so the oracle
    applies the byte-identical scrub."""
    from ..functions.text import pii_counts, scrub_pii

    docs = _t(spark, sf_dir, "documents")
    raw = F.expr(_PII_AUG)
    counts = pii_counts(raw)
    return docs.select(
        "doc_id",
        counts["n_email"].cast("int").alias("n_email"),
        counts["n_ip"].cast("int").alias("n_ip"),
        counts["n_phone"].cast("int").alias("n_phone"),
        scrub_pii(raw).alias("clean_text"),
    )


_PACK_CAP = 256  # tokens per packed training sequence


@register(
    "tx_pack_sequences",
    tags=("TX", "A2"),
    oracle=f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split({NORM}, ' ')) AS INT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS BIGINT) AS pack_start
  FROM d
)
SELECT doc_id, source, n_tokens,
       CAST(pack_start // {_PACK_CAP} AS BIGINT) AS pack_id,
       CAST(pack_start % {_PACK_CAP} AS BIGINT) AS pack_offset,
       (pack_start + n_tokens - 1) // {_PACK_CAP} > pack_start // {_PACK_CAP}
         AS spans_boundary
FROM c
""",
)
def tx_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for context-window training batches: docs are
    concatenated in stable (source, doc_id) order and cut every
    {cap} tokens — each doc gets the pack it starts in, its offset,
    and whether it straddles a pack boundary (GPT-style pretraining
    packing, where documents cross example boundaries).

    The running total goes through ``grouped_running_sum(mode='auto')``
    (inclusive sum, then minus the row's own tokens for the exclusive
    pack start): at a sane source distribution auto keeps the plain
    per-source window (state = one scalar), so packing parallelizes
    across sources and never needs a global sort — at 100 TB the pack
    key space is (shard, pack_id), exactly how a distributed tokenizer
    job shards its output files — and when one source dominates, the
    prefix scan bounds every window partition by a range block.
    (The scan's window arm uses an explicit ROWS frame semantics by
    construction; doc_id is unique per source, making the order
    total, which both arms require.)"""
    from ..operators.prefix import grouped_running_sum

    docs = _t(spark, sf_dir, "documents")
    d = grouped_running_sum(
        docs.select(
            "doc_id",
            "source",
            token_count("text").cast("int").alias("n_tokens"),
        ),
        ["source"],
        ["doc_id"],
        "n_tokens",
        out_col="__cum_tokens",
        mode="auto",
    ).withColumn(
        "pack_start", F.col("__cum_tokens") - F.col("n_tokens")
    )
    return d.select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr(f"pack_start div {_PACK_CAP}").alias("pack_id"),
        (F.col("pack_start") % _PACK_CAP).alias("pack_offset"),
        (
            F.expr(f"(pack_start + n_tokens - 1) div {_PACK_CAP}")
            > F.expr(f"pack_start div {_PACK_CAP}")
        ).alias("spans_boundary"),
    )


@register(
    "tx_tfidf_topk",
    tags=("TX", "A1", "A2"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({NORM}, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS INT) AS tf FROM toks GROUP BY doc_id, term
), df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS INT) AS df FROM toks GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         round(tf.tf * ln((n.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0), 6) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, score FROM (
  SELECT doc_id, term, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rnk
  FROM scored) t
WHERE rnk <= 3
""",
)
def tx_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by BM25-style TF-IDF
    (idf = ln((N - df + 0.5)/(df + 0.5) + 1), always positive).
    Shuffle profile: explode -> (doc,term) partial-agg -> term-keyed
    df agg joined back (AQE broadcasts the term dimension when small)
    -> per-doc window. The corpus-size scalar N rides in as a
    broadcast single-row cross join, not a driver collect."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").cast("int").alias("tf"))
    # df derives from tf (one row per (doc, term) already) — no second
    # explode over the corpus, and no distinct: COUNT(*) of tf rows per
    # term IS the document frequency
    df = tf.groupBy("term").agg(F.count("*").cast("int").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "score")
    )


@register(
    "dq_profile",
    tags=("A1", "T5"),
    oracle="""
SELECT 'event_id' AS col_name, COUNT(*) AS n,
       COUNT(*) - COUNT(event_id) AS n_null,
       COUNT(DISTINCT event_id) AS n_distinct,
       CAST(MIN(event_id) AS DOUBLE) AS min_val,
       CAST(MAX(event_id) AS DOUBLE) AS max_val
FROM events
UNION ALL
SELECT 'user_id', COUNT(*), COUNT(*) - COUNT(user_id),
       COUNT(DISTINCT user_id),
       CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE)
FROM events
UNION ALL
SELECT 'value', COUNT(*), COUNT(*) - COUNT(value),
       COUNT(DISTINCT value),
       MIN(value), MAX(value)
FROM events
""",
)
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the events stream (long form: one row
    per numeric column with count / null-count / distinct / min /
    max) — the pre-ingest audit every pipeline run should emit. All
    three column profiles compute in ONE pass over one scan (a single
    aggregate emitting a struct per column, then an explode — not
    three scans unioned like the naive SQL form the oracle uses)."""
    ev = _t(spark, sf_dir, "events")

    def prof(col: str) -> F.Column:
        return F.struct(
            F.lit(col).alias("col_name"),
            F.count("*").alias("n"),
            (F.count("*") - F.count(col)).alias("n_null"),
            F.count_distinct(F.col(col)).alias("n_distinct"),
            F.min(col).cast("double").alias("min_val"),
            F.max(col).cast("double").alias("max_val"),
        )

    agg = ev.agg(
        F.array(prof("event_id"), prof("user_id"), prof("value")).alias("profiles")
    )
    return agg.select(F.explode("profiles").alias("p")).select("p.*")


# --------------------------------------------------------------------------
# Corpus hygiene: vocabulary, repetition, decontamination, quality gate
# --------------------------------------------------------------------------


@register(
    "tx_vocab_topk",
    tags=("TX", "A1", "R1"),
    oracle=f"""
SELECT token, n_total, n_docs FROM (
  SELECT token, COUNT(*) AS n_total, COUNT(DISTINCT doc_id) AS n_docs
  FROM (SELECT doc_id, unnest(string_split({NORM}, ' ')) AS token FROM documents) t
  GROUP BY token
  ORDER BY n_total DESC, token ASC
  LIMIT 100) x
""",
)
def tx_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-100 tokens by total occurrences
    (tokenizer-training / stopword-discovery pass). Explode ->
    partial-agg -> TakeOrderedAndProject; the global top-k never
    global-sorts the full vocabulary."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(
            F.count("*").alias("n_total"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_total").desc(), F.col("token").asc())
        .limit(100)
    )


#: shared 3-gram repetition expression pieces (Gopher/MassiveText-style
#: intra-doc duplicate-n-gram quality signal)
_TRI_SQL = (
    f"list_transform(generate_series(1, greatest(len(string_split({NORM}, ' ')) - 2, 0)),"
    f" i -> array_to_string((string_split({NORM}, ' '))[i:i+2], ' '))"
)


@register(
    "tx_repetition",
    tags=("TX",),
    oracle=f"""
SELECT doc_id,
       CAST(len({_TRI_SQL}) AS INT) AS n_trigrams,
       CAST(len(list_distinct({_TRI_SQL})) AS INT) AS n_distinct,
       1.0 - CAST(len(list_distinct({_TRI_SQL})) AS DOUBLE)
           / greatest(len({_TRI_SQL}), 1) AS dup_ratio
FROM documents
""",
)
def tx_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: duplicate word-3-gram ratio — the
    boilerplate/template detector in standard pre-training quality
    rules. Pure array expressions per row, zero shuffle."""
    from ..functions.text import word_shingles

    docs = _t(spark, sf_dir, "documents")
    tri = word_shingles(tokens("text"), 3)
    n_all = F.size(tri)
    n_dist = F.size(F.array_distinct(tri))
    return docs.select(
        "doc_id",
        n_all.cast("int").alias("n_trigrams"),
        n_dist.cast("int").alias("n_distinct"),
        (
            F.lit(1.0)
            - n_dist.cast("double") / F.greatest(n_all, F.lit(1)).cast("double")
        ).alias("dup_ratio"),
    )


@register(
    "tx_contamination",
    tags=("TX", "DD", "J3"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split({NORM}, ' ') AS tk FROM documents
), sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, greatest(len(tk) - 4, 0)),
                                 i -> array_to_string(tk[i:i+4], ' '))) AS sh
    FROM toks) t
), probe AS (SELECT doc_id, sh FROM sh WHERE doc_id % 50 = 0),
train AS (SELECT doc_id, sh FROM sh WHERE doc_id % 50 <> 0)
SELECT t.doc_id,
       COUNT(*) AS n_shared_shingles,
       COUNT(DISTINCT p.doc_id) AS n_probe_docs
FROM train t JOIN probe p ON t.sh = p.sh
GROUP BY t.doc_id
""",
)
def tx_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: training docs sharing any word-5-gram
    with the held-out probe set (doc_id % 50 = 0 stands in for the
    eval benchmark), with shared-shingle and probe-doc counts. An
    inverted-index equi-join on the shingle — the probe side is tiny
    and broadcasts; never doc x doc. The production form salts/prunes
    ubiquitous shingles exactly like dd_ngram_jaccard."""
    from ..functions.text import word_shingles
    from ..sources.tables import fan_out

    docs = _t(spark, sf_dir, "documents")
    sh = fan_out(docs.select("doc_id", F.col("text"))).select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(tokens("text"), 5))).alias("sh"),
    )
    probe = sh.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("probe_id"), "sh"
    )
    train = sh.filter(F.col("doc_id") % 50 != 0)
    return (
        train.join(F.broadcast(probe), "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shared_shingles"),
            F.count_distinct("probe_id").alias("n_probe_docs"),
        )
    )


@register(
    "tx_quality_filter",
    tags=("TX", "T4"),
    oracle=f"""
WITH feats AS (
  SELECT doc_id,
         len(string_split({NORM}, ' ')) AS n_tokens,
         CAST(length(text) AS DOUBLE) / len(string_split({NORM}, ' ')) AS avg_tok,
         len(list_filter(string_split({NORM}, ' '), x -> x IN {EN})) AS n_stop,
         1.0 - CAST(len(list_distinct({_TRI_SQL})) AS DOUBLE)
             / greatest(len({_TRI_SQL}), 1) AS dup_ratio
  FROM documents
)
SELECT doc_id,
       n_tokens BETWEEN 5 AND 1000 AS ok_length,
       avg_tok BETWEEN 2.0 AND 12.0 AS ok_token_len,
       n_stop > 0 AS ok_stopwords,
       dup_ratio < 0.5 AS ok_repetition,
       (n_tokens BETWEEN 5 AND 1000) AND (avg_tok BETWEEN 2.0 AND 12.0)
         AND n_stop > 0 AND dup_ratio < 0.5 AS keep
FROM feats
""",
)
def tx_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style rule gate: length bounds, mean token
    length bounds, must-contain-stopwords, repetition ceiling — each
    rule exposed as its own boolean (audit: which rule killed a doc)
    plus the conjunction. One expression-only pass, zero shuffle; at
    100 TB this IS the shape of the first corpus pass. The expressions
    live in ``functions.text.quality_rule_flags`` so the composed
    curation job (``orchestrate.curate_corpus_daily``) applies exactly
    the gate this oracle verifies."""
    from ..functions.text import quality_rule_flags

    docs = _t(spark, sf_dir, "documents")
    flags = quality_rule_flags("text")
    return docs.select(
        "doc_id", *[col.alias(name) for name, col in flags.items()]
    )


#: fixed-point scale for embedding accumulation: 2^40. floor(v * 2^40)
#: is EXACT double arithmetic (power-of-two multiply + floor), so the
#: long sums are order-independent and engine-identical; quantization
#: (~9e-13) sits far below float32 input precision. Decimal casts are
#: NOT usable here: Spark and DuckDB round float->DECIMAL(20,10)
#: differently in the last place (measured ~4e-10 drift on means).
_EMB_FP = 2**40


@register(
    "emb_source_centroids",
    tags=("ANN", "A1"),
    oracle=f"""
SELECT CAST(vec_id % 20 AS BIGINT) AS src,
       CAST(i - 1 AS INT) AS pos,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {_EMB_FP}) AS BIGINT)) AS DOUBLE)
         / (COUNT(*) * {_EMB_FP}.0) AS mean_val
FROM embeddings, generate_series(1, 64) g(i)
GROUP BY vec_id % 20, i
""",
)
def emb_source_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group embedding centroids (vec_id % 20 stands in for the
    crawl-source key), long form (src, pos, n, mean_val) — the corpus
    drift/quality monitor every embedding pipeline runs. posexplode +
    one group-by on (src, pos); components accumulate as 2^-40
    fixed-point LONGs (exact, order-independent), so the means are
    stable under AQE repartitioning and bit-identical to the oracle —
    a float sum would depend on partition layout, and decimal casts
    round differently per engine. At 100 TB the (src, pos) key space
    is tiny (sources x 64), so the final agg is map-side dominated."""
    emb = _t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        (F.col("vec_id") % 20).alias("src"),
        F.posexplode("embedding").alias("pos", "val"),
    )
    return (
        exploded.groupBy("src", F.col("pos").cast("int").alias("pos"))
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(
                    F.floor(F.col("val").cast("double") * F.lit(float(_EMB_FP))).cast("long")
                ).cast("double")
                / (F.count("*") * F.lit(float(_EMB_FP)))
            ).alias("mean_val"),
        )
    )


_KM_FP = 2**40
_KM_DOT_C = (
    "(SELECT SUM(CAST({e}[i] AS DOUBLE) * CAST({c}[i] AS DOUBLE)) "
    "FROM generate_series(1, 64) g(i))"
)


@register(
    "emb_kmeans_assign",
    tags=("ANN", "A1"),
    oracle=f"""
WITH c0 AS (
  SELECT vec_id AS cent_id, embedding AS cent FROM embeddings WHERE vec_id < 8
), a1 AS (
  SELECT vec_id, cent_id FROM (
    SELECT e.vec_id, c.cent_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round({_KM_DOT_C.format(e='e.embedding', c='c.cent')}
                            / (sqrt({_KM_DOT_C.format(e='e.embedding', c='e.embedding')})
                               * sqrt({_KM_DOT_C.format(e='c.cent', c='c.cent')})), 6) DESC,
                      c.cent_id ASC) AS rn
    FROM embeddings e, c0 c) t
  WHERE rn = 1
), m AS (
  SELECT a1.cent_id, i AS pos,
         CAST(SUM(CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * {_KM_FP}) AS BIGINT)) AS DOUBLE)
           / (COUNT(*) * {_KM_FP}.0) AS mean_val
  FROM a1 JOIN embeddings e USING (vec_id), generate_series(1, 64) g(i)
  GROUP BY a1.cent_id, i
), cm AS (
  SELECT cent_id, list(mean_val ORDER BY pos) AS cent FROM m GROUP BY cent_id
)
SELECT vec_id, cent_id, cos_sim FROM (
  SELECT e.vec_id, c.cent_id,
         round({_KM_DOT_C.format(e='e.embedding', c='c.cent')}
               / (sqrt({_KM_DOT_C.format(e='e.embedding', c='e.embedding')})
                  * sqrt({_KM_DOT_C.format(e='c.cent', c='c.cent')})), 6) AS cos_sim,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round({_KM_DOT_C.format(e='e.embedding', c='c.cent')}
                          / (sqrt({_KM_DOT_C.format(e='e.embedding', c='e.embedding')})
                             * sqrt({_KM_DOT_C.format(e='c.cent', c='c.cent')})), 6) DESC,
                    c.cent_id ASC) AS rn
  FROM embeddings e, cm c) t
WHERE rn = 1
""",
)
def emb_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two deterministic Lloyd iterations of cosine k-means (k=8,
    id-seeded): assign -> fixed-point centroid means -> reassign —
    the trained-quantizer stage feeding ivf_topk's inverted lists,
    and the fixed-round form of the iterative-DataFrame pattern that
    a SQL oracle can replay end-to-end (centroid means accumulate as
    2^-40 fixed-point longs, so both engines compute bit-identical
    centroids before the final cosine argmax)."""
    from ..operators.similarity import kmeans_assign_2iter

    return kmeans_assign_2iter(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", n_centroids=8
    )


@register(
    "ann_ivf_lists",
    tags=("ANN", "A1"),
    oracle=f"""
WITH c0 AS (
  SELECT vec_id AS cent_id, embedding AS cent FROM embeddings WHERE vec_id < 16
), a1 AS (
  SELECT vec_id, cent_id, cos_sim FROM (
    SELECT e.vec_id, c.cent_id,
           round({_KM_DOT_C.format(e='e.embedding', c='c.cent')}
                 / (sqrt({_KM_DOT_C.format(e='e.embedding', c='e.embedding')})
                    * sqrt({_KM_DOT_C.format(e='c.cent', c='c.cent')})), 6) AS cos_sim,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round({_KM_DOT_C.format(e='e.embedding', c='c.cent')}
                            / (sqrt({_KM_DOT_C.format(e='e.embedding', c='e.embedding')})
                               * sqrt({_KM_DOT_C.format(e='c.cent', c='c.cent')})), 6) DESC,
                      c.cent_id ASC) AS rn
    FROM embeddings e, c0 c) t
  WHERE rn = 1
)
SELECT cent_id,
       COUNT(*) AS n_members,
       MIN(vec_id) AS min_vec,
       MAX(vec_id) AS max_vec,
       CAST(SUM(CAST(ROUND(cos_sim * 1000000) AS BIGINT)) AS BIGINT) AS sum_cos_fp
FROM a1
GROUP BY cent_id
""",
)
def ann_ivf_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-list statistics of ``ivf_topk``'s inverted-list
    blocking structure (centroids = first 16 corpus vectors): member
    count, id range, and the fixed-point sum of member->centroid
    cosines. Given fixed centroids the assignment is exact, so this is
    the IVF family's hash-checkable invariant — the analog of
    ``ann_lsh_buckets`` for sign-LSH. Cosines are rounded to 6 dp
    before the 1e6 fixed-point sum, so the long accumulation is exact
    and order-independent (no float-sum partition dependence)."""
    from ..operators.similarity import ivf_list_assign

    a = ivf_list_assign(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", n_centroids=16
    )
    return a.groupBy("cent_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("vec_id").alias("min_vec"),
        F.max("vec_id").alias("max_vec"),
        F.sum(F.round(F.col("cos_sim") * 1_000_000).cast("long")).alias("sum_cos_fp"),
    )


@register(
    "emb_pq_codes_battery",
    tags=("ANN", "A1"),
    oracle=f"""
WITH sub AS (SELECT CAST(UNNEST(range(4)) AS INTEGER) AS subspace),
cb AS (
  SELECT v.vec_id AS code, s.subspace, v.embedding
  FROM embeddings v, sub s WHERE v.vec_id < 8
), d0 AS (
  SELECT e.vec_id, c.subspace, c.code,
         CAST(ROUND((
           SELECT SUM((CAST(e.embedding[c.subspace * 16 + i] AS DOUBLE)
                       - CAST(c.embedding[c.subspace * 16 + i] AS DOUBLE))
                      * (CAST(e.embedding[c.subspace * 16 + i] AS DOUBLE)
                         - CAST(c.embedding[c.subspace * 16 + i] AS DOUBLE)))
           FROM generate_series(1, 16) g(i)) * 1000000) AS BIGINT) AS dist_fp
  FROM embeddings e, cb c
), a0 AS (
  SELECT vec_id, subspace, code, dist_fp FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, subspace ORDER BY dist_fp ASC, code ASC) AS rn
    FROM d0) t WHERE rn = 1
), m AS (
  SELECT a0.subspace, a0.code, i AS pos,
         CAST(SUM(CAST(FLOOR(CAST(e.embedding[a0.subspace * 16 + i] AS DOUBLE)
                             * {_KM_FP}) AS BIGINT)) AS DOUBLE)
           / (COUNT(*) * {_KM_FP}.0) AS mean_val
  FROM a0 JOIN embeddings e USING (vec_id), generate_series(1, 16) g(i)
  GROUP BY a0.subspace, a0.code, i
), cm AS (
  SELECT subspace, code, list(mean_val ORDER BY pos) AS csub
  FROM m GROUP BY subspace, code
), cb1 AS (
  SELECT c.subspace, c.code,
         COALESCE(cm.csub,
           (SELECT list(CAST(c.embedding[c.subspace * 16 + i] AS DOUBLE) ORDER BY i)
            FROM generate_series(1, 16) g(i))) AS csub
  FROM cb c LEFT JOIN cm ON cm.subspace = c.subspace AND cm.code = c.code
), d1 AS (
  SELECT e.vec_id, c.subspace, c.code,
         CAST(ROUND((
           SELECT SUM((CAST(e.embedding[c.subspace * 16 + i] AS DOUBLE) - c.csub[i])
                      * (CAST(e.embedding[c.subspace * 16 + i] AS DOUBLE) - c.csub[i]))
           FROM generate_series(1, 16) g(i)) * 1000000) AS BIGINT) AS dist_fp
  FROM embeddings e, cb1 c
)
SELECT 'fixed' AS codebook, vec_id, subspace, code, dist_fp FROM a0
UNION ALL
SELECT 'trained' AS codebook, vec_id, subspace, code, dist_fp FROM (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id, subspace ORDER BY dist_fp ASC, code ASC) AS rn
  FROM d1) t
WHERE rn = 1
""",
)
def emb_pq_codes_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ code assignment under BOTH quantizers in one tagged table —
    the r7 consolidation of the former emb_pq_codes (fixed codebook)
    and emb_pq_codes_trained entries.

    ``codebook='fixed'``: each 64-dim embedding split into 4x16-dim
    subvectors, each mapped to its nearest codebook entry (codebook =
    matching slices of the first 8 corpus vectors) by squared L2,
    rounded to 1e-6 fixed point before the argmin. This is the
    compression stage of IVF-PQ — with ``emb_kmeans_assign`` (the
    trained coarse quantizer) and ``ann_ivf_lists`` (the inverted
    lists) it completes the exact, oracle-checkable skeleton of a
    billion-scale ANN index; only the top-k scorers stay approximate.
    One codebook broadcast, one map-side ``min_by`` — no data shuffle.

    ``codebook='trained'``: the same assignment under the TRAINED
    codebook (``trained_pq_codebook``: the id-seeded entries refined
    by one deterministic Lloyd iteration per subspace — assign,
    fixed-point per-dimension means, seed fallback for empty codes,
    reassign). This is the quantizer ``build_pq_index(train=True)``
    persists, so the oracle pairing here keeps the trained index path
    hash-checkable end to end: the structure is exact even though the
    top-k search built on it is approximate. Means accumulate
    floor(val * 2^40) longs (exact, order-independent), so both
    engines derive bit-identical codebooks before the final argmin.

    The union costs nothing extra at scale: both arms share the one
    corpus scan per assignment and broadcast dimension-sized
    codebooks; a caller wanting one arm filters on the tag and Spark
    prunes the other arm's plan via the pushed filter."""
    from ..operators.similarity import pq_assign_codes, trained_pq_codebook

    emb = _t(spark, sf_dir, "embeddings")
    fixed = pq_assign_codes(
        emb, "vec_id", "embedding", n_subspaces=4, sub_dim=16, n_codes=8
    )
    cb = trained_pq_codebook(
        emb, "vec_id", "embedding", n_subspaces=4, sub_dim=16, n_codes=8
    )
    trained = pq_assign_codes(
        emb, "vec_id", "embedding", 4, 16, 8, codebook=cb
    )
    return fixed.select(
        F.lit("fixed").alias("codebook"), "*"
    ).unionByName(trained.select(F.lit("trained").alias("codebook"), "*"))


@register("ann_pq_adc_topk", headline=True, tags=("ANN",))
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors for query vectors (vec_id < 10) via
    PQ asymmetric distance computation over the ``emb_pq_codes_battery``
    codes — the memory-resident search mode of an IVF-PQ index (the
    query scans 4 small ints per corpus vector, never a raw float
    array). ``rerank_factor=20`` is the production setting: the ADC
    shortlist is 20x the final k, then exact-reranked — measured
    recall@5 = 0.84 on the test corpus (0.68 at 10x), gated >= 0.8 in
    pytest since the whole pipeline is deterministic. Inherently
    approximate (codes quantize the corpus), so no SQL oracle: recall
    vs ``ann_topk_bruteforce`` is gated in pytest, and the code
    assignment it runs on is oracle-verified exactly by
    ``emb_pq_codes_battery``."""
    from ..operators.similarity import pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, rerank_factor=20
    )


@register("ann_ivfpq_topk", tags=("ANN",))
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF-PQ search (coarse probe + ADC over probed lists only +
    exact re-rank) — the composition of the two oracle-verified index
    structures (``ann_ivf_lists`` coarse lists, ``emb_pq_codes_battery``
    compression) into the search a billion-vector deployment runs: the
    ADC scan touches only the ``n_probe/n_centroids`` fraction of the
    code table selected by the coarse probe, and raw vectors are read
    for just |Q| x k x rerank_factor shortlist rows. Approximate by
    construction (both the probe and the codes can miss a true
    neighbor). RESIDUAL-encoded (classic IVFADC): codes quantize
    ``vector - coarse centroid``, so the code budget covers within-list
    variance — measured recall@5 = 0.94 vs 0.92 raw at n_probe=4,
    rerank=20 on the test corpus, gated >= 0.92 (and >= raw) in pytest
    (deterministic fixed-point pipeline, so the measurement is
    stable)."""
    from ..operators.similarity import ivf_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_pq_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        n_centroids=16,
        n_probe=4,
        rerank_factor=20,
        residual=True,
    )


@register(
    "ann_ivfpq_trained_e2e", headline=True, multi_action=True, tags=("ANN",)
)
def ann_ivfpq_trained_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN lifecycle in one benched flow:
    ``build_ivfpq_index(train=True, residual=True)`` (train both
    quantizers, encode RESIDUALS against the trained coarse centroids
    — classic IVFADC — persist centroids + inverted lists + PQ codes +
    generation-tokened commit marker) then ``search_ivfpq_index`` off
    the persisted artifacts —
    what a deployment actually runs, as opposed to the from-scratch
    scorers that rebuild structures per query. Benched as a headline
    so the round-over-round record tracks the full composition
    (SCALE.md probes it at 32x corpus); multi_action because the build
    is several Spark jobs (train, persist, commit) before the search.
    Approximate by construction (probe + codes can miss a neighbor),
    so no SQL oracle — the constituent structures are oracle-paired
    (``emb_pq_codes_battery``, ``emb_kmeans_assign``,
    ``ann_ivf_lists``) and the persisted-search path is pytest-gated
    bit-identical to the from-scratch scorer, recall-gated trained >=
    fixed (tests/test_ann_index.py)."""
    from ..operators.ann_index import build_ivfpq_index, search_ivfpq_index
    from ..session import session_scratch_dir

    from .stage_timing import time_stage

    emb = _t(spark, sf_dir, "embeddings")
    path = session_scratch_dir(spark, "ivfpq_trained_e2e") + "/idx"
    # stage attribution for the bench record (r10 ask #6): the build is
    # the eager span; the search plan returned below executes inside
    # the harness's count(), so the harness derives search = total -
    # build rather than this function pretending to time it
    with time_stage("ann_ivfpq_trained_e2e", "build"):
        build_ivfpq_index(
            emb,
            path,
            n_centroids=16,
            n_subspaces=4,
            sub_dim=16,
            n_codes=8,
            train=True,
            residual=True,
        )
    return search_ivfpq_index(
        spark,
        path,
        emb.filter(F.col("vec_id") < 10),
        emb,
        n_probe=4,
        k=5,
    )


@register("dd_index_probe", headline=True, multi_action=True, tags=("DD",))
def dd_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup shape as a benched headline: a standing
    persisted MinHash+LSH index over ~90% of the corpus (built ONCE per
    bench session into a non-wiped cache dir — the untimed warm-up run
    pays it), probed by a fixed ~10% delta through the point-probe
    partitioned layout (``bucket_prefix_len=2``: the probe pushes a
    literal ``bp IN (...)`` partition filter, so the corpus-side scan
    reads only the directories the delta's buckets can live in).
    Repeated bench runs therefore measure the O(delta) PROBE cost —
    hash the delta once (localCheckpointed), one pruned band-table
    join — which is the path a daily-ingest deployment pays per batch,
    the way ``ann_ivfpq_trained_e2e`` tracks ANN's full lifecycle.

    No SQL oracle by design (kept out of the driver window like the
    other no-oracle entries): probe ≡ in-memory blocking is
    pytest-proven (tests/test_dedup_index.py), and the in-memory
    operator is itself oracle-paired (``dd_minhash_lsh``).
    ``allow_short=True`` because the synthetic corpus' unshinglable
    tail is irrelevant to probe cost; the loud-gate semantics have
    their own tests. Cites reference scripts/pricenow_etl.py:329-358
    (incremental update-vs-existing contract, re-expressed for a
    curation index)."""
    from ..fs import fs_read_text, fs_write_text, try_read_parquet
    from ..operators.dedup_index import (
        build_dedup_index,
        query_dedup_candidates,
    )
    from ..session import session_cache_dir

    docs = _t(spark, sf_dir, "documents")
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    root = session_cache_dir(spark, f"dd_index_probe_{sf_tag}")
    path = root + "/idx"
    # the 90% cut is slice-feeder state, not probe cost: persist it
    # beside the session-cached index (the _bench_slice_state pattern)
    # so timed runs read a text marker instead of re-aggregating the
    # corpus — one fewer job + documents scan per probe (r13
    # optimization; the cut is a pure function of the sf dir, so the
    # cached value is exactly what the agg would recompute)
    if try_read_parquet(spark, f"{path}/meta") is None:
        cut = int(docs.agg((F.max("doc_id") * 0.9).cast("long")).collect()[0][0])
        build_dedup_index(
            docs.filter(F.col("doc_id") <= F.lit(cut)),
            path,
            k_shingle=3,
            n_hashes=8,
            bands=4,
            allow_short=True,
            bucket_prefix_len=2,
        )
        fs_write_text(spark, f"{root}/cut.txt", str(cut))
    else:
        cut_txt = fs_read_text(spark, f"{root}/cut.txt")
        if cut_txt:
            cut = int(cut_txt.strip())
        else:
            # missing marker next to a standing index: fall back to the
            # agg the marker caches (never rebuild here), then WRITE the
            # marker (ADVICE r13) — the cut is a pure function of the sf
            # dir, so caching it here is exactly as safe as in the build
            # arm, and later probes in this session stop re-paying the
            # job the marker exists to remove
            cut = int(
                docs.agg((F.max("doc_id") * 0.9).cast("long")).collect()[0][0]
            )
            fs_write_text(spark, f"{root}/cut.txt", str(cut))
    delta = docs.filter(F.col("doc_id") > F.lit(cut))
    return query_dedup_candidates(spark, path, delta)


def _bench_slice_state(
    spark: SparkSession, root: str, docs: DataFrame, n_slices: int
) -> tuple[int, int | None]:
    """Shared slice-feeder state for the session-cached lifecycle
    headlines (``dd_cluster_merge``, ``llm_curation_e2e``): returns
    ``(max_id, slice_idx)`` with ``slice_idx=None`` on the first
    invocation of a bench session (standing state not yet built —
    ``max_id`` freshly scanned; cached afterwards so timed runs never
    rescan the corpus for slicing). The counter clamps at the last
    slice so exhausted sessions replay it through each headline's
    idempotent fallback. One implementation for both headlines so the
    crash-replay contract (advance only after committed work, via
    ``_bench_slice_advance``) cannot drift between them."""
    from ..fs import fs_read_text

    meta = fs_read_text(spark, f"{root}/meta.txt")
    if meta is None:
        return int(docs.agg(F.max("doc_id")).collect()[0][0]), None
    counter = fs_read_text(spark, f"{root}/counter.txt")
    idx = min(int(counter.strip()) if counter else 0, n_slices - 1)
    return int(meta.strip()), idx


def _bench_slice_bounds(
    max_id: int, slice_idx: int, n_slices: int
) -> tuple[int, int]:
    """(lo, hi] id bounds of slice ``slice_idx``: the standing base is
    ids <= 52% of max_id, each slice the next ~2%, the last slice
    absorbing the tail."""
    lo = max_id * (52 + 2 * slice_idx) // 100
    hi = (
        max_id
        if slice_idx == n_slices - 1
        else max_id * (54 + 2 * slice_idx) // 100
    )
    return lo, hi


def _bench_slice_advance(
    spark: SparkSession, root: str, max_id: int, next_idx: int
) -> None:
    """Persist the feeder state AFTER the slice's work committed — the
    dd_cluster_merge crash lesson: advancing first wedged every later
    run on the predecessor's pending state."""
    from ..fs import fs_write_text

    fs_write_text(spark, f"{root}/meta.txt", str(max_id))
    fs_write_text(spark, f"{root}/counter.txt", str(next_idx))


@register("dd_cluster_merge", headline=True, multi_action=True, tags=("DD",))
def dd_cluster_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The O(delta) persisted-cluster curation loop as a benched
    headline (the ``dd_index_probe`` precedent, extended to cluster
    state): a standing near-dup index + persisted cluster assignments
    over ~52% of the corpus are built ONCE per bench session into a
    non-wiped cache dir — the untimed warm-up run pays it — and each
    invocation ingests the NEXT ~2% id-slice through
    ``ingest_and_update_clusters`` (index append → candidate probe →
    incremental merge), so every TIMED run measures a REAL delta merge
    against a standing corpus, not a replay; after the 24 slices run
    out, the last slice replays through the already-appended fallback
    (probe + idempotent merge, no re-append — still exercising the
    pruned endpoint resolve and the probe). The slice counter advances
    only AFTER a successful merge, and a replayed slice takes the same
    fallback, so a timed run that crashes mid-merge leaves the
    headline self-healing: the retry re-runs the SAME slice, whose
    pending-operation token (its own pair fingerprint) permits exactly
    that replay. This is the path a daily-ingest deployment pays per
    batch, and the piece of r9's probe_r9 flat-incremental-cost story
    that previously had no round-over-round record: a regression in
    the merge path (e.g. broken min/max base pruning) now shows in
    BENCH_r{N} instead of waiting for someone to re-run the probe.

    No SQL oracle by design (and never pinned into the driver
    window): merge ≡ from-scratch pairs+components recompute over the
    union is pytest-pinned (tests/test_cluster_index.py, incl. the
    bridge-two-clusters case and a hypothesis property pin against a
    union-find reference), and the constituent structures are
    oracle-paired (``dd_minhash_lsh``, ``dd_cluster_components``).
    Returns the merge stats as one row (slice id + merge counters).
    Cites reference scripts/pricenow_etl.py:329-358 (incremental
    update-vs-existing contract)."""
    from ..fs import fs_read_text, fs_write_text, try_read_parquet
    from ..operators.cluster_index import (
        build_cluster_assignments,
        ingest_and_update_clusters,
        merge_cluster_delta,
    )
    from ..operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from ..operators.dedup_index import build_dedup_index
    from ..session import session_cache_dir, tiny_local_df

    n_slices = 24
    docs = _t(spark, sf_dir, "documents")
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    root = session_cache_dir(spark, f"dd_cluster_merge_{sf_tag}")
    idx, cl = f"{root}/idx", f"{root}/cl"
    max_id, slice_idx = _bench_slice_state(spark, root, docs, n_slices)
    if slice_idx is None or try_read_parquet(spark, f"{cl}/meta") is None:
        # once per bench session: standing index + clustering over the
        # base ~52% (same geometry as dd_index_probe)
        base = docs.filter(F.col("doc_id") <= F.lit(max_id * 52 // 100))
        # overwrite=True: a crash between this build and the meta.txt
        # write leaves a half-built idx in the NEVER-WIPED session cache
        # dir; without it every later invocation would wedge on
        # path-already-exists instead of rebuilding
        build_dedup_index(
            base,
            idx,
            k_shingle=3,
            n_hashes=8,
            bands=4,
            allow_short=True,
            bucket_prefix_len=2,
            overwrite=True,
        )
        sigs = minhash_signatures(base, "doc_id", "text", 3, 8)
        pairs = lsh_candidate_pairs(sigs, "doc_id", 8, 4)
        build_cluster_assignments(
            connected_components(pairs), cl, overwrite=True
        )
        fs_write_text(spark, f"{root}/meta.txt", str(max_id))
        slice_idx = 0
    lo, hi = _bench_slice_bounds(max_id, slice_idx, n_slices)
    delta = docs.filter((F.col("doc_id") > F.lit(lo)) & (F.col("doc_id") <= F.lit(hi)))
    from .stage_timing import record_stages, time_stage

    stage_sink: dict[str, float] = {}
    try:
        stats = ingest_and_update_clusters(
            delta, idx, cl, allow_short=True, stage_timings=stage_sink
        )
        record_stages("dd_cluster_merge", stage_sink)
    except ValueError as exc:
        if "already exist" not in str(exc):
            raise
        # some of this slice's ids are already in the index — a prior
        # timed run crashed after (or inside) the append, or the
        # slices ran out and the last one is replaying. The append
        # guard fires on ANY overlap, so prove the WHOLE slice landed
        # before treating this as a complete replay: a PARTIAL crashed
        # append must go through the documented repair
        # (fsck_dedup_index(repair=True) + re-append), not a silent
        # probe over missing docs. The completeness invariant (per-id
        # band-row counts over the SHINGLABLE ids — unshinglable docs
        # legitimately carry zero rows under allow_short) lives in
        # dedup_index next to the append that creates it.
        from ..operators.dedup_index import (
            append_gap_ids,
            query_dedup_candidates,
        )

        n_gaps = append_gap_ids(spark, idx, delta, text_col="text").count()
        if n_gaps:
            raise RuntimeError(
                f"dd_cluster_merge: slice {slice_idx} is PARTIALLY "
                f"appended ({n_gaps} shinglable id(s) not fully banded "
                "in the index) — a crashed append, not a replay; run "
                f"fsck_dedup_index('{idx}', repair=True) and retry"
            ) from exc
        # complete replay: the loop's tail is the documented recovery —
        # probe + idempotent merge, no re-append (the crashed merge's
        # pending token, if any, names THIS slice's pairs and only
        # this replay can re-commit it)
        pairs = query_dedup_candidates(spark, idx, delta, text_col="text")
        with time_stage("dd_cluster_merge", "probe_merge"):
            stats = merge_cluster_delta(
                spark, cl, pairs, src_col="probe_id", dst_col="corpus_id"
            )
    # the counter advances only AFTER the merge committed: advancing
    # first meant a crash mid-merge left the NEXT invocation appending
    # slice k+1 onto an index whose pending token names slice k —
    # every later run would append yet another slice and refuse,
    # wedging the headline until someone wiped the session cache
    _bench_slice_advance(spark, root, max_id, slice_idx + 1)
    return tiny_local_df(
        spark,
        [
            (
                slice_idx,
                stats["merged_labels"],
                stats["new_nodes"],
                stats["log_entries"],
            )
        ],
        "slice_idx long, merged_labels long, new_nodes long, log_entries long",
    )


@register("llm_curation_e2e", headline=True, multi_action=True, tags=("TX", "DD"))
def llm_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED persisted daily-curation job
    (``orchestrate.curate_corpus_daily`` — r10 verdict ask #4's one
    function a data team calls) as a benched headline, slice-fed like
    ``dd_cluster_merge``: the untimed warm-up invocation pays the
    standing state (the base ~52% of the corpus curated end to end —
    gate, scrub, index build, initial merge, first snapshot), and each
    timed run curates the NEXT ~2% id-slice through the full
    composition: quality gate → PII scrub → index append → candidate
    probe → incremental cluster merge (under the writer claim, with
    the measured-knee log auto-compaction) → canonical keep table →
    staleness-gated snapshot. ``snapshot_min_rows_behind`` is set to
    the streaming jobs' default threshold, so timed runs measure the
    production skip path (one provenance read + one resolved count)
    with the occasional real publish when enough rows accumulate —
    exactly the cost profile of the unattended daily loop. After the
    slices run out, the last slice replays through the job's verified
    no-op path (completeness-proven replay, merge contracts to
    self-edges, snapshot skips) — still exercising every stage's read
    side. The slice counter advances only after a successful run, so a
    crashed run self-heals by replaying its own slice (the same crash
    contract ``dd_cluster_merge`` pins).

    No SQL oracle by design (and never pinned into the driver
    window): every stage is verified elsewhere — the gate is the
    oracle-paired ``tx_quality_filter`` expressions
    (``quality_rule_flags``), the scrub is ``tx_pii_scrub``'s, merge ≡
    recompute is pytest-pinned, and the composition's audit counts +
    idempotency are pytest-pinned in tests/test_orchestrate.py.
    Returns the audit as one row. Cites reference
    scripts/pricenow_etl.py:270-366 (the full fetch → transform →
    upsert daily pipeline this composition generalizes to corpus
    curation)."""
    from ..orchestrate import curate_corpus_daily
    from ..session import session_cache_dir, tiny_local_df

    n_slices = 24
    docs = _t(spark, sf_dir, "documents")
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    root = session_cache_dir(spark, f"llm_curation_e2e_{sf_tag}")
    idx, cl, snap = f"{root}/idx", f"{root}/cl", f"{root}/snap"
    max_id, slice_idx = _bench_slice_state(spark, root, docs, n_slices)
    if slice_idx is None:
        lo, hi = -1, max_id * 52 // 100  # the standing base, warm-up-paid
        slice_idx = -1
    else:
        lo, hi = _bench_slice_bounds(max_id, slice_idx, n_slices)
    delta = docs.filter(
        (F.col("doc_id") > F.lit(lo)) & (F.col("doc_id") <= F.lit(hi))
    )
    from .stage_timing import record_stages

    stage_sink: dict[str, float] = {}
    audit = curate_corpus_daily(
        delta,
        idx,
        cl,
        snap,
        snapshot_min_rows_behind=100_000,
        stage_timings=stage_sink,
    )
    record_stages("llm_curation_e2e", stage_sink)
    # state advances only AFTER the run committed (same contract as
    # dd_cluster_merge: a crash mid-run replays the same slice)
    _bench_slice_advance(spark, root, max_id, slice_idx + 1)
    return tiny_local_df(
        spark,
        [
            (
                slice_idx,
                audit["quality"]["docs_in"],
                audit["quality"]["kept"],
                audit["pairs"],
                audit["merge"]["merged_labels"],
                audit["merge"]["new_nodes"],
                audit["keep"]["components"],
                bool(audit["snapshot"]["published"]),
            )
        ],
        "slice_idx long, docs_in long, quality_kept long, pairs long, "
        "merged_labels long, new_nodes long, keep_components long, "
        "snapshot_published boolean",
    )


@register(
    "tx_dedup_keep_best",
    tags=("DD",),
    oracle=f"""
WITH {_MINHASH_SH},
sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id),
bands AS ({_BAND_SQL}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT a, a FROM edges
    UNION
    SELECT r.src, e.b FROM r JOIN edges e ON r.dst = e.a
  ) SELECT * FROM r
),
comp AS (SELECT src AS node, MIN(dst) AS component FROM reach GROUP BY src),
lab AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, d.n_chars
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY component ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM lab
)
SELECT component,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
       COUNT(*) AS n_members,
       MAX(n_chars) AS best_n_chars
FROM r GROUP BY component
""",
)
def tx_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection — the step that turns near-dup
    clusters into an actual deduplicated corpus: every document joins
    its MinHash-LSH connected component (singletons are their own
    component), and per component the longest document wins (ties to
    the lower doc_id). Output is one row per surviving component with
    the kept doc and the cluster size, i.e. the dedup audit table a
    training-data pipeline ships alongside the filtered corpus.

    Scale shape: the component labels come from the large-star/small-
    star contraction (log^2 rounds); the keep choice is a single
    ``max_by`` aggregation on the component key — one shuffle, no
    window sort, and the doc->component join is key-partitioned on
    doc_id like every other dedup stage."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sigs = minhash_signatures(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k_shingle=3, n_hashes=8
    )
    pairs = lsh_candidate_pairs(sigs, "doc_id", n_hashes=8, bands=4)
    comp = connected_components_twophase(pairs)
    labeled = docs.join(comp, docs["doc_id"] == comp["node"], "left").select(
        docs["doc_id"],
        F.coalesce(comp["component"], docs["doc_id"]).alias("component"),
        "n_chars",
    )
    from ..operators.dedup import keep_best_per_component

    return keep_best_per_component(
        labeled, "doc_id", "n_chars",
        keep_alias="keep_doc_id", best_alias="best_n_chars",
    )


@register(
    "tx_ngram_lm_score",
    tags=("TX", "A1", "J1"),
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
  FROM (SELECT doc_id, string_split({NORM}, ' ') AS t FROM documents)
),
big AS (
  SELECT a.doc_id, a.w AS w1, b.w AS w2
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
cbd AS (SELECT doc_id, w1, w2, COUNT(*) AS c_doc FROM big GROUP BY ALL),
cb  AS (SELECT w1, w2, SUM(c_doc) AS c_big FROM cbd GROUP BY w1, w2),
cu  AS (SELECT w1, SUM(c_big) AS c_uni FROM cb GROUP BY w1),
sc  AS (SELECT cb.w1, cb.w2, (cb.c_big * 1000000) // cu.c_uni AS score
        FROM cb JOIN cu USING (w1)),
doc AS (
  SELECT cbd.doc_id,
         SUM(sc.score * cbd.c_doc) AS s,
         SUM(cbd.c_doc) AS n_big
  FROM cbd JOIN sc USING (w1, w2)
  GROUP BY cbd.doc_id)
SELECT doc_id, CAST(s // n_big AS BIGINT) AS lm_score,
       CAST(n_big AS BIGINT) AS n_bigrams
FROM doc ORDER BY lm_score ASC, doc_id ASC LIMIT 100
""",
)
def tx_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality filter (the CCNet/Gopher-style 'perplexity'
    gate, relationally approximated): build a bigram conditional-
    probability model FROM the corpus itself, score every document by
    its mean bigram probability, and surface the 100 least-natural
    documents — the rows a curation pipeline routes to quarantine.

    Model and score are EXACT integer arithmetic end-to-end so the
    result is hash-verifiable: per-bigram score is
    (count(w1,w2) * 1e6) div count(w1 as bigram head) — a fixed-point
    MLE conditional probability — and a doc's lm_score is the
    count-weighted integer mean over its bigrams. No logs, no doubles,
    no ulp drift between engines; `div` keeps it exact at any corpus
    size (a double mantissa would silently round past 2^53 pairs).

    Scale shape: ONE shingle explosion feeds a (doc_id, w1, w2)
    aggregate; the global bigram model (cb) and head totals (cu) both
    derive from THAT aggregate, not from re-scanning the explosion —
    the exchange on the per-doc counts is reused by both branches
    (AQE ReusedExchange), and the model join runs on aggregated
    bigram TYPES (vocabulary-sized, Zipf-bounded), never on token
    instances. Per-doc scoring joins the model back to doc-level
    counts — key-partitioned on (w1, w2) — and the final top-100 is a
    TakeOrderedAndProject, never a global sort. At 100 TB the model
    tables are the only broadcast-questionable piece: they stay
    shuffle joins, bounded by vocabulary^2 observed (not possible)
    bigrams, i.e. ~|corpus| in the worst case and ~millions in
    practice."""
    docs = _t(spark, sf_dir, "documents")
    t = tokens("text")
    # bigrams without a positional self-join: zip the token array with
    # its own tail — map-side, no shuffle, no second explosion.
    bg = F.zip_with(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    big = docs.select("doc_id", F.explode(bg).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    cbd = big.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("c_doc")
    )
    cb = cbd.groupBy("w1", "w2").agg(F.sum("c_doc").alias("c_big"))
    cu = cb.groupBy("w1").agg(F.sum("c_big").alias("c_uni"))
    sc = cb.join(cu, "w1").select(
        "w1", "w2", F.expr("(c_big * 1000000) div c_uni").alias("score")
    )
    doc = (
        cbd.join(sc, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("score") * F.col("c_doc")).alias("s"),
            F.sum("c_doc").alias("n_big"),
        )
    )
    return (
        doc.select(
            "doc_id",
            F.expr("s div n_big").alias("lm_score"),
            F.col("n_big").cast("long").alias("n_bigrams"),
        )
        .orderBy(F.col("lm_score").asc(), F.col("doc_id").asc())
        .limit(100)
    )
