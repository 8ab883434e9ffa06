"""Dedup + text-analysis queries on `documents` — the LLM-pipeline surface.

These extend the reference's capability set per BASELINE.json's north
star: exact dedup, MinHash-LSH, SimHash, n-gram Jaccard, language-ID,
quality scoring, token counting, fingerprinting. Each parity-checked
query has a string-for-string DuckDB mirror (md5-based hashing, token
joins), so even the fuzzy-dedup paths are machine-verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.parity import ratio
from ..functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    char_count,
    est_bpe_tokens,
    fingerprint,
    marker_hits,
    punct_count,
    token_count,
)
from ..operators import dedup as D
from ..sources.readers import ensure_min_partitions, load_table
from . import register

# ---------------------------------------------------------------------------
# d1 — exact dedup over a doubled corpus (every doc ingested twice, like a
# replayed Kafka topic): fingerprint → keeper + copy count. Generalizes
# reference W1/S9 (ROW_NUMBER dedup / Hudi upsert-by-key storage).
# ---------------------------------------------------------------------------
_D1_ORACLE = """
WITH doubled AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
)
SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM doubled
GROUP BY 1
"""


@register("d1_exact_dedup", _D1_ORACLE)
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup of a twice-ingested corpus (hash-groupBy)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + F.lit(1000000)))
    return D.exact_dedup(doubled)


# ---------------------------------------------------------------------------
# d2 — exact word-3-gram Jaccard, top-50 most-similar pairs. The verify
# stage of the fuzzy-dedup ladder, run on pairs sharing ≥1 shingle.
# ---------------------------------------------------------------------------
_D2_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
), tok AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i FROM toks
), tri AS (
  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM tok a
  JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  JOIN tok c ON c.doc_id = a.doc_id AND c.i = a.i + 2
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY 1
), common AS (
  SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS n_common
  FROM tri x JOIN tri y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT d1, d2, n_common,
         CAST(n_common AS DOUBLE) / CAST(s1.n + s2.n - n_common AS DOUBLE) AS jaccard
  FROM common
  JOIN sizes s1 ON s1.doc_id = d1
  JOIN sizes s2 ON s2.doc_id = d2
), ranked AS (
  SELECT d1, d2, n_common, jaccard,
         ROW_NUMBER() OVER (ORDER BY jaccard DESC, d1 ASC, d2 ASC) AS rn
  FROM scored
)
SELECT d1, d2, n_common, jaccard FROM ranked WHERE rn <= 50
"""


@register("d2_ngram_jaccard_topk", _D2_ORACLE)
def d2_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 near-duplicate pairs by exact 3-gram Jaccard."""
    docs = load_table(spark, sf_dir, "documents")
    # canonical variant: shingle join over distinct normal forms only —
    # same pairs bit-for-bit, duplication-proof (see operators/dedup.py)
    pairs = D.jaccard_pairs_canonical(docs, n=3)
    # orderBy+limit → TakeOrderedAndProject: each partition keeps its own
    # top-50, the driver merges — unlike a global row_number() window,
    # which would funnel EVERY pair through one task. Same deterministic
    # result (unique (d1,d2) tie-break), scale-safe plan.
    return (
        pairs.orderBy(F.desc("jaccard"), F.asc("d1"), F.asc("d2"))
        .limit(50)
        .select("d1", "d2", "n_common", "jaccard")
    )


# ---------------------------------------------------------------------------
# d3 — language-ID heuristic: marker-token evidence per language, argmax
# with (hits DESC, lang ASC) tie-break, 'und' when no evidence.
# ---------------------------------------------------------------------------


def _lang_case_sql() -> str:
    hits = {
        lang: (
            "(SELECT COUNT(*) FROM unnest(string_split_regex(lower(trim(text)), '\\s+')) AS u(tok) "
            f"WHERE tok IN ({', '.join(repr(m) for m in markers)}))"
            if markers
            else "0"
        )
        for lang, markers in LANG_MARKERS.items()
    }
    return (
        "SELECT doc_id, lang AS labeled_lang, "
        + ", ".join(f"CAST({expr} AS BIGINT) AS hits_{lang}" for lang, expr in hits.items())
        + " FROM documents"
    )


_D3_ORACLE = f"""
WITH h AS ({_lang_case_sql()}),
u AS (
  SELECT doc_id, labeled_lang, lang, hits
  FROM h UNPIVOT (hits FOR lang IN (hits_en AS 'en', hits_es AS 'es', hits_de AS 'de',
                                    hits_fr AS 'fr', hits_zh AS 'zh'))
), r AS (
  SELECT doc_id, labeled_lang, lang, hits,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn
  FROM u
)
SELECT doc_id, labeled_lang,
       CASE WHEN hits = 0 THEN 'und' ELSE lang END AS predicted_lang,
       hits AS marker_hits
FROM r WHERE rn = 1
"""


@register("d3_lang_id", _D3_ORACLE)
def d3_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID with deterministic argmax."""
    # Fan out first: compact doc parquet scans as ONE row group = one
    # task, serializing the per-doc tokenize/match CPU on one core
    # (found at the 10x scale run: 16x superlinear). No-op on a real
    # multi-split lake scan.
    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    h = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[marker_hits("text", m).alias(f"hits_{lang}") for lang, m in LANG_MARKERS.items()],
    )
    stacked = h.select(
        "doc_id",
        "labeled_lang",
        F.expr(
            "stack({n}, {args}) AS (lang, hits)".format(
                n=len(LANG_MARKERS),
                args=", ".join(f"'{lang}', hits_{lang}" for lang in LANG_MARKERS),
            )
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("lang"))
    return (
        stacked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "labeled_lang",
            F.when(F.col("hits") == 0, F.lit("und")).otherwise(F.col("lang")).alias("predicted_lang"),
            F.col("hits").alias("marker_hits"),
        )
    )


# ---------------------------------------------------------------------------
# d4 — per-document text statistics + composite quality score.
# quality = 0.4·min(tokens,100)/100 + 0.3·stopword_ratio + 0.3·(1 − punct_ratio)
# (every term an int/int double division; fixed multiply-add order).
# ---------------------------------------------------------------------------
_STOP_IN = ", ".join(repr(s) for s in STOPWORDS)
_D4_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm,
         string_split_regex(lower(trim(text)), '\\s+') AS toks,
         text
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(length(norm) AS BIGINT) AS n_chars,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
         CAST((SELECT COUNT(*) FROM unnest(toks) AS u(tok) WHERE tok IN ({_STOP_IN})) AS BIGINT)
             AS n_stopwords,
         CAST(ceil(CAST(length(norm) AS BIGINT) / 4.0) AS BIGINT) AS est_bpe_tokens,
         md5(norm) AS fingerprint
  FROM base
)
SELECT doc_id, n_tokens, n_chars, n_punct, n_stopwords, est_bpe_tokens, fingerprint,
       CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
       CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
       0.4 * (CAST(least(n_tokens, 100) AS DOUBLE) / 100.0)
         + 0.3 * (CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)) AS quality_score
FROM m
"""


@register("d4_text_stats", _D4_ORACLE)
def d4_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char/punct/stopword stats, BPE estimate, quality score."""
    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))  # see d3 note
    m = docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        char_count("text").alias("n_chars"),
        punct_count("text").alias("n_punct"),
        marker_hits("text", STOPWORDS).alias("n_stopwords"),
        est_bpe_tokens("text").alias("est_bpe_tokens"),
        fingerprint("text").alias("fingerprint"),
    )
    stop_ratio = ratio(F.col("n_stopwords"), F.col("n_tokens"))
    punct_ratio = ratio(F.col("n_punct"), F.col("n_chars"))
    return m.select(
        "*",
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        (
            F.lit(0.4) * (F.least(F.col("n_tokens"), F.lit(100)).cast("double") / F.lit(100.0))
            + F.lit(0.3) * stop_ratio
            + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        ).alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# d5 — MinHash-LSH candidate pairs with estimated Jaccard (the scale path
# of fuzzy dedup; md5-based permutations mirror exactly in DuckDB).
# k=16 signatures, 4 bands × 4 rows.
# ---------------------------------------------------------------------------
_D5_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
), tok AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i FROM toks
), tri AS (
  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM tok a
  JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  JOIN tok c ON c.doc_id = a.doc_id AND c.i = a.i + 2
), seeds AS (
  SELECT unnest(generate_series(0, 15)) AS seed
), sigs AS (
  SELECT doc_id, seed, MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS sig
  FROM tri CROSS JOIN seeds
  GROUP BY 1, 2
), banded AS (
  SELECT doc_id, CAST(floor(seed / 4) AS INT) AS band,
         md5(string_agg(sig, '|' ORDER BY seed)) AS band_hash
  FROM sigs GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT c.d1, c.d2,
       CAST(SUM(CASE WHEN s1.sig = s2.sig THEN 1 ELSE 0 END) AS DOUBLE) / 16.0 AS est_jaccard
FROM cand c
JOIN sigs s1 ON s1.doc_id = c.d1
JOIN sigs s2 ON s2.doc_id = c.d2 AND s2.seed = s1.seed
GROUP BY 1, 2
"""


@register("d5_minhash_lsh", _D5_ORACLE)
def d5_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs + signature-estimated Jaccard."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_candidate_pairs(docs, n=3, k=16, bands=4)


# ---------------------------------------------------------------------------
# d24 — incremental near-dup: the newest 20% of the corpus (by doc_id)
# is "the incoming shard", the rest "the already-ingested corpus"; only
# NEW x OLD MinHash band collisions are candidates. The production
# per-ingest dedup probe (index once, probe per shard).
# ---------------------------------------------------------------------------
_D24_ORACLE = r"""
WITH cutline AS (
  SELECT CAST(ceil((MAX(doc_id) + 1) * 0.8) AS BIGINT) AS cutoff FROM documents
), toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), tok AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i FROM toks
), tri AS (
  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM tok a
  JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  JOIN tok c ON c.doc_id = a.doc_id AND c.i = a.i + 2
), seeds AS (
  SELECT unnest(generate_series(0, 15)) AS seed
), sigs AS (
  SELECT doc_id, seed, MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS sig
  FROM tri CROSS JOIN seeds
  GROUP BY 1, 2
), banded AS (
  SELECT doc_id, CAST(floor(seed / 4) AS INT) AS band,
         md5(string_agg(sig, '|' ORDER BY seed)) AS band_hash
  FROM sigs GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash
  CROSS JOIN cutline cl
  WHERE a.doc_id >= cl.cutoff AND b.doc_id < cl.cutoff
)
SELECT c.new_id, c.old_id,
       CAST(SUM(CASE WHEN s1.sig = s2.sig THEN 1 ELSE 0 END) AS DOUBLE) / 16.0 AS est_jaccard,
       (CAST(SUM(CASE WHEN s1.sig = s2.sig THEN 1 ELSE 0 END) AS DOUBLE) / 16.0) >= 0.5 AS is_dup
FROM cand c
JOIN sigs s1 ON s1.doc_id = c.new_id
JOIN sigs s2 ON s2.doc_id = c.old_id AND s2.seed = s1.seed
GROUP BY 1, 2
"""


@register(
    "d24_incremental_neardup",
    _D24_ORACLE,
    doc="Incremental shard-vs-corpus near-dup: MinHash band join generates "
    "only NEW x OLD candidates, so cost scales with the shard, not the "
    "corpus. The batch twin of the streaming near-dup filter "
    "(streaming/stateful.py).",
)
def d24_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedupe the newest 20% of documents against the first 80%."""
    docs = load_table(spark, sf_dir, "documents")
    # the cutoff is a SCALAR (one value for the whole corpus): fetching
    # it driver-side is one O(single-column) agg job — the same bounded
    # scalar-collect class as connected_components' convergence checks,
    # NOT a corpus collect. (A constant-key broadcast join alternative
    # constant-folds into the nested-loop shape the 100 TB plan gate
    # rightly bans.)
    cutoff = int(
        docs.agg(F.ceil((F.max("doc_id") + F.lit(1)) * F.lit(0.8)).cast("long")).first()[0]
    )
    flagged = docs.withColumn("is_new", F.col("doc_id") >= F.lit(cutoff))
    pairs = D.minhash_incremental_pairs(flagged, new_col="is_new", n=3, k=16, bands=4)
    return pairs.select(
        "new_id",
        "old_id",
        "est_jaccard",
        (F.col("est_jaccard") >= F.lit(0.5)).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# d6 — engine-agnostic 16-bit SimHash signatures (md5 nibble votes); the
# 64-bit xxhash64 variant is the production path (property-tested).
# ---------------------------------------------------------------------------
_D6_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents
), h AS (
  SELECT doc_id, md5(w) AS d FROM tok
), votes AS (
  SELECT doc_id,
         {vote_cols}
  FROM h GROUP BY 1
)
SELECT doc_id, {bit_concat} AS simhash_bits FROM votes
""".format(
    vote_cols=",\n         ".join(
        f"SUM(CASE WHEN substr(d, {j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b{j}"
        for j in range(16)
    ),
    bit_concat=" || ".join(f"(CASE WHEN b{j} >= 0 THEN '1' ELSE '0' END)" for j in range(16)),
)


@register("d6_simhash", _D6_ORACLE)
def d6_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signature per document (cross-engine form)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash16_hex(docs)


# ---------------------------------------------------------------------------
# d21 — SimHash near-dup PAIRS via block permutation (the step d6 stops
# short of): 32-bit signatures (md5 supplies 32 hex vote positions —
# 16 bits saturates: ~30% of all pairs land within hamming 3 on this
# corpus) split into 4 contiguous 8-bit blocks; docs sharing ≥1 block
# become candidates; exact Hamming ≤ 2 verifies. By pigeonhole the
# banding is EXACT for hamming < bands, so the operator returns
# precisely the all-pairs hamming ≤ 2 set while the join stays keyed
# on (band, block) — N·bands rows, never N². The oracle mirrors the
# signature votes (d6's machinery widened), the banding substrings and
# the 32-term Hamming sum.
# ---------------------------------------------------------------------------
_D21_N_BITS = 32
_D21_SIGS = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents
), h AS (
  SELECT doc_id, md5(w) AS d FROM tok
), votes AS (
  SELECT doc_id,
         {vote_cols}
  FROM h GROUP BY 1
), sigs AS (
  SELECT doc_id, CAST({sig_sum} AS BIGINT) AS sig FROM votes
)""".format(
    vote_cols=",\n         ".join(
        f"SUM(CASE WHEN substr(d, {j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b{j}"
        for j in range(_D21_N_BITS)
    ),
    sig_sum=" + ".join(
        f"(CASE WHEN b{j} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(_D21_N_BITS)
    ),
)

_D21_ORACLE = (
    _D21_SIGS
    + """, bandx AS (
  SELECT s.doc_id, s.sig, b.band, (s.sig >> (b.band * 8)) & 255 AS block
  FROM sigs s CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b
), cand AS (
  SELECT DISTINCT a.doc_id AS d1, a.sig AS sig1, b.doc_id AS d2, b.sig AS sig2
  FROM bandx a
  JOIN bandx b ON a.band = b.band AND a.block = b.block AND a.doc_id < b.doc_id
)
SELECT d1, d2, CAST(bit_count(xor(sig1, sig2)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sig1, sig2)) <= 2
"""
)


@register(
    "d21_simhash_neardup",
    _D21_ORACLE,
    doc="SimHash block-permutation near-dup pairs: band join on 8-bit "
    "signature blocks (32-bit md5-vote signature), exact Hamming ≤ 2 "
    "verify — pigeonhole-exact, join keyed on (band, block) so cost is "
    "N·bands + collision mass. The 64-bit production variant "
    "(simhash64 + 16-bit blocks) runs the identical shape; pigeonhole "
    "exactness is property-tested in tests/test_fuzzy_ops.py.",
)
def d21_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs within Hamming distance 2 of each other's
    32-bit SimHash, found without an N² scan."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_neardup_pairs(docs, max_hamming=2, bands=4, n_bits=32)


# ---------------------------------------------------------------------------
# d7 — embedding-cosine near-duplicate pairs (exact baseline over the
# quantized integer dot product; the LSH candidate→rerank variant is the
# scale path, property-tested in tests/test_fuzzy_ops.py).
# Threshold 0.35 ≈ the corpus's 99.9th percentile pairwise cosine.
# ---------------------------------------------------------------------------
_D7_ORACLE = """
WITH qv AS (
  SELECT vec_id, list_transform(embedding,
           e -> CAST(floor(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT)) AS emb
  FROM embeddings
), norms AS (
  SELECT v.vec_id, CAST(SUM(u.e * u.e) AS BIGINT) AS norm_q
  FROM qv v, unnest(v.emb) AS u(e)
  GROUP BY 1
  HAVING SUM(u.e * u.e) > 0
), u AS (
  SELECT vec_id, unnest(emb) AS v, generate_subscripts(emb, 1) AS i FROM qv
), dots AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2, CAST(SUM(a.v * b.v) AS BIGINT) AS dot
  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT d.v1, d.v2,
       CAST(d.dot AS DOUBLE) / (sqrt(CAST(n1.norm_q AS DOUBLE)) * sqrt(CAST(n2.norm_q AS DOUBLE)))
           AS cosine
FROM dots d
JOIN norms n1 ON n1.vec_id = d.v1
JOIN norms n2 ON n2.vec_id = d.v2
WHERE CAST(d.dot AS DOUBLE) / (sqrt(CAST(n1.norm_q AS DOUBLE)) * sqrt(CAST(n2.norm_q AS DOUBLE)))
      >= 0.35
"""


@register("d7_embedding_neardup", _D7_ORACLE)
def d7_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ 0.35, exact).

    Registered on the distributed block-matmul path: identical results
    to the BLAS kernel, but no driver collect and no closure-captured
    corpus anywhere in the lineage (gated by
    tests/test_plans.py::test_registered_embedding_paths_never_collect_corpus).
    """
    from ..operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    return S.embedding_neardup_pairs_blocked(emb, threshold=0.35)


# ---------------------------------------------------------------------------
# d8 — rolling-hash document fingerprinting (winnowing family): every
# 8-char window of the normal form is hashed, windows whose md5 starts
# with nibble 0 are selected (hash mod 16 == 0), and documents sharing
# selected hashes pair up through an inverted-index join. Resemblance =
# |A∩B|/|A∪B| over selected sets; ≥ 0.3 keeps true near-dups only.
# ---------------------------------------------------------------------------
_D8_ORACLE = """
WITH base AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
  FROM documents
), grams AS (
  SELECT doc_id, md5(substr(norm, i, 8)) AS h
  FROM base, unnest(generate_series(1, greatest(length(norm) - 7, 0))) AS t(i)
), sel0 AS (
  SELECT DISTINCT doc_id, h FROM grams WHERE substr(h, 1, 1) = '0'
), freq AS (
  SELECT h, COUNT(*) AS f FROM sel0 GROUP BY 1
), sel AS (
  SELECT s.doc_id, s.h FROM sel0 s JOIN freq USING (h)
  WHERE f <= greatest(5, CAST(floor(0.05 * (SELECT COUNT(*) FROM documents)) AS BIGINT))
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sel GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS shared
  FROM sel a JOIN sel b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.d1, p.d2, p.shared,
       CAST(p.shared AS DOUBLE) / CAST(s1.n + s2.n - p.shared AS DOUBLE) AS resemblance
FROM pairs p
JOIN sizes s1 ON s1.doc_id = p.d1
JOIN sizes s2 ON s2.doc_id = p.d2
WHERE CAST(p.shared AS DOUBLE) / CAST(s1.n + s2.n - p.shared AS DOUBLE) >= 0.5
"""


@register("d8_fingerprint_neardup", _D8_ORACLE)
def d8_fingerprint_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed rolling-hash fingerprint pairs (stop-grams dropped,
    resemblance over surviving selected hashes ≥ 0.5).

    The 5%-doc-frequency stop-gram cap is what keeps the inverted-index
    join linear-ish on real corpora: a hash shared by f docs costs
    f(f-1)/2 join rows, so ubiquitous substrings dominate quadratically
    (on this corpus the cap cuts join volume 42× at sf0.1)."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    cap = max(5, int(0.05 * n))
    return D.fingerprint_neardup_pairs(docs, k=8, min_resemblance=0.5, max_doc_freq=cap)


# ---------------------------------------------------------------------------
# LSH near-dup oracle generator — the DuckDB mirror of
# `operators/similarity.py::embedding_neardup_lsh` (signatures →
# band-bucket candidates → exact quantized rerank). Every stage is
# deterministic and cross-engine:
#   * hyperplane signs: parity of md5(f"{p}:{j}")'s FIRST BYTE — the hex
#     rendering's second nibble, so `substr(md5(..), 2, 1) IN (even)`
#     mirrors Python's `digest()[0] % 2 == 0` exactly;
#   * signature bits: SUM(q_j · s_pj) >= 0 over the floor(x·1e6)
#     quantized embedding (exact int64 on both engines);
#   * band hashes: bit p contributes 1 << (p % rows) to band p // rows —
#     the same little-endian packing as the numpy `bits @ (1 << arange)`;
#   * rerank: exact integer dot + one float64 divide (same IEEE expr).
# Embedding dim is 64 across the driver corpus (TESTDATA.md); the Spark
# side reads the dim from data, the oracle pins it.
# ---------------------------------------------------------------------------
_EVEN_NIBBLES = "'0','2','4','6','8','a','c','e'"


def _lsh_pairs_oracle(threshold: float, planes: int, bands: int, dim: int = 64) -> str:
    rows = planes // bands
    return f"""
WITH qv AS (
  SELECT vec_id, list_transform(embedding,
           e -> CAST(floor(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT)) AS emb
  FROM embeddings
), norms AS (
  SELECT v.vec_id, CAST(SUM(u.e * u.e) AS BIGINT) AS norm_q
  FROM qv v, unnest(v.emb) AS u(e)
  GROUP BY 1
  HAVING SUM(u.e * u.e) > 0
), vu AS (
  SELECT qv.vec_id, unnest(emb) AS v, generate_subscripts(emb, 1) - 1 AS j
  FROM qv JOIN norms ON norms.vec_id = qv.vec_id
), planes AS (
  SELECT p.p, j.j,
         CASE WHEN substr(md5(p.p || ':' || j.j), 2, 1) IN ({_EVEN_NIBBLES})
              THEN 1 ELSE -1 END AS s
  FROM generate_series(0, {planes - 1}) p(p)
  CROSS JOIN generate_series(0, {dim - 1}) j(j)
), dots AS (
  SELECT vu.vec_id, pl.p, SUM(vu.v * pl.s) AS dot
  FROM vu JOIN planes pl ON pl.j = vu.j
  GROUP BY 1, 2
), banded AS (
  SELECT vec_id, CAST(p // {rows} AS INT) AS band,
         SUM(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << (p % {rows}))
             ELSE CAST(0 AS BIGINT) END) AS band_hash
  FROM dots GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.vec_id < b.vec_id
), pairdot AS (
  SELECT c.v1, c.v2, CAST(SUM(ua.v * ub.v) AS BIGINT) AS dot
  FROM cand c
  JOIN vu ua ON ua.vec_id = c.v1
  JOIN vu ub ON ub.vec_id = c.v2 AND ub.j = ua.j
  GROUP BY 1, 2
)
SELECT p.v1, p.v2,
       CAST(p.dot AS DOUBLE)
         / (sqrt(CAST(n1.norm_q AS DOUBLE)) * sqrt(CAST(n2.norm_q AS DOUBLE))) AS cosine
FROM pairdot p
JOIN norms n1 ON n1.vec_id = p.v1
JOIN norms n2 ON n2.vec_id = p.v2
WHERE CAST(p.dot AS DOUBLE)
      / (sqrt(CAST(n1.norm_q AS DOUBLE)) * sqrt(CAST(n2.norm_q AS DOUBLE))) >= {threshold}
"""


# ---------------------------------------------------------------------------
# d15 — transitive dup-cluster resolution: connected components over the
# embedding-near-dup pair graph; cluster_id = min vec_id in the
# component. Spark side is iterative min-label propagation (fixpoint by
# monotone label-sum); the oracle is a recursive CTE computing the same
# fixpoint set-algebraically. Pairwise scoring says WHICH docs collide —
# this says which GROUPS to collapse, the step a dedup pipeline actually
# acts on (near-dup relations are not transitive; components make the
# keep/drop decision well-defined).
#
# The pair feed is the LSH candidate→rerank path (the sub-quadratic
# shape that survives 100×) at the d7 threshold — NOT the exact
# all-pairs kernel, whose O(N²·d) compute is the one thing in the dedup
# ladder that would not scale; that kernel stays available as
# `embedding_neardup_pairs_blocked` for rerank / small corpora and is
# value-checked by d7.
# ---------------------------------------------------------------------------
_D15_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT v1, v2 FROM ({_lsh_pairs_oracle(0.35, 64, 8)}) t
), edges AS (
  SELECT v1 AS src, v2 AS dst FROM pairs
  UNION
  SELECT v2 AS src, v1 AS dst FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), reach AS (
  SELECT node, node AS label FROM nodes
  UNION
  SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node
), comp AS (
  SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY 1
)
SELECT node AS vec_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
"""


@register("d15_dup_clusters", _D15_ORACLE)
def d15_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over embedding near-dup pairs (min-label),
    fed by the sub-quadratic LSH candidate→rerank path — the pair
    generator a 100 TB dedup run would actually use. Cost is
    ~N·bands candidate rows + exact rerank on collisions, never N²."""
    from ..operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = S.embedding_neardup_lsh(emb, threshold=0.35, planes=64, bands=8)
    return D.connected_components(pairs, src="v1", dst="v2").select(
        F.col("node").alias("vec_id"), "cluster_id", "cluster_size"
    )


# ---------------------------------------------------------------------------
# d16 — per-cluster keeper selection: the decision step of fuzzy dedup.
# Compose the ladder end-to-end: d8 fingerprint pairs → connected
# components → keep the highest-quality document per cluster (d4's
# quality score, doc_id ASC tie-break). One row per cluster. The same
# composition in the oracle: both full CTE stacks nested as subqueries
# into a recursive-CTE fixpoint + window argmax.
# ---------------------------------------------------------------------------
_D16_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT d1, d2 FROM ({_D8_ORACLE}) p
), edges AS (
  SELECT d1 AS src, d2 AS dst FROM pairs
  UNION
  SELECT d2 AS src, d1 AS dst FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), reach AS (
  SELECT node, node AS label FROM nodes
  UNION
  SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node
), comp AS (
  SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY 1
), q AS (
  SELECT doc_id, quality_score FROM ({_D4_ORACLE}) s
), ranked AS (
  SELECT c.cluster_id, c.doc_id, q.quality_score,
         COUNT(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.quality_score DESC, c.doc_id ASC) AS rn
  FROM comp c JOIN q ON q.doc_id = c.doc_id
)
SELECT cluster_id, doc_id AS keeper_doc_id, quality_score AS keeper_quality,
       cluster_size
FROM ranked WHERE rn = 1
"""


@register("d16_cluster_keepers", _D16_ORACLE)
def d16_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highest-quality doc per near-dup cluster (the keep/drop verdict)."""
    pairs = d8_fingerprint_neardup(spark, sf_dir)
    comp = D.connected_components(pairs, src="d1", dst="d2")
    quality = d4_text_stats(spark, sf_dir).select("doc_id", "quality_score")
    joined = comp.select(F.col("node").alias("doc_id"), "cluster_id", "cluster_size").join(
        quality, "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality_score"), F.asc("doc_id"))
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keeper_doc_id"),
            F.col("quality_score").alias("keeper_quality"),
            "cluster_size",
        )
    )


@register(
    "d19_embedding_neardup_lsh",
    _lsh_pairs_oracle(0.45, 64, 8),
    doc="Sub-quadratic embedding near-dup: random-hyperplane LSH bands "
    "generate candidates, the exact quantized cosine reranks them — the "
    "path that replaces d7's all-pairs scan when N² is unpayable. "
    "Value-checked end-to-end: the md5-parity hyperplanes, band-hash "
    "packing and quantized rerank all mirror exactly in DuckDB "
    "(see _lsh_pairs_oracle); planted-near-dup recall is additionally "
    "property-tested in tests/test_fuzzy_ops.py.",
)
def d19_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates → exact rerank at cosine ≥ 0.45 (this corpus's
    near-dup tail; see d7's distribution). 8 bands × 8 rows: 8-bit band
    hashes give 256 buckets per band, so candidate volume stays
    ~N·bands + collision mass (~71k pairs at sf0.1 vs 1.27M with 4-bit
    bands) while planted-near-dup recall stays ≳0.999 (per-band hit
    prob (1-θ/π)^8 ≈ 0.69 at cosine 0.999, 8 independent bands)."""
    from ..operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    return S.embedding_neardup_lsh(emb, threshold=0.45, planes=64, bands=8)


# ---------------------------------------------------------------------------
# d22 — exact-substring duplication coverage (the span-level signal
# behind "Deduplicating Training Data Makes Language Models Better",
# Lee et al. 2022): for every document, the fraction of its characters
# covered by some 8-char window that ALSO appears in another document.
# Pair listings (d2/d8/d21) say WHICH docs collide; this says HOW MUCH
# of each doc is duplicated text — the signal span-removal pipelines
# act on. Distributed shape: one gram-hash shuffle (doc-frequency) +
# one span explode; the exact union-of-intervals is computed as
# DISTINCT covered character positions, so overlapping spans are not
# double-counted. Suffix arrays do this on one machine; the gram-hash
# join is the shape that distributes.
# ---------------------------------------------------------------------------
_D22_ORACLE = """
WITH base AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
  FROM documents
), grams AS (
  SELECT doc_id, i, md5(substr(norm, i, 8)) AS h
  FROM base, unnest(generate_series(1, greatest(length(norm) - 7, 0))) AS t(i)
), df AS (
  SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1
), cov AS (
  SELECT g.doc_id, COUNT(DISTINCT p.pos) AS covered_chars
  FROM grams g
  JOIN df ON df.h = g.h
  CROSS JOIN unnest(generate_series(0, 7)) AS s(off)
  CROSS JOIN LATERAL (SELECT g.i + s.off AS pos) p
  GROUP BY 1
)
SELECT b.doc_id,
       CAST(length(b.norm) AS BIGINT) AS n_chars,
       CAST(COALESCE(c.covered_chars, 0) AS BIGINT) AS covered_chars,
       CAST(COALESCE(c.covered_chars, 0) AS DOUBLE) / CAST(length(b.norm) AS DOUBLE)
           AS dup_coverage,
       COALESCE(c.covered_chars, 0) >= 0.5 * length(b.norm) AS is_flagged
FROM base b LEFT JOIN cov c ON c.doc_id = b.doc_id
"""


@register(
    "d22_dup_span_coverage",
    _D22_ORACLE,
    doc="Exact-substring duplication coverage per document: fraction of "
    "characters inside an 8-gram shared with ANOTHER document, spans "
    "unioned exactly via the classic merge-intervals form (doc-"
    "partitioned running max of span ends — no per-position row "
    "inflation). One gram-hash shuffle + one doc-keyed window; flag "
    "at 50% coverage.",
)
def d22_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of each doc is text duplicated elsewhere in the corpus
    (the span-level dedup signal, not just a pair verdict)."""
    from ..functions.text import normalize_text

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    base = docs.select("doc_id", normalize_text("text").alias("norm"))
    grams = base.select(
        "doc_id",
        # Guard the short-doc case: sequence(1, 0) DESCENDS in Spark
        # ([1, 0]) while DuckDB's generate_series(1, 0) is empty, so a
        # doc with length(norm) <= 7 would emit phantom grams (and
        # covered_chars could exceed n_chars). Emit grams only when a
        # full 8-char window exists, matching the oracle's empty series.
        F.posexplode(
            F.expr(
                "CASE WHEN length(norm) >= 8 THEN "
                "transform(sequence(1, length(norm) - 7), i -> md5(substr(norm, i, 8))) "
                "ELSE array() END"
            )
        ).alias("p0", "h"),
    ).select("doc_id", (F.col("p0") + 1).alias("i"), "h")
    df_dup = grams.groupBy("h").agg(F.countDistinct("doc_id").alias("nd")).filter(F.col("nd") > 1)
    # Interval-union coverage (r5 verdict: the per-position
    # explode(sequence(i, i+7)) + countDistinct form was 8× row-inflated
    # and the suite's peak-RSS query). Each covered gram is the span
    # [i, i+7]; per doc, order spans by start and clip each against the
    # running max of PRECEDING ends — the merge-intervals sum, exact in
    # integers, identical to counting distinct covered positions (the
    # oracle still counts positions). Positions are unique per
    # (doc_id, i) by construction (posexplode), so no start ties exist
    # and the one doc-partitioned window replaces the 8× explode and
    # the per-position distinct entirely.
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cov = (
        grams.join(df_dup.select("h"), "h")
        .select("doc_id", "i", (F.col("i") + 7).alias("end"))
        .withColumn("prev_end", F.max("end").over(w_prev))
        .select(
            "doc_id",
            F.greatest(
                F.lit(0),
                F.col("end")
                - F.greatest(
                    F.col("i") - 1, F.coalesce(F.col("prev_end"), F.col("i") - 1)
                ),
            ).alias("seg"),
        )
        .groupBy("doc_id")
        .agg(F.sum("seg").alias("covered_chars"))
    )
    out = base.join(cov, "doc_id", "left").select(
        "doc_id",
        F.length("norm").cast("long").alias("n_chars"),
        F.coalesce(F.col("covered_chars"), F.lit(0)).cast("long").alias("covered_chars"),
        (
            F.coalesce(F.col("covered_chars"), F.lit(0)).cast("double")
            / F.length("norm").cast("double")
        ).alias("dup_coverage"),
        (
            F.coalesce(F.col("covered_chars"), F.lit(0))
            >= F.lit(0.5) * F.length("norm")
        ).alias("is_flagged"),
    )
    return out


# ---------------------------------------------------------------------------
# d23 — per-source corpus scorecard: the governance rollup a curation
# pipeline keeps per dump/domain (doc volume, token budget, exact-dup
# rate, pooled quality, language mix — the FineWeb-style per-source
# dashboard that decides which sources get up/down-weighted in d10's
# mix). Parity discipline: NO mean over per-doc doubles (float64 sum
# order differs across engines) — quality is POOLED from exact integer
# sums with the float64 divisions at the very end, and the dominant
# language is a mode with (count DESC, lang ASC) tie-break.
# ---------------------------------------------------------------------------
_D23_ORACLE = f"""
WITH per_doc AS (
  SELECT doc_id, source, lang,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
         CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens,
         CAST(length(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS BIGINT) AS n_chars,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
         CAST((SELECT COUNT(*) FROM unnest(string_split_regex(lower(trim(text)), '\\s+')) AS u(tok)
               WHERE tok IN ({_STOP_IN})) AS BIGINT) AS n_stop,
         CAST(ceil(length(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) / 4.0) AS BIGINT)
             AS est_tokens
  FROM documents
), agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_texts,
         CAST(SUM(est_tokens) AS BIGINT) AS total_est_tokens,
         CAST(SUM(n_tokens) AS BIGINT) AS s_tok,
         CAST(SUM(n_chars) AS BIGINT) AS s_chars,
         CAST(SUM(n_punct) AS BIGINT) AS s_punct,
         CAST(SUM(n_stop) AS BIGINT) AS s_stop
  FROM per_doc GROUP BY 1
), langs AS (
  SELECT source, lang, COUNT(*) AS c,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, lang ASC) AS rn
  FROM per_doc GROUP BY 1, 2
)
SELECT a.source, a.n_docs, a.n_distinct_texts,
       1.0 - CAST(a.n_distinct_texts AS DOUBLE) / CAST(a.n_docs AS DOUBLE) AS dup_rate,
       a.total_est_tokens,
       0.4 * (CAST(least(a.s_tok / a.n_docs, 100) AS DOUBLE) / 100.0)
         + 0.3 * (CAST(a.s_stop AS DOUBLE) / CAST(a.s_tok AS DOUBLE))
         + 0.3 * (1.0 - CAST(a.s_punct AS DOUBLE) / CAST(a.s_chars AS DOUBLE)) AS pooled_quality,
       l.lang AS top_lang,
       CAST(l.c AS DOUBLE) / CAST(a.n_docs AS DOUBLE) AS top_lang_share
FROM agg a JOIN langs l ON l.source = a.source AND l.rn = 1
"""


@register(
    "d23_source_scorecard",
    _D23_ORACLE,
    doc="Per-source curation scorecard: doc volume, token budget, exact "
    "dup rate, pooled quality from integer sums (no cross-engine "
    "float-sum-order hazard), dominant language with deterministic "
    "tie-break — the per-dump governance stats that drive mix weights.",
)
def d23_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source dashboard a curation pipeline up/down-weights
    sources with (volume, dup rate, pooled quality, language mix)."""
    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    per_doc = docs.select(
        "doc_id",
        "source",
        "lang",
        fingerprint("text").alias("fp"),
        token_count("text").alias("n_tokens"),
        char_count("text").alias("n_chars"),
        punct_count("text").alias("n_punct"),
        marker_hits("text", STOPWORDS).alias("n_stop"),
        est_bpe_tokens("text").alias("est_tokens"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_distinct_texts"),
        F.sum("est_tokens").alias("total_est_tokens"),
        F.sum("n_tokens").alias("s_tok"),
        F.sum("n_chars").alias("s_chars"),
        F.sum("n_punct").alias("s_punct"),
        F.sum("n_stop").alias("s_stop"),
    )
    wl = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("lang"))
    langs = (
        per_doc.groupBy("source", "lang")
        .agg(F.count("*").alias("c"))
        .withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
    )
    # `/` on integer columns is FLOAT division on both engines (DuckDB
    # and Spark alike), so least(s_tok/n_docs, 100) is the identical
    # IEEE expression on both sides — no floor-vs-divide divergence.
    return (
        agg.join(langs.select("source", "lang", "c"), "source")
        .select(
            "source",
            "n_docs",
            "n_distinct_texts",
            (
                F.lit(1.0)
                - F.col("n_distinct_texts").cast("double") / F.col("n_docs").cast("double")
            ).alias("dup_rate"),
            "total_est_tokens",
            (
                F.lit(0.4)
                * (
                    F.least(
                        (F.col("s_tok") / F.col("n_docs")).cast("double"), F.lit(100.0)
                    )
                    / F.lit(100.0)
                )
                + F.lit(0.3) * (F.col("s_stop").cast("double") / F.col("s_tok").cast("double"))
                + F.lit(0.3)
                * (F.lit(1.0) - F.col("s_punct").cast("double") / F.col("s_chars").cast("double"))
            ).alias("pooled_quality"),
            F.col("lang").alias("top_lang"),
            (F.col("c").cast("double") / F.col("n_docs").cast("double")).alias("top_lang_share"),
        )
    )


# ---------------------------------------------------------------------------
# d26 — corpus bigram table: adjacent-pair frequencies (occurrences +
# document frequency), top 50 by count. The count step of a BPE /
# WordPiece merge round at word grain, and the vocabulary-governance
# stat (which collocations dominate a dump). One shuffle keyed by
# bigram with map-side partial aggregation; top-k is
# TakeOrderedAndProject (no global sort), rank assigned on the 50
# survivors only.
# ---------------------------------------------------------------------------
_D26_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), tok AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i FROM toks
), bi AS (
  SELECT a.doc_id, a.w || ' ' || b.w AS bigram
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1
), agg AS (
  SELECT bigram,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM bi GROUP BY 1
)
SELECT bigram, n_occurrences, n_docs,
       CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, bigram ASC) AS BIGINT) AS rank
FROM agg
ORDER BY rank LIMIT 50
"""


@register(
    "d26_corpus_bigrams",
    _D26_ORACLE,
    doc="Corpus-level adjacent-pair frequency table (top 50 by "
    "occurrences, deterministic tie-break): the count step of a "
    "BPE/WordPiece merge round at word grain. One bigram-keyed shuffle "
    "with partial aggregation; rank only over the k survivors.",
)
def d26_corpus_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus bigram frequencies with document counts."""
    from ..functions.text import tokens

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    # raw occurrence grams — NOT shingle_exploded, whose array_distinct
    # per-doc dedup is right for Jaccard/MinHash but would undercount
    # merge-frequency statistics
    toked = docs.select(F.col("doc_id"), tokens("text").alias("_toks"))
    gram = F.transform(
        F.sequence(F.lit(0), F.size(F.col("_toks")) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("_toks"), i + 1), F.element_at(F.col("_toks"), i + 2)
        ),
    )
    bi = toked.filter(F.size(F.col("_toks")) >= 2).select(
        "doc_id", F.explode(gram).alias("bigram")
    )
    agg = bi.groupBy("bigram").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    top = agg.orderBy(F.col("n_occurrences").desc(), F.col("bigram").asc()).limit(50)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("bigram").asc())
    # rank window runs over the 50 surviving rows only — bounded
    return top.select(
        "bigram",
        "n_occurrences",
        "n_docs",
        F.row_number().over(w).cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------------
# d27 — RAG chunking: overlapping token windows (64 tokens, stride 48 →
# 16-token overlap) with per-chunk offsets and content fingerprints —
# the retrieval-corpus prep step between curation and embedding. Pure
# narrow explode per document: zero shuffle, and chunk_idx derives
# arithmetically from the stride ((start-1)/48), so no per-doc window
# pass either.
# ---------------------------------------------------------------------------
_D27_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), meta AS (
  SELECT doc_id, t, len(t) AS n FROM toks
), chunks AS (
  SELECT doc_id, t, n,
         CAST(u.s AS BIGINT) AS start_tok,
         CAST(least(u.s + 63, n) AS BIGINT) AS end_tok
  FROM meta, unnest(generate_series(1, greatest(n, 1), 48)) AS u(s)
)
SELECT doc_id,
       CAST((start_tok - 1) // 48 AS BIGINT) AS chunk_idx,
       start_tok, end_tok,
       end_tok - start_tok + 1 AS n_tokens,
       md5(array_to_string(list_slice(t, start_tok, end_tok), ' ')) AS chunk_fp
FROM chunks
"""


@register(
    "d27_rag_chunking",
    _D27_ORACLE,
    doc="Overlapping token-window chunking (64-token chunks, stride 48) "
    "with offsets + md5 content fingerprints — retrieval-corpus prep. "
    "Narrow per-doc explode, zero shuffle, arithmetic chunk ids.",
)
def d27_rag_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk every document into 64-token windows with 16-token overlap."""
    from ..functions.text import tokens

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    m = docs.select("doc_id", tokens("text").alias("t")).select(
        "doc_id", "t", F.size("t").alias("n")
    )
    ch = m.select(
        "doc_id",
        "t",
        "n",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.col("n"), F.lit(1)), F.lit(48))
        ).alias("s"),
    ).select(
        "doc_id",
        "t",
        F.col("s").cast("long").alias("start_tok"),
        F.least(F.col("s") + F.lit(63), F.col("n")).cast("long").alias("end_tok"),
    )
    return ch.select(
        "doc_id",
        ((F.col("start_tok") - 1) / F.lit(48)).cast("long").alias("chunk_idx"),
        "start_tok",
        "end_tok",
        (F.col("end_tok") - F.col("start_tok") + 1).alias("n_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    F.col("t"),
                    F.col("start_tok").cast("int"),
                    (F.col("end_tok") - F.col("start_tok") + 1).cast("int"),
                ),
            )
        ).alias("chunk_fp"),
    )


# ---------------------------------------------------------------------------
# d28 — TF-IDF top terms per document: the classic keyword-extraction /
# relevance-weighting operator (Salton & Buckley; every search stack).
# tf·idf ranking needs no per-row division: within one document the
# length is constant, so ranking by cnt · idf is identical to ranking
# by (cnt/len) · idf — the division happens once, on the reported
# score only. idf = ln(N/df) is the one cross-engine transcendental:
# both engines evaluate ln on the SAME exact double (N/df — IEEE
# division of two small ints), and the result is quantized to
# DECIMAL(18,6) immediately, so a last-ulp libm difference only
# matters if ln lands within an ulp of a 6th-decimal midpoint (~1e-10
# per distinct df — checked across the sf sweep). All downstream
# arithmetic (cnt · idf_q) is exact decimal.
# Scale: one token-keyed shuffle for df (bounded by |vocab|), idf
# broadcast back (vocab is MBs even at 100 TB), per-doc top-3 via a
# doc-partitioned window on the (doc, term) aggregate.
# ---------------------------------------------------------------------------
_D28_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), tok AS (
  SELECT doc_id, len(t) AS doc_len, unnest(t) AS term FROM toks
), tf AS (
  SELECT doc_id, doc_len, term, COUNT(*) AS n_occurrences
  FROM tok GROUP BY 1, 2, 3
), idf AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df,
         CAST(round(ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
                       / CAST(COUNT(DISTINCT doc_id) AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS idf_q
  FROM tf GROUP BY 1
), scored AS (
  SELECT f.doc_id, f.term, f.n_occurrences, i.df, f.doc_len,
         CAST(f.n_occurrences AS DECIMAL(18,0)) * i.idf_q AS w,
         ROW_NUMBER() OVER (
           PARTITION BY f.doc_id
           ORDER BY CAST(f.n_occurrences AS DECIMAL(18,0)) * i.idf_q DESC,
                    f.term ASC) AS term_rank
  FROM tf f JOIN idf i USING (term)
)
SELECT doc_id, CAST(term_rank AS BIGINT) AS term_rank, term,
       n_occurrences, df,
       CAST(w AS DOUBLE) / CAST(doc_len AS DOUBLE) AS tfidf
FROM scored WHERE term_rank <= 3
"""


@register(
    "d28_tfidf_topk",
    _D28_ORACLE,
    doc="TF-IDF top-3 terms per document (keyword extraction): "
    "token-keyed df aggregate, broadcast idf join-back, per-doc ranked "
    "window. cnt·idf decimal ranking avoids per-row division; ln is "
    "quantized to DECIMAL(18,6) at the source.",
)
def d28_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document with occurrence and df counts."""
    from ..functions.text import tokens

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    # N is a SCALAR — driver-side fetch per the d24 precedent (a
    # constant-key broadcast join would constant-fold into the banned
    # nested-loop shape).
    n_docs = docs.count()
    tok = docs.select(
        "doc_id",
        F.size(tokens("text")).alias("doc_len"),
        F.explode(tokens("text")).alias("term"),
    )
    tf = tok.groupBy("doc_id", "doc_len", "term").agg(F.count("*").alias("n_occurrences"))
    idf = tf.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"),
        F.round(
            F.log(F.lit(float(n_docs)) / F.countDistinct("doc_id").cast("double")), 6
        )
        .cast("decimal(18,6)")
        .alias("idf_q"),
    )
    w_expr = F.col("n_occurrences").cast("decimal(18,0)") * F.col("idf_q")
    rank_w = Window.partitionBy("doc_id").orderBy(w_expr.desc(), F.col("term").asc())
    # vocab is bounded (MBs at 100 TB) → broadcast the idf join-back so
    # the skewed common-term keys never shuffle the tf relation
    scored = tf.join(F.broadcast(idf), "term").withColumn(
        "term_rank", F.row_number().over(rank_w).cast("long")
    )
    return scored.filter(F.col("term_rank") <= 3).select(
        "doc_id",
        "term_rank",
        "term",
        "n_occurrences",
        "df",
        ratio(w_expr, F.col("doc_len")).alias("tfidf"),
    )


# ---------------------------------------------------------------------------
# d29 — edit-distance verification of LSH candidates: the string-
# distance rung of the dedup ladder. MinHash banding proposes pairs
# (d5's exact machinery), then Levenshtein on the 256-char prefix of
# the normal form confirms or rejects them — the cheap-filter →
# exact-verify shape every fuzzy-matching stack uses (record linkage,
# near-dup QA). The prefix cap is the scale bound: O(pairs · 256 ·
# threshold) worst case instead of O(pairs · |doc|²); Spark's banded
# levenshtein(l, r, threshold) short-circuits rows that blow the
# budget. Distances are integers — no float parity surface at all
# except the final one-division similarity.
# ---------------------------------------------------------------------------
_D29_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), tok AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i FROM toks
), tri AS (
  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM tok a
  JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  JOIN tok c ON c.doc_id = a.doc_id AND c.i = a.i + 2
), seeds AS (
  SELECT unnest(generate_series(0, 15)) AS seed
), sigs AS (
  SELECT doc_id, seed, MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS sig
  FROM tri CROSS JOIN seeds
  GROUP BY 1, 2
), banded AS (
  SELECT doc_id, CAST(floor(seed / 4) AS INT) AS band,
         md5(string_agg(sig, '|' ORDER BY seed)) AS band_hash
  FROM sigs GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
), pref AS (
  SELECT doc_id,
         substr(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 256) AS p
  FROM documents
), verified AS (
  SELECT c.d1, c.d2,
         length(p1.p) AS len1, length(p2.p) AS len2,
         levenshtein(p1.p, p2.p) AS edit_distance
  FROM cand c
  JOIN pref p1 ON p1.doc_id = c.d1
  JOIN pref p2 ON p2.doc_id = c.d2
)
SELECT d1, d2, CAST(len1 AS BIGINT) AS len1, CAST(len2 AS BIGINT) AS len2,
       CAST(edit_distance AS BIGINT) AS edit_distance,
       1.0 - CAST(edit_distance AS DOUBLE) / CAST(greatest(len1, len2, 1) AS DOUBLE)
         AS prefix_similarity
FROM verified
WHERE edit_distance <= 64
"""


@register(
    "d29_editdist_verify",
    _D29_ORACLE,
    doc="Levenshtein verification of MinHash-LSH candidate pairs on the "
    "256-char normal-form prefix: cheap-filter -> exact-verify, the "
    "record-linkage shape. Banded levenshtein(threshold=64) bounds "
    "per-pair cost; integer distances, one final double division.",
)
def d29_editdist_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confirm LSH candidate pairs by prefix edit distance (≤ 64)."""
    from ..functions.text import normalize_text

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    cand = D.minhash_candidate_pairs(docs, n=3, k=16, bands=4).select("d1", "d2")
    pref = docs.select(
        "doc_id", F.substring(normalize_text("text"), 1, 256).alias("p")
    )
    p1 = pref.select(F.col("doc_id").alias("d1"), F.col("p").alias("p1"))
    p2 = pref.select(F.col("doc_id").alias("d2"), F.col("p").alias("p2"))
    v = (
        cand.join(p1, "d1")
        .join(p2, "d2")
        .select(
            "d1",
            "d2",
            F.length("p1").cast("long").alias("len1"),
            F.length("p2").cast("long").alias("len2"),
            # banded form: rows beyond the threshold return -1 and are
            # dropped below — O(256·64) per pair, not O(256²)
            F.levenshtein("p1", "p2", 64).cast("long").alias("edit_distance"),
        )
    )
    return v.filter((F.col("edit_distance") >= 0) & (F.col("edit_distance") <= 64)).select(
        "d1",
        "d2",
        "len1",
        "len2",
        "edit_distance",
        (
            F.lit(1.0)
            - F.col("edit_distance").cast("double")
            # greatest(..., 1): two empty normal-form prefixes have
            # distance 0 and defined similarity 1, not 0/0
            / F.greatest("len1", "len2", F.lit(1)).cast("double")
        ).alias("prefix_similarity"),
    )


# ---------------------------------------------------------------------------
# d30 — character-entropy quality signal: Shannon entropy of the
# per-document character distribution, the gibberish/low-diversity
# filter (C4/Gopher-adjacent; boilerplate and key-mash text sits far
# below natural language's ~4.1 bits/char). Algebra is arranged for
# exact cross-engine hashing: H = log2(n) - (Σ c·log2(c))/n over
# per-char counts c, with every log2 evaluated on a SMALL INTEGER and
# quantized to DECIMAL(18,9) at the source — the weighted sum is then
# exact decimal (≲ n·log2(n), double-exact), leaving one division and
# one subtraction of deterministic doubles. Char extraction is the
# d22 substr-explode (narrow, O(chars) rows into one (doc,char)
# shuffle — the same cost class as any tokenize).
# ---------------------------------------------------------------------------
_D30_ORACLE = r"""
WITH norm AS (
  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
  FROM documents
), chars AS (
  SELECT doc_id, length(norm) AS n, substr(norm, CAST(i AS INT), 1) AS ch
  FROM norm, unnest(generate_series(1, length(norm))) AS u(i)
), counts AS (
  SELECT doc_id, n, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2, 3
), agg AS (
  SELECT doc_id, n,
         COUNT(*) AS n_unique_chars,
         SUM(CAST(c AS DECIMAL(18,0))
             * CAST(round(log2(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9))) AS s
  FROM counts GROUP BY 1, 2
)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars, n_unique_chars,
       CAST(CAST(round(log2(CAST(n AS DOUBLE)), 9) AS DECIMAL(18,9)) AS DOUBLE)
         - CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS entropy_bits,
       (CAST(CAST(round(log2(CAST(n AS DOUBLE)), 9) AS DECIMAL(18,9)) AS DOUBLE)
         - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) < 2.5 AS low_diversity
FROM agg WHERE n > 0
"""


@register(
    "d30_char_entropy",
    _D30_ORACLE,
    doc="Shannon character entropy per document (gibberish filter): "
    "log2 only ever on small integers, quantized DECIMAL(18,9) at the "
    "source, exact decimal weighted sum, one division + one subtraction "
    "of deterministic doubles.",
)
def d30_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution entropy + low-diversity flag per doc."""
    from ..functions.text import normalize_text

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    norm = docs.select("doc_id", normalize_text("text").alias("norm")).select(
        "doc_id", "norm", F.length("norm").alias("n")
    )
    chars = norm.select(
        "doc_id",
        "n",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n")),
                lambda i: F.substring(F.col("norm"), i, F.lit(1)),
            )
        ).alias("ch"),
    )
    log2q = lambda c: F.round(F.log2(c.cast("double")), 9).cast("decimal(18,9)")  # noqa: E731
    counts = chars.groupBy("doc_id", "n", "ch").agg(F.count("*").alias("c"))
    agg = counts.groupBy("doc_id", "n").agg(
        F.count("*").alias("n_unique_chars"),
        F.sum(F.col("c").cast("decimal(18,0)") * log2q(F.col("c"))).alias("s"),
    )
    entropy = log2q(F.col("n")).cast("double") - F.col("s").cast("double") / F.col("n").cast(
        "double"
    )
    return agg.filter(F.col("n") > 0).select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars"),
        "n_unique_chars",
        entropy.alias("entropy_bits"),
        (entropy < 2.5).alias("low_diversity"),
    )


# ---------------------------------------------------------------------------
# d31 — Zipf's-law fit over the corpus token-frequency curve: OLS of
# log10(freq) on log10(rank) for the top-100 tokens — the regression-
# aggregate operator class (regr_slope/regr_intercept), realized with
# exact fixed-point accumulation because the native regr_* functions
# accumulate in order-dependent doubles. Every log10 is evaluated on a
# SMALL INTEGER (rank ≤ 100, count), quantized to DECIMAL(9,4) at the
# source; all cross-products are exact decimals with explicitly pinned
# precisions (scale-8 products of scale-4 operands — no engine-side
# precision overflow), so the closed-form slope's numerator and
# denominator hash identically and the final doubles come from IEEE
# ops on identical operands. A healthy natural-language corpus fits
# slope ≈ -1 (Zipf); a synthetic or template-heavy corpus doesn't —
# this is the corpus-level audit next to d26's merge-count table.
# Scale: token count is one shuffle (d26's), the regression runs on
# 100 rows.
# ---------------------------------------------------------------------------
_D31_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), tok AS (
  SELECT unnest(t) AS term FROM toks
), freq AS (
  SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1
), ranked AS (
  SELECT term, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS rank
  FROM freq
), pts AS (
  SELECT CAST(round(log10(CAST(rank AS DOUBLE)), 4) AS DECIMAL(9,4)) AS x,
         CAST(round(log10(CAST(cnt AS DOUBLE)), 4) AS DECIMAL(9,4)) AS y
  FROM ranked WHERE rank <= 100
), sums AS (
  SELECT CAST(COUNT(*) AS DECIMAL(5,0)) AS n,
         CAST(SUM(x) AS DECIMAL(12,4)) AS sx,
         CAST(SUM(y) AS DECIMAL(12,4)) AS sy,
         CAST(SUM(x * y) AS DECIMAL(29,8)) AS sxy,
         CAST(SUM(x * x) AS DECIMAL(29,8)) AS sxx,
         CAST(SUM(y * y) AS DECIMAL(29,8)) AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_terms,
       CAST(n * sxy - sx * sy AS DOUBLE) / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0.0) AS slope,
       CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
         - (CAST(n * sxy - sx * sy AS DOUBLE) / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0.0))
           * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS intercept,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 0.0)
         AS pearson_r
FROM sums
"""


@register(
    "d31_zipf_fit",
    _D31_ORACLE,
    doc="OLS fit of Zipf's law (log-freq on log-rank, top-100 tokens): "
    "the regression-aggregate class with exact fixed-point sums — "
    "log10 on small ints quantized DECIMAL(9,4), pinned-precision "
    "cross products, closed-form slope/intercept/r from identical "
    "doubles on both engines.",
)
def d31_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf fit: slope/intercept/r over the top-100 frequency curve."""
    from ..functions.text import tokens

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    freq = (
        docs.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    rank_w = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    # rank window runs over the |vocab| aggregate (bounded); pts is 100 rows
    log10q = lambda c: F.round(F.log10(c.cast("double")), 4).cast("decimal(9,4)")  # noqa: E731
    pts = (
        freq.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= 100)
        .select(log10q(F.col("rank")).alias("x"), log10q(F.col("cnt")).alias("y"))
    )
    sums = pts.agg(
        F.count("*").cast("decimal(5,0)").alias("n"),
        F.sum("x").cast("decimal(12,4)").alias("sx"),
        F.sum("y").cast("decimal(12,4)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(29,8)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(29,8)").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(29,8)").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / den_x
    n_d = F.col("n").cast("double")
    return sums.select(
        F.col("n").cast("long").alias("n_terms"),
        slope.alias("slope"),
        (F.col("sy").cast("double") / n_d - slope * (F.col("sx").cast("double") / n_d)).alias(
            "intercept"
        ),
        (num / F.sqrt(den_x * den_y)).alias("pearson_r"),
    )


# ---------------------------------------------------------------------------
# d32 — PageRank over the near-dup candidate graph: the iterative
# graph-propagation operator class beyond d15's connected components —
# centrality inside duplicate clusters ("which copy is the hub the
# others orbit"), and the template for any fixed-iteration message-
# passing op. Exact cross-engine by construction: rank mass is an
# INTEGER fixed-point value (10^9 total), every step is integer
# truncating division (`div` / `//`), so five unrolled iterations hash
# bit-for-bit — the s4 unrolled-Lloyd oracle pattern applied to graph
# propagation. Dangling/isolated nodes keep the teleport base (mass
# leak documented — standard simplified PageRank).
# Scale: each iteration is one edges⋈rank join + one dst-keyed
# aggregate — the same shuffle pair GraphX/Pregel runs; degree and
# edges come from the already-bucketed MinHash band join.
# ---------------------------------------------------------------------------
_D32_EDGE_CTES = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
), tok AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i FROM toks
), tri AS (
  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM tok a
  JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  JOIN tok c ON c.doc_id = a.doc_id AND c.i = a.i + 2
), seeds AS (
  SELECT unnest(generate_series(0, 15)) AS seed
), sigs AS (
  SELECT doc_id, seed, MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS sig
  FROM tri CROSS JOIN seeds
  GROUP BY 1, 2
), banded AS (
  SELECT doc_id, CAST(floor(seed / 4) AS INT) AS band,
         md5(string_agg(sig, '|' ORDER BY seed)) AS band_hash
  FROM sigs GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
), edges AS (
  SELECT d1 AS src, d2 AS dst FROM cand
  UNION ALL
  SELECT d2 AS src, d1 AS dst FROM cand
), deg AS (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1
), nodes AS (
  SELECT doc_id FROM documents
), nn AS (
  SELECT COUNT(*) AS n FROM documents
), it0 AS (
  SELECT doc_id, 1000000000 // (SELECT n FROM nn) AS pr FROM nodes
)"""

_D32_ITER = """, it{next} AS (
  SELECT nd.doc_id,
         CAST(15000000000 // (100 * (SELECT n FROM nn))
              + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS pr
  FROM nodes nd LEFT JOIN (
    SELECT e.dst, SUM(p.pr // d.deg) AS s
    FROM edges e
    JOIN deg d ON d.src = e.src
    JOIN it{cur} p ON p.doc_id = e.src
    GROUP BY 1
  ) c ON c.dst = nd.doc_id
)"""

_D32_ORACLE = (
    _D32_EDGE_CTES
    + "".join(_D32_ITER.format(cur=i, next=i + 1) for i in range(5))
    + """
SELECT f.doc_id,
       CAST(COALESCE(d.deg, 0) AS BIGINT) AS degree,
       f.pr AS pr_fp,
       CAST(f.pr AS DOUBLE) / 1000000000.0 AS pagerank
FROM it5 f LEFT JOIN deg d ON d.src = f.doc_id
"""
)


@register(
    "d32_pagerank",
    _D32_ORACLE,
    doc="PageRank (5 unrolled iterations, damping 0.85) over the "
    "MinHash-LSH near-dup graph in exact integer fixed-point (10^9 "
    "mass, truncating division) — the iterative graph-propagation "
    "class with a bit-for-bit SQL oracle, s4's unrolled-Lloyd pattern "
    "on graphs.",
)
def d32_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over near-dup candidate edges."""
    docs = load_table(spark, sf_dir, "documents")
    nodes = docs.select("doc_id")
    pairs = D.minhash_candidate_pairs(docs, n=3, k=16, bands=4).select("d1", "d2")
    # the unrolled plan references edges/deg in every iteration —
    # checkpoint once so the MinHash band join isn't replicated 11x in
    # the physical plan (the d15/connected_components policy)
    edges = (
        pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
        .unionAll(pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst")))
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # N is a scalar — driver-side fetch (d24 precedent)
    n_docs = nodes.count()
    scale = 1_000_000_000
    base = (15 * scale) // (100 * n_docs)
    pr = nodes.select("doc_id", F.lit(scale // n_docs).cast("long").alias("pr"))
    for _ in range(5):
        contrib = (
            edges.join(deg, "src")
            .join(pr.withColumnRenamed("doc_id", "src"), "src")
            .select("dst", F.expr("pr div deg").alias("c"))
        )
        inflow = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        pr = (
            nodes.join(inflow.withColumnRenamed("dst", "doc_id"), "doc_id", "left")
            .select(
                "doc_id",
                (
                    F.lit(base)
                    + F.expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")
                ).cast("long").alias("pr"),
            )
            # truncate the iterative lineage each round (d15 policy)
            .localCheckpoint(eager=True)
        )
    return pr.join(deg.withColumnRenamed("src", "doc_id"), "doc_id", "left").select(
        "doc_id",
        F.coalesce("deg", F.lit(0)).cast("long").alias("degree"),
        F.col("pr").alias("pr_fp"),
        (F.col("pr").cast("double") / F.lit(1_000_000_000.0)).alias("pagerank"),
    )


# ---------------------------------------------------------------------------
# d34 — bigram language-model quality score (the CCNet/KenLM class):
# score every document by its average log-probability under a Laplace-
# smoothed bigram model trained on the corpus itself — the classic
# "does this read like the corpus" quality filter between the rule
# sets (d20) and the model-based filters a real pipeline plugs in.
# p(w2|w1) = (B(w1w2)+1) / (U(w1)+V); log p splits into
# log10(B+1) - log10(U+V), BOTH logs over small integers → quantized
# DECIMAL(18,6) at the source → exact decimal sums per doc → one
# final double division (avg log-prob). No transcendental ever sees a
# non-integer input, so cross-engine parity holds at any scale.
# Scale: two count shuffles (bigram-keyed, unigram-keyed — the d26
# cost class), the unigram+V table broadcast back (vocab is MBs), the
# bigram join keyed on the gram. V is a scalar driver fetch (d24
# precedent).
# ---------------------------------------------------------------------------
_D34_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), tok AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i FROM toks
), bi AS (
  SELECT a.doc_id, a.w AS w1, b.w AS w2
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1
), bcnt AS (
  SELECT w1, w2, COUNT(*) AS b FROM bi GROUP BY 1, 2
), ucnt AS (
  SELECT w, COUNT(*) AS u FROM tok GROUP BY 1
), vv AS (
  SELECT COUNT(*) AS v FROM ucnt
), scored AS (
  SELECT d.doc_id,
         CAST(round(log10(CAST(c.b + 1 AS DOUBLE)), 6) AS DECIMAL(18,6))
           - CAST(round(log10(CAST(u.u + (SELECT v FROM vv) AS DOUBLE)), 6) AS DECIMAL(18,6))
           AS logp
  FROM bi d
  JOIN bcnt c ON c.w1 = d.w1 AND c.w2 = d.w2
  JOIN ucnt u ON u.w = d.w1
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(logp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_logprob,
       CAST(SUM(logp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) < -2.5 AS low_quality
FROM scored GROUP BY 1
"""


@register(
    "d34_lm_perplexity",
    _D34_ORACLE,
    doc="Bigram LM quality score (CCNet/KenLM class): avg log-prob per "
    "doc under a Laplace-smoothed corpus bigram model. log p = "
    "log10(B+1) - log10(U+V): logs only on integers, quantized decimal "
    "sums, one final division.",
)
def d34_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average bigram log-probability + low-quality flag per document."""
    from ..functions.text import tokens

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    toked = docs.select("doc_id", tokens("text").alias("_toks"))
    gram = F.transform(
        F.sequence(F.lit(0), F.size(F.col("_toks")) - 2),
        lambda i: F.struct(
            F.element_at(F.col("_toks"), i + 1).alias("w1"),
            F.element_at(F.col("_toks"), i + 2).alias("w2"),
        ),
    )
    bi = (
        toked.filter(F.size(F.col("_toks")) >= 2)
        .select("doc_id", F.explode(gram).alias("g"))
        .select("doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    )
    bcnt = bi.groupBy("w1", "w2").agg(F.count("*").alias("b"))
    ucnt = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("u"))
    )
    v = ucnt.count()  # scalar vocab size — driver fetch (d24 precedent)
    log10q = lambda c: F.round(F.log10(c.cast("double")), 6).cast("decimal(18,6)")  # noqa: E731
    scored = (
        bi.join(bcnt, ["w1", "w2"])
        .join(F.broadcast(ucnt.select(F.col("w").alias("w1"), "u")), "w1")
        .select(
            "doc_id",
            (log10q(F.col("b") + 1) - log10q(F.col("u") + F.lit(v))).alias("logp"),
        )
    )
    avg = F.col("_s").cast("double") / F.col("n_bigrams").cast("double")
    return (
        scored.groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("logp").alias("_s"))
        .select(
            "doc_id",
            "n_bigrams",
            avg.alias("avg_logprob"),
            (avg < -2.5).alias("low_quality"),
        )
    )


@register(
    "d35_full_curation",
    None,  # composition of stage-wise oracle-verified operators; the
    # end-to-end result is gated by determinism, funnel-monotonicity,
    # and per-stage cross-checks in tests/test_curation_pipeline.py —
    # a single SQL mirror of six chained stages would restate, not
    # strengthen, the per-stage oracles.
    doc="The full curation ladder in one call (plans/curation_pipeline): "
    "exact dedup -> near-dup keeper -> Gopher+repetition gates -> "
    "decontamination -> temperature sampling -> shard assignment. "
    "Rows-only by design; every stage is individually value-checked.",
)
def d35_full_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final training-shard table from the composed curation pipeline."""
    from ..plans.curation_pipeline import curate_corpus

    return curate_corpus(spark, sf_dir).sharded


# ---------------------------------------------------------------------------
# d36 — BPE merge-pair vocabulary induction (operators/bpe.py): the
# classic LLM tokenizer-training loop. The oracle unrolls the N merge
# rounds as chained CTEs (the d32 unrolled-round pattern): per round,
# overlapping pair counts -> deterministic argmax (count DESC, lhs ASC,
# rhs ASC) -> greedy leftmost merge via the SAME ,-wrapped string fold
# the Spark side uses (list_reduce there, `aggregate` HOF here), so
# every round's winning pair AND its count are value-checked exactly —
# integer counts end-to-end, no float surface at all.
# ---------------------------------------------------------------------------
_BPE_MERGES = 6


def _bpe_chain(n: int, *, final_state: bool = False) -> str:
    """The shared CTE chain unrolling ``n`` BPE merge rounds over
    `documents`. With ``final_state`` the per-round word relations
    carry the original word and the chain includes w{n} (the vocab
    AFTER the last merge) — d37's apply side; without it the chain
    stops at m{n-1} — d36's merge-table side."""
    word_col = "word, " if final_state else ""
    parts = [
        f"""
WITH base AS (
  SELECT word, COUNT(*) AS freq FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents
  ) GROUP BY 1
),
w0 AS (SELECT {word_col}regexp_extract_all(word, '.') AS syms, freq FROM base)"""
    ]
    for r in range(n):
        parts.append(
            f""",
p{r} AS (
  SELECT a, b, SUM(freq) AS cnt FROM (
    SELECT unnest(syms[:len(syms)-1]) AS a, unnest(syms[2:]) AS b, freq FROM w{r}
  ) GROUP BY 1, 2
),
m{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)"""
        )
        if r < n - 1 or final_state:
            parts.append(
                f""",
w{r + 1} AS (
  SELECT {word_col}list_filter(string_split(list_reduce(list_prepend(',', syms),
    (acc, x) -> CASE WHEN ends_with(acc, ',' || m.a || ',') AND x = m.b
                     THEN acc[:len(acc) - len(m.a) - 1] || m.a || m.b || ','
                     ELSE acc || x || ',' END), ','), s -> s <> '') AS syms, freq
  FROM w{r}, m{r} AS m
)"""
            )
    return "".join(parts)


def _bpe_oracle(n: int) -> str:
    """DuckDB SQL unrolling ``n`` BPE merge rounds over `documents`."""
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({r + 1} AS BIGINT) AS merge_rank, a AS lhs, b AS rhs,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM m{r}"
        for r in range(n)
    )
    return _bpe_chain(n) + "\n" + union


@register(
    "d36_bpe_merges",
    _bpe_oracle(_BPE_MERGES),
    doc="BPE tokenizer training: iterative merge-pair induction over the "
    "corpus word-frequency table — first N merges with their counts, "
    "deterministic (count DESC, pair ASC) tie-break. One corpus-sized "
    "word count, then N vocab-sized rounds (d32's checkpointed-iteration "
    "policy, O(1) driver argmax per round).",
)
def d36_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered BPE merge table (merge_rank, lhs, rhs, pair_count)."""
    from ..operators.bpe import bpe_merge_table

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    return bpe_merge_table(docs, n_merges=_BPE_MERGES)


# ---------------------------------------------------------------------------
# d37 — corpus tokenization under the LEARNED vocab (d36's apply half):
# train the N merges, apply them once to the unique-word table (N
# narrow folds over the vocab — never over the corpus), then join the
# per-word token count back to every word occurrence and account by
# source. chars_per_token is the compression a tokenizer buys per
# source — the number an LLM data pipeline budgets corpora with. The
# oracle reuses the d36 CTE chain carrying the original word, so the
# trained state itself (w6) is the vocab both engines tokenize with:
# exact integer sums, one identical double division.
# Scale: train cost is d36's; apply is vocab-sized; the occurrence
# join keys on word against the vocab relation (AQE broadcasts it at
# test scale; at 100 TB vocab stays Heaps'-law small vs the corpus).
# ---------------------------------------------------------------------------
def _bpe_tokenize_oracle(n: int) -> str:
    return (
        _bpe_chain(n, final_state=True)
        + f""",
vocab AS (
  SELECT word, len(syms) AS n_toks, len(word) AS n_chars FROM w{n}
),
docw AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
)
SELECT source,
       COUNT(*) AS n_words,
       CAST(SUM(v.n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(v.n_toks) AS BIGINT) AS total_tokens,
       CAST(SUM(v.n_chars) AS DOUBLE) / CAST(SUM(v.n_toks) AS DOUBLE)
         AS chars_per_token
FROM docw JOIN vocab v USING (word)
GROUP BY 1"""
    )


@register(
    "d37_bpe_tokenize_stats",
    _bpe_tokenize_oracle(_BPE_MERGES),
    doc="Tokenize the corpus with the trained BPE vocab (d36's apply "
    "half): per-source word/char/token totals and chars-per-token "
    "compression. Merges apply to the unique-word table only (N narrow "
    "folds over the vocab); occurrences join the per-word token count "
    "back by key.",
)
def d37_bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenization accounting under the learned merges."""
    from ..operators.bpe import bpe_merge_table, merge_pair_expr, word_freq_table

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_merge_table(docs, n_merges=_BPE_MERGES)
        .orderBy("merge_rank")
        .collect()
    ]
    vocab = word_freq_table(docs).select(
        "word", F.expr("regexp_extract_all(word, '.', 0)").alias("syms")
    )
    for lhs, rhs in merges:
        vocab = vocab.withColumn("syms", F.expr(merge_pair_expr("syms", lhs, rhs)))
    vocab = vocab.select(
        "word",
        F.size("syms").cast("long").alias("n_toks"),
        F.length("word").cast("long").alias("n_chars"),
    )
    docw = docs.select(
        "source",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("word"),
    )
    return (
        docw.join(vocab, "word")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_toks").alias("total_tokens"),
            (F.sum("n_chars").cast("double") / F.sum("n_toks").cast("double")).alias(
                "chars_per_token"
            ),
        )
    )


# ---------------------------------------------------------------------------
# d38 — heavy-hitter tokens (frequent-items census): every token whose
# frequency strictly exceeds n/k. The exact two-pass form is the
# oracle-checked path (integer cross-multiplied threshold — no float
# in the cut; the share division is one identical double op with the
# scalar total fetched driver-side, d24 pattern). The one-pass
# Misra-Gries sketch (`operators/sketches.mg_heavy_hitters`) is the
# 100 TB companion — state bounded to k counters per partition, merged
# with the mergeable-summaries decrement, property-tested against this
# exact form's guarantees (tests/test_stat_ops.py) the way q21's HLL
# is anchored to q27's exact quantiles.
# ---------------------------------------------------------------------------
_HH_K = 30

_D38_ORACLE = f"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token FROM documents
),
tot AS (SELECT COUNT(*) AS n FROM tok),
c AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY 1)
SELECT token, freq,
       CAST(freq AS DOUBLE) / CAST((SELECT n FROM tot) AS DOUBLE) AS share
FROM c WHERE freq * {_HH_K} > (SELECT n FROM tot)
"""


@register(
    "d38_heavy_hitter_tokens",
    _D38_ORACLE,
    doc=f"Heavy-hitter token census: tokens with frequency > n/{_HH_K} "
    "(exact two-pass form; the one-pass Misra-Gries sketch in "
    "operators/sketches.py is the bounded-state scale path, "
    "property-tested against this form's guarantees).",
)
def d38_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens above the n/k frequency threshold with corpus share."""
    from ..operators.sketches import exact_heavy_hitters

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    return exact_heavy_hitters(docs, k=_HH_K)


# ---------------------------------------------------------------------------
# d40 — BM25 retrieval (Robertson & Zaragoza; the Okapi BM25 every
# search/RAG stack ranks with, and the classic lexical baseline the
# embedding path s1/s7 is measured against): top-10 documents per
# query term-set, k1=1.2, b=0.75. Parity discipline is d28's: idf's ln
# runs on an identical-by-construction double ((N - df + 0.5)/(df +
# 0.5) + 1 from small ints) and is quantized to DECIMAL(18,6) at the
# source; the tf saturation factor is one identical chain of IEEE ops
# (2.2 == 1.2 + 1.0 exactly; 0.25 == 1 - 0.75 exactly) quantized to
# DECIMAL(18,9); their product sums as exact decimal (order-free), and
# ranking orders by the decimal score itself. Scale: one token-keyed
# shuffle for df (query-vocab-sized), tf restricted to query terms by
# a broadcast 9-row join, doc lengths one groupBy; N and avgdl are the
# sanctioned O(1) driver scalars (d24 pattern — a 1-row join would
# plan BNLJ).
# ---------------------------------------------------------------------------
_BM25_QUERY_TERMS = (
    (1, "hash"), (1, "join"), (1, "merge"),
    (2, "stream"), (2, "window"), (2, "batch"),
    (3, "vector"), (3, "scan"), (3, "filter"),
)
_BM25_VALUES = ", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERY_TERMS)

def _bm25_census_oracle(doc_where: str = "") -> str:
    """The d40 census oracle, parameterized by a survivor filter on the
    documents source — '' is d40 itself; d52 passes the NOT-IN erasure
    filter so the same chain scores the surviving corpus (what a
    rebuilt-from-survivors index would serve, which the forget path
    must equal bit for bit)."""
    return f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
  FROM documents {doc_where}
), dl AS MATERIALIZED (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY 1
), stats AS MATERIALIZED (
  SELECT CAST((SELECT COUNT(*) FROM documents {doc_where}) AS DOUBLE) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl
), q(query_id, term) AS (VALUES {_BM25_VALUES}),
tf AS MATERIALIZED (
  SELECT q.query_id, q.term, t.doc_id, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok t JOIN q ON q.term = t.term GROUP BY 1, 2, 3
), dfq AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1
), idf AS (
  SELECT d.term,
         CAST(round(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0), 6)
              AS DECIMAL(18,6)) AS idf_q
  FROM dfq d CROSS JOIN stats s
), parts AS (
  SELECT f.query_id, f.doc_id,
         i.idf_q * CAST(round((CAST(f.tf AS DOUBLE) * 2.2)
             / (CAST(f.tf AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * (CAST(d.dl AS DOUBLE) / s.avgdl))), 9)
           AS DECIMAL(18,9)) AS p
  FROM tf f
  JOIN dl d ON d.doc_id = f.doc_id
  JOIN idf i ON i.term = f.term
  CROSS JOIN stats s
), agg AS (
  SELECT query_id, doc_id, SUM(p) AS score_x,
         CAST(COUNT(*) AS BIGINT) AS n_terms_matched
  FROM parts GROUP BY 1, 2
)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, n_terms_matched,
       CAST(score_x AS DOUBLE) AS bm25, rank
FROM (
  SELECT query_id, doc_id, n_terms_matched, score_x,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY score_x DESC, doc_id ASC
         ) AS BIGINT) AS rank
  FROM agg) WHERE rank <= 10
"""


_D40_ORACLE = _bm25_census_oracle()


@register(
    "d40_bm25_retrieval",
    _D40_ORACLE,
    doc="Okapi BM25 top-10 per query term-set (k1=1.2, b=0.75) — the "
    "lexical retrieval baseline beside the s1/s7 embedding path. "
    "Quantized-ln idf (d28 convention) x quantized tf-saturation, "
    "summed and RANKED as exact decimals; N/avgdl are sanctioned O(1) "
    "driver scalars.",
)
def d40_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 docs per query by BM25 over [a-z]+ tokenization."""
    from ..operators.retrieval import (
        bm25_literal_queries,
        bm25_scores,
        corpus_stats,
        tokens_df,
    )

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    tok = tokens_df(docs)
    n_docs, avgdl, dl = corpus_stats(docs, tok)
    q = bm25_literal_queries(spark, _BM25_QUERY_TERMS)
    agg = bm25_scores(tok, q, n_docs, avgdl, dl)
    w = Window.partitionBy("query_id").orderBy(F.desc("score_x"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            "n_terms_matched",
            F.col("score_x").cast("double").alias("bm25"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# d41 — Count-Min sketch (Cormode & Muthukrishnan 2005): the mergeable
# point-frequency sketch beside d38's Misra-Gries heavy-hitter set and
# q21's HLL cardinality. The d×w counter table is built COUNTER-KEYED —
# each token occurrence explodes into d (row, bucket) cells and the one
# shuffle carries at most d·w = 4096 groups (map-side combine collapses
# every partition to that), never the vocabulary — which is the entire
# 100 TB point: frequency estimates without a vocab-sized exchange.
# Unlike MG (whose surviving-counter SET is partition-order-sensitive,
# hence property-tested), CM counters are plain SUMS — deterministic
# under any partitioning — so this sketch is fully VALUE-ORACLED: the
# bucket hash is the repo's md5-nibble u16 idiom (d25/d33), identical
# on both engines, and the one-sided guarantee (estimate ≥ true count)
# is visible in the checked `overestimate` column.
# ---------------------------------------------------------------------------
_CM_D, _CM_W = 4, 1024

_CM_U16_SQL = (
    "((strpos('0123456789abcdef', substr({m}, 1, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr({m}, 2, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr({m}, 3, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr({m}, 4, 1)) - 1))"
)

_D41_ORACLE = f"""
WITH tok AS MATERIALIZED (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
  FROM documents
), hs AS (SELECT i FROM (VALUES (0), (1), (2), (3)) AS t(i)),
qt(term) AS (VALUES {", ".join(f"('{t}')" for _, t in _BM25_QUERY_TERMS)}),
ob AS (
  SELECT h.i,
         {_CM_U16_SQL.format(m="md5('cm' || CAST(h.i AS VARCHAR) || ':' || o.term)")} % {_CM_W} AS bucket
  FROM tok o CROSS JOIN hs h
), counters AS MATERIALIZED (
  SELECT i, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM ob GROUP BY 1, 2
), qb AS (
  SELECT q.term, h.i,
         {_CM_U16_SQL.format(m="md5('cm' || CAST(h.i AS VARCHAR) || ':' || q.term)")} % {_CM_W} AS bucket
  FROM (SELECT DISTINCT term FROM qt) q CROSS JOIN hs h
), est AS (
  SELECT qb.term, CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS cm_est
  FROM qb LEFT JOIN counters c ON c.i = qb.i AND c.bucket = qb.bucket
  GROUP BY 1
), truec AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM tok
  WHERE term IN (SELECT term FROM qt) GROUP BY 1
)
SELECT e.term, CAST(COALESCE(t.true_cnt, 0) AS BIGINT) AS true_cnt, e.cm_est,
       CAST(e.cm_est - COALESCE(t.true_cnt, 0) AS BIGINT) AS overestimate
FROM est e LEFT JOIN truec t ON t.term = e.term
"""


@register(
    "d41_countmin_freq",
    _D41_ORACLE,
    doc=f"Count-Min sketch ({_CM_D}x{_CM_W} counters) + point-frequency "
    "estimates for the query-term census: counter-keyed build (the one "
    "shuffle carries <=4096 groups, never the vocabulary), min-over-"
    "rows estimate, one-sided overestimate column >= 0 by the CM "
    "guarantee. Counters are plain sums, so the whole sketch is "
    "value-oracled — the deterministic sibling of d38's MG sketch.",
)
def d41_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CM-sketch point estimates vs true counts for the fixed query
    terms: (term, true_cnt, cm_est, overestimate >= 0). Estimates use
    the canonical LEFT-join/coalesce-0 min over ALL d rows (an empty
    cell is a zero counter, so a term the corpus never hashed into some
    row estimates 0)."""
    from ..operators.sketches import cm_point_estimates, cm_sketch

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("term")
    )
    counters = cm_sketch(tok, d=_CM_D, w=_CM_W)
    terms = spark.createDataFrame(
        sorted({(t,) for _, t in _BM25_QUERY_TERMS}), "term string"
    )
    est = cm_point_estimates(counters, terms, d=_CM_D, w=_CM_W)
    return _cm_vs_truth(tok, terms, est)


def _cm_vs_truth(tok: DataFrame, terms: DataFrame, est: DataFrame) -> DataFrame:
    """(term, true_cnt, cm_est, overestimate) — the shared d41/d43
    reconciliation shape: exact counts for the query census joined to
    the sketch estimates, with the one-sided error made visible."""
    truec = (
        tok.join(F.broadcast(terms), "term")
        .groupBy("term")
        .agg(F.count("*").alias("true_cnt"))
    )
    return est.join(truec, "term", "left").select(
        "term",
        F.coalesce(F.col("true_cnt"), F.lit(0)).cast("long").alias("true_cnt"),
        "cm_est",
        (F.col("cm_est") - F.coalesce(F.col("true_cnt"), F.lit(0)))
        .cast("long")
        .alias("overestimate"),
    )


# ---------------------------------------------------------------------------
# d43 — d41's sketch as PERSISTED, MERGEABLE state (r6 verdict #4):
# build one CM sketch per disjoint corpus shard, land each as an
# append-only counter delta in a ManifestTable (concurrent shard
# loaders commit through the manifest CAS), and serve point estimates
# from the element-wise SUM of the deltas — the corpus is never
# touched at estimate time. Counter addition is associative, so
# union(shard sketches) ≡ the whole-corpus sketch EXACTLY, which is
# why this stays fully value-oracled: the oracle is d41's (the union
# is bit-equal to the all-at-once build it verifies).
# ---------------------------------------------------------------------------
@register(
    "d43_countmin_union",
    _D41_ORACLE,
    doc="Count-Min sketch union: per-shard sketches persisted as "
    "CAS-appended counter deltas (ManifestTable), element-wise summed "
    "at read — point estimates without touching the corpus. "
    "Associativity makes union(shards) bit-equal to the all-at-once "
    "sketch, so d41's full value oracle applies; base+append "
    "equivalence is additionally pinned in tests/test_stat_ops.py.",
)
def d43_countmin_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d41's estimates served from a two-shard persisted sketch union:
    (term, true_cnt, cm_est, overestimate >= 0)."""
    import os

    from ..operators.manifest import ManifestTable
    from ..operators.sketches import (
        _CM_TABLE,
        append_cm_sketch,
        cm_point_estimates,
        cm_sketch,
        read_cm_sketch,
        write_cm_sketch,
    )
    from . import work_dir

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))

    def shard_tok(pred):
        return docs.filter(pred).select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("term")
        )

    # reused per-corpus path; expire+vacuum bound scratch to one sketch
    path = work_dir("d43_cm", sf_dir)
    write_cm_sketch(cm_sketch(shard_tok(F.col("doc_id") % 2 == 0), _CM_D, _CM_W), path)
    append_cm_sketch(cm_sketch(shard_tok(F.col("doc_id") % 2 == 1), _CM_D, _CM_W), path)
    t = ManifestTable(os.path.join(path, _CM_TABLE))
    t.expire(keep_last=1)
    t.vacuum(older_than_s=0.0)
    counters = read_cm_sketch(spark, path)
    terms = spark.createDataFrame(
        sorted({(t,) for _, t in _BM25_QUERY_TERMS}), "term string"
    )
    est = cm_point_estimates(counters, terms, d=_CM_D, w=_CM_W)
    tok = docs.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("term")
    )
    return _cm_vs_truth(tok, terms, est)


# ---------------------------------------------------------------------------
# d42 — d40's BM25 census served from the PERSISTED inverted index
# (write once, probe by query vocabulary): postings/doclen/_stats
# ManifestTables, term-clustered files so the query probe opens only
# the files whose stats admit a query term (`read_any_of`, one scan),
# N/avgdl summed from append-only stats deltas. Because the index path
# shares `_bm25_from_parts` with the tokenize-per-call path, scores
# are bit-identical and the oracle IS d40's oracle — the incremental
# build (base+appends ≡ all-at-once) is equivalence-tested in
# tests/test_retrieval_index.py, the d24/append_to_ivfpq precedent.
# ---------------------------------------------------------------------------
@register(
    "d42_bm25_index",
    _D40_ORACLE,
    doc="BM25 top-10 per query served from the persisted lexical index "
    "(term-clustered postings + doclen + appendable stats deltas) — "
    "query-time work bounded by the query vocabulary, no corpus "
    "re-tokenization. Bit-identical to d40 (shared scoring core), so "
    "it reuses d40's value oracle.",
)
def d42_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 docs per query by BM25, scored off the inverted index."""
    import os

    from ..operators.manifest import ManifestTable
    from ..operators.retrieval import (
        bm25_literal_queries,
        lexical_index_bm25,
        write_lexical_index,
    )
    from . import work_dir

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    # write-once/serve-many: the build is deterministic in (corpus,
    # params), so the fingerprint-gated stamp reuses a current index
    # instead of re-tokenizing per call (the s11 convention); a corpus
    # or parameter change rebuilds. expire+vacuum bound scratch to one
    # index on real rebuilds.
    path = work_dir("d42_lexidx", sf_dir)
    write_lexical_index(docs, path, n_files=8, skip_if_current=True)
    for part in ("postings", "doclen", "_stats"):
        t = ManifestTable(os.path.join(path, part))
        t.expire(keep_last=1)
        t.vacuum(older_than_s=0.0)
    q = bm25_literal_queries(spark, _BM25_QUERY_TERMS)
    agg = lexical_index_bm25(spark, path, q)
    w = Window.partitionBy("query_id").orderBy(F.desc("score_x"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            "n_terms_matched",
            F.col("score_x").cast("double").alias("bm25"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# d44 — benchmark-phrase decontamination served from the PERSISTED
# inverted index (two-phase candidate → verify). Complements d14 (the
# n-gram-overlap decontam, which tokenizes the full corpus per call):
# here the corpus is probed through d42's postings index — candidates
# are docs whose postings contain every phrase term (one stats-pruned
# `read_any_of` scan over the phrases' bounded vocabulary), and exact
# adjacency is verified only on the candidate rows. The phrase census
# includes a one-term-degenerate phrase ("table table" — candidates =
# that term's df), rare multi-term phrases, and a phrase with an
# out-of-vocabulary term ("pipeline") exercising the empty-probe path.
# The oracle recomputes ground truth corpus-wide — the two-phase Spark
# plan must land on EXACTLY that set (candidates are a superset by the
# tokenizer-containment argument; the verify filter closes it).
# ---------------------------------------------------------------------------
_D44_PHRASES = (
    (1, "table table"),
    (2, "scan query"),
    (3, "fast merge batch"),
    (4, "window spark order"),
    (5, "data pipeline"),
)

_D44_VALUES = ", ".join(f"({i}, '{p}')" for i, p in _D44_PHRASES)

_D44_ORACLE = f"""
WITH phrases(phrase_id, phrase) AS (VALUES {_D44_VALUES}),
pterms AS (
  SELECT DISTINCT phrase_id, term FROM (
    SELECT phrase_id, unnest(string_split(phrase, ' ')) AS term FROM phrases
  )
),
nt AS (SELECT phrase_id, CAST(COUNT(*) AS BIGINT) AS n_terms FROM pterms GROUP BY 1),
tok AS MATERIALIZED (
  SELECT doc_id,
         ' ' || array_to_string(regexp_extract_all(lower(text), '[a-z]+'), ' ') || ' ' AS norm
  FROM documents
),
dterm AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term FROM documents
  )
),
cand AS (
  SELECT p.phrase_id, d.doc_id
  FROM pterms p
  JOIN dterm d ON d.term = p.term
  JOIN nt ON nt.phrase_id = p.phrase_id
  GROUP BY p.phrase_id, d.doc_id, nt.n_terms
  HAVING COUNT(*) = nt.n_terms
),
cagg AS (SELECT phrase_id, CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand GROUP BY 1),
contam AS (
  SELECT c.phrase_id, c.doc_id
  FROM cand c
  JOIN tok t ON t.doc_id = c.doc_id
  JOIN phrases ph ON ph.phrase_id = c.phrase_id
  WHERE contains(t.norm, ' ' || ph.phrase || ' ')
),
xagg AS (
  SELECT phrase_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated,
         md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS docs_fp
  FROM contam GROUP BY 1
)
SELECT CAST(ph.phrase_id AS BIGINT) AS phrase_id, ph.phrase,
       COALESCE(c.n_candidates, 0) AS n_candidates,
       COALESCE(x.n_contaminated, 0) AS n_contaminated,
       COALESCE(x.docs_fp, md5('')) AS docs_fp
FROM phrases ph
LEFT JOIN cagg c ON c.phrase_id = ph.phrase_id
LEFT JOIN xagg x ON x.phrase_id = ph.phrase_id
"""


@register(
    "d44_index_decontam",
    _D44_ORACLE,
    doc="Benchmark-phrase decontamination answered from the persisted "
    "postings index: conjunctive term probe (stats-pruned, one scan) "
    "for candidates, exact space-joined-token containment verified on "
    "candidates only — per phrase: candidate count, contaminated count "
    "and an order-canonical md5 of the contaminated doc-id set.",
)
def d44_index_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per benchmark phrase: index-probe candidates -> verified docs."""
    import os

    from ..operators.manifest import ManifestTable
    from ..operators.retrieval import phrase_decontaminate, write_lexical_index
    from . import work_dir

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    # write-once/serve-many: fingerprint-gated reuse (the d42
    # convention); scratch bounded by expire+vacuum on real rebuilds
    path = work_dir("d44_lexidx", sf_dir)
    write_lexical_index(docs, path, n_files=8, skip_if_current=True)
    for part in ("postings", "doclen", "_stats"):
        t = ManifestTable(os.path.join(path, part))
        t.expire(keep_last=1)
        t.vacuum(older_than_s=0.0)
    return phrase_decontaminate(spark, path, docs, _D44_PHRASES)


# ---------------------------------------------------------------------------
# d45 — incremental exact dedup against the PERSISTED fingerprint
# registry (rung 1 of the ladder as lakehouse state). Base corpus =
# doc_id%4 != 3; the incoming shard = the %4==3 docs PLUS a re-crawl of
# the %4==0 docs under shifted ids (guaranteed cross-ingestion dups,
# the d1 doubling idiom). The shard classifies against the registry
# (fingerprint-keyed join, corpus text never re-read): dup_of_corpus
# keeps the REGISTRY keeper (first-ingested-wins — even when the shard
# id is smaller), first-anywhere docs are 'new', and intra-shard
# repeats are 'dup_in_shard' keeping the shard minimum. Registry rows
# are MIN/SUM-associative deltas, so concurrent shard appends commute
# (base+appends ≡ all-at-once — equivalence-tested).
# ---------------------------------------------------------------------------
_D45_ORACLE = """
WITH fp AS (
  SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
         doc_id % 4 AS slot
  FROM documents
),
base AS (SELECT doc_id, fingerprint FROM fp WHERE slot <> 3),
shard AS (
  SELECT doc_id, fingerprint FROM fp WHERE slot = 3
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, fingerprint FROM fp WHERE slot = 0
),
reg AS (SELECT fingerprint, MIN(doc_id) AS ckeeper FROM base GROUP BY 1),
smin AS (SELECT fingerprint, MIN(doc_id) AS skeeper FROM shard GROUP BY 1)
SELECT s.doc_id, s.fingerprint,
       CASE WHEN r.ckeeper IS NOT NULL THEN 'dup_of_corpus'
            WHEN s.doc_id = m.skeeper THEN 'new'
            ELSE 'dup_in_shard' END AS status,
       COALESCE(r.ckeeper, m.skeeper) AS keeper_id
FROM shard s
LEFT JOIN reg r ON r.fingerprint = s.fingerprint
JOIN smin m ON m.fingerprint = s.fingerprint
"""


@register(
    "d45_incremental_dedup",
    _D45_ORACLE,
    doc="Incremental exact dedup: a new shard (fresh docs + a re-crawl "
    "of known docs under new ids) classified against the persisted "
    "fingerprint registry — dup_of_corpus / new / dup_in_shard with "
    "deterministic keepers; only shard text is fingerprinted, the "
    "corpus contributes its ~50-byte-per-doc registry rows.",
)
def d45_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify one shard against the persisted fingerprint registry."""
    import os

    from ..operators.dedup import (
        _FP_TABLE,
        incremental_exact_dedup,
        read_fingerprint_registry,
        write_fingerprint_registry,
    )
    from ..operators.manifest import ManifestTable
    from . import work_dir

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    base = docs.filter(F.col("doc_id") % 4 != 3)
    shard = docs.filter(F.col("doc_id") % 4 == 3).unionByName(
        docs.filter(F.col("doc_id") % 4 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(2_000_000)
        )
    )
    # write-once at scale (appends per ingested shard); rebuilt per
    # call for oracle self-containment, scratch bounded (d42 convention)
    path = work_dir("d45_fpreg", sf_dir)
    write_fingerprint_registry(base, path, n_files=4)
    t = ManifestTable(os.path.join(path, _FP_TABLE))
    t.expire(keep_last=1)
    t.vacuum(older_than_s=0.0)
    return incremental_exact_dedup(shard, read_fingerprint_registry(spark, path))


# ---------------------------------------------------------------------------
# d46 — d24's shard-vs-corpus near-dup served from the PERSISTED
# MinHash-LSH index (rung 2 as lakehouse state — the d42/d45 pattern
# for the fuzzy rung, closing the set: exact = d45's fingerprint
# registry, lexical = d42's postings, embedding = s8's IVF-PQ codes).
# The corpus is shingled ONCE at write time into band-hash-clustered
# `_bands` + doc-clustered `_sigs` ManifestTables; per-ingest work is
# shingling the SHARD plus one band-bucket join and a candidate-only
# signature verify. Because the signature and band chains are shared
# with `minhash_incremental_pairs`, results are bit-identical to d24 —
# the oracle IS d24's oracle (the d42 convention), and base+appends ≡
# all-at-once is equivalence-tested (per-doc rows over disjoint
# shards).
# ---------------------------------------------------------------------------
@register(
    "d46_minhash_index",
    _D24_ORACLE,
    doc="Incremental near-dup served from the persisted MinHash-LSH "
    "index (band-hash-clustered bands + doc-clustered signatures): "
    "per-ingest cost is shard-shingling + a bucket join — the corpus "
    "is never re-shingled. Bit-identical to d24 (shared md5 chains), "
    "so it reuses d24's value oracle.",
)
def d46_minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newest 20% probed against the persisted corpus MinHash index."""
    import os

    from ..operators.dedup import (
        _MH_BANDS,
        _MH_SIGS,
        minhash_index_probe,
        write_minhash_index,
    )
    from ..operators.manifest import ManifestTable
    from . import work_dir

    docs = load_table(spark, sf_dir, "documents")
    # the same sanctioned O(1) scalar split as d24
    cutoff = int(
        docs.agg(F.ceil((F.max("doc_id") + F.lit(1)) * F.lit(0.8)).cast("long")).first()[0]
    )
    # write-once/serve-many (appends per ingested shard):
    # fingerprint-gated reuse (the d42 convention), scratch bounded
    # by expire+vacuum on real rebuilds
    path = work_dir("d46_mhidx", sf_dir)
    write_minhash_index(
        docs.filter(F.col("doc_id") < cutoff), path, n_files=8,
        skip_if_current=True,
    )
    for part in (_MH_BANDS, _MH_SIGS):
        t = ManifestTable(os.path.join(path, part))
        t.expire(keep_last=1)
        t.vacuum(older_than_s=0.0)
    pairs = minhash_index_probe(spark, docs.filter(F.col("doc_id") >= cutoff), path)
    return pairs.select(
        "new_id",
        "old_id",
        "est_jaccard",
        (F.col("est_jaccard") >= F.lit(0.5)).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# d47 — model-in-the-loop quality scoring (the FineWeb-Edu / DCLM
# curation pattern): distill a cheap heuristic teacher gate into a
# TRAINED linear probe whose smooth score ranks documents. The
# training is the operator — full-batch gradient descent on squared
# loss in exact fixed-point integers (weights nano, features micro,
# gradients decimal-exact, truncate-toward-zero division), so the
# whole T-round optimization is bit-deterministic on any engine/
# partitioning and unrolls into plain SQL — the kmeans/s4 precedent
# extended from clustering to supervised training. Squared loss keeps
# the chain transcendental-free: a logistic head's per-row exp()
# would reintroduce the engine-last-ulp rounding d34 documents.
# ---------------------------------------------------------------------------
def _d47_feats(prefix: str, source_sql: str) -> str:
    """The probe feature CTE pair over any doc relation: ``{prefix}s``
    (raw stats) + ``{prefix}f`` (fixed-point features) — shared by the
    d47 training chain and d50's shifted-shard scoring side."""
    return f"""{prefix}s AS MATERIALIZED (
  SELECT doc_id,
         CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens,
         CAST(length(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS BIGINT) AS n_chars,
         CAST((SELECT COUNT(*) FROM unnest(string_split_regex(lower(trim(text)), '\\s+')) AS u(tok)
               WHERE tok IN ({_STOP_IN})) AS BIGINT) AS n_stop,
         CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT) AS n_distinct
  FROM {source_sql}
), {prefix}f AS MATERIALIZED (
  SELECT doc_id,
         CAST(1000000 AS BIGINT) AS x0,
         least(n_tokens, 200) * CAST(5000 AS BIGINT) AS x1,
         (n_stop * 1000000) // greatest(n_tokens, 1) AS x2,
         (n_distinct * 1000000) // greatest(n_tokens, 1) AS x3,
         least((n_chars * 1000000) // greatest(n_tokens, 1), 20000000) // 20 AS x4,
         CAST(CASE WHEN n_tokens >= 40
                    AND (n_stop * 1000000) // greatest(n_tokens, 1) >= 50000
              THEN 1000000 ELSE 0 END AS BIGINT) AS y
  FROM {prefix}s
)"""


def _d47_chain(iters: int = 5, lr_den: int = 2) -> str:
    """The unrolled-GD CTE chain: features (``d47f``), count, and the
    per-round gradient/weight CTEs, ending at ``d47w{iters}`` (the
    trained weights, 1 row) — wrapped by `_d47_oracle`'s per-doc score
    read and composed by d48 into the sampling tail."""
    feats = f"""
WITH {_d47_feats("d47", "documents")}, d47n AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d47f
), d47w0 AS MATERIALIZED (
  SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
         CAST(0 AS BIGINT) AS w3, CAST(0 AS BIGINT) AS w4
)"""
    z = "(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 + w.w4*f.x4) // 1000000000"
    rounds = []
    for t in range(1, iters + 1):
        gsum = ", ".join(
            f"CAST(SUM((({z}) - f.y) * f.x{j}) AS BIGINT) AS g{j}" for j in range(5)
        )
        wupd = ", ".join(
            f"CAST(w.w{j} - g.g{j} // ({lr_den} * 1000 * n.n) AS BIGINT) AS w{j}"
            for j in range(5)
        )
        rounds.append(f""", d47g{t} AS MATERIALIZED (
  SELECT {gsum}
  FROM d47f f CROSS JOIN d47w{t - 1} w
), d47w{t} AS MATERIALIZED (
  SELECT {wupd}
  FROM d47w{t - 1} w CROSS JOIN d47g{t} g CROSS JOIN d47n n
)"""
        )
    return feats + "".join(rounds)


_D47_Z = "(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 + w.w4*f.x4) // 1000000000"


def _d47_oracle(iters: int = 5, lr_den: int = 2) -> str:
    return (
        _d47_chain(iters, lr_den)
        + f"""
SELECT f.doc_id,
       CAST({_D47_Z} AS BIGINT) AS score_micro,
       (({_D47_Z}) >= 500000) AS predicted,
       (f.y = 1000000) AS label
FROM d47f f CROSS JOIN d47w{iters} w
"""
    )


@register(
    "d47_quality_probe",
    _d47_oracle(iters=20, lr_den=1),
    doc="Model-in-the-loop quality scoring: a linear probe TRAINED by "
    "20 rounds of exact fixed-point gradient descent (squared loss) to "
    "distill the gopher-flavored teacher gate into a smooth ranking "
    "score — the FineWeb-Edu/DCLM curation step as a deterministic "
    "distributed operator (trained accuracy 0.70 vs the 0.57 majority "
    "baseline at sf0.01, loss monotone). Oracle unrolls the training "
    "rounds in SQL (the s4 unrolled-Lloyd precedent for iterative "
    "algorithms); per-round cost is one map-side-combinable "
    "aggregation, O(features) driver state.",
)
def d47_quality_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score_micro, predicted, label) after 20 GD rounds."""
    from ..operators.quality import train_quality_probe

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))  # d3 note
    _w, scored = train_quality_probe(docs, iters=20, lr_den=1)
    return scored


# ---------------------------------------------------------------------------
# d48 — classifier-gated curation sampling: compose the d47 TRAINED
# probe with the d25 deterministic md5-u16 lottery — the FineWeb-Edu
# "filter by classifier score" step. Keep above hi_cut, drop below
# lo_cut, and in between accept with probability linear in the score
# via a pure integer cross-multiplication (u16·span < (score−lo)·2^16)
# — no float, no division, bit-identical on both engines. Oracle =
# the unrolled 20-round training chain + the integer lottery tail.
# ---------------------------------------------------------------------------
_D48_LO, _D48_HI = 350_000, 600_000

_D48_ORACLE = (
    _d47_chain(iters=20, lr_den=1)
    + f""", d48u AS (
  SELECT doc_id, source,
         (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
         + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
         + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS u16
  FROM documents
)
SELECT f.doc_id, u.source,
       CAST({_D47_Z} AS BIGINT) AS score_micro,
       CASE WHEN ({_D47_Z}) >= {_D48_HI} THEN 'keep'
            WHEN ({_D47_Z}) < {_D48_LO} THEN 'drop'
            ELSE 'lottery' END AS band,
       CASE WHEN ({_D47_Z}) >= {_D48_HI} THEN TRUE
            WHEN ({_D47_Z}) < {_D48_LO} THEN FALSE
            ELSE u.u16 * {_D48_HI - _D48_LO} < (({_D47_Z}) - {_D48_LO}) * 65536
       END AS accepted
FROM d47f f CROSS JOIN d47w20 w
JOIN d48u u ON u.doc_id = f.doc_id
"""
)


@register(
    "d48_probe_gated_sampling",
    _D48_ORACLE,
    doc="Classifier-gated curation sampling (the FineWeb-Edu filter "
    "step): the d47 trained probe's score keeps/drops outright outside "
    "[0.35, 0.60] and runs a deterministic md5-u16 lottery linear in "
    "the score between — a pure integer cross-multiplication, no "
    "float/division anywhere in the decision. Oracle composes the "
    "unrolled 20-round training chain with the integer lottery tail.",
)
def d48_probe_gated_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, score_micro, band, accepted) under the trained
    probe's keep/lottery/drop bands."""
    from ..operators.quality import probe_scored_sampling

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))  # d3 note
    return probe_scored_sampling(docs, lo_cut=_D48_LO, hi_cut=_D48_HI, iters=20, lr_den=1)


# ---------------------------------------------------------------------------
# d50 — probe score-drift monitor: compose the d47 TRAINED probe with
# the q46 exact-KS kernel. The model registry serves frozen weights to
# batch and streams (operators/quality.save_probe/score_with_probe);
# nothing so far watched whether documents LANDING LATER still look
# like the training corpus — the retrain trigger (s12 is this signal
# for the ANN index; this is the probe's analogue). Two score
# distributions: (a) the training corpus under the trained weights,
# (b) a deterministically DEGRADED shard (every %4==1 doc truncated to
# its first 60 chars — the "crawl quality fell off a cliff" shape)
# scored with the SAME frozen weights. D = max |F_a - F_b| entirely in
# integers (common-denominator form, the q46 kernel), 5% critical
# value, drift verdict. Oracle = the unrolled 20-round training chain
# + a second feature CTE over the truncated shard + the q46 CDF tail.
# At 100 TB: training-side counts are persisted once
# (plans/incremental_ingest stores `_train_scores`); the shard side is
# one narrow projection + an O(|score domain|) count relation.
# ---------------------------------------------------------------------------
_D50_SHARD_SQL = (
    "(SELECT doc_id, substr(text, 1, 60) AS text FROM documents WHERE doc_id % 4 = 1)"
)

_D50_ORACLE = (
    _d47_chain(iters=20, lr_den=1)
    + ", "
    + _d47_feats("d50", _D50_SHARD_SQL)
    + f""", d50a AS (
  SELECT CAST({_D47_Z} AS BIGINT) AS v, COUNT(*) AS a_at
  FROM d47f f CROSS JOIN d47w20 w GROUP BY 1
), d50b AS (
  SELECT CAST({_D47_Z} AS BIGINT) AS v, COUNT(*) AS b_at
  FROM d50f f CROSS JOIN d47w20 w GROUP BY 1
), d50byval AS (
  SELECT COALESCE(a.v, b.v) AS v, COALESCE(a_at, 0) AS a_at, COALESCE(b_at, 0) AS b_at
  FROM d50a a FULL OUTER JOIN d50b b ON a.v = b.v
), d50cum AS (
  SELECT v,
         SUM(a_at) OVER (ORDER BY v) AS cum_a,
         SUM(b_at) OVER (ORDER BY v) AS cum_b,
         SUM(a_at) OVER () AS n_a,
         SUM(b_at) OVER () AS n_b
  FROM d50byval
)
SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
       CAST(MAX(n_b) AS BIGINT) AS n_b,
       CAST(MAX(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS d_num,
       CAST(MAX(abs(cum_a * n_b - cum_b * n_a)) AS DOUBLE)
         / NULLIF(CAST(MAX(n_a) * MAX(n_b) AS DOUBLE), 0.0) AS ks_d,
       1.36 * sqrt(CAST(MAX(n_a) + MAX(n_b) AS DOUBLE)
                   / NULLIF(CAST(MAX(n_a) * MAX(n_b) AS DOUBLE), 0.0)) AS ks_crit,
       CAST(MAX(abs(cum_a * n_b - cum_b * n_a)) AS DOUBLE)
         / NULLIF(CAST(MAX(n_a) * MAX(n_b) AS DOUBLE), 0.0)
         > 1.36 * sqrt(CAST(MAX(n_a) + MAX(n_b) AS DOUBLE)
                       / NULLIF(CAST(MAX(n_a) * MAX(n_b) AS DOUBLE), 0.0)) AS drift
FROM d50cum
"""
)


@register(
    "d50_probe_drift",
    _D50_ORACLE,
    doc="Probe score-drift monitor (the retrain trigger for the served "
    "quality model): exact two-sample KS between the training corpus's "
    "score distribution under the d47 trained probe and a degraded "
    "shard (truncated texts) scored with the SAME frozen weights — "
    "integer common-denominator CDFs, 5% critical value, drift "
    "verdict. Composes the unrolled training chain with the q46 "
    "kernel; the incremental ingest plan serves the training side "
    "from its persisted _train_scores.",
)
def d50_probe_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_a, n_b, d_num, ks_d, ks_crit, drift) — training scores vs a
    truncated %4==1 shard under the same frozen probe."""
    from ..operators.quality import exact_ks_counts, score_with_probe, train_quality_probe

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))  # d3 note
    w, scored = train_quality_probe(docs, iters=20, lr_den=1)
    shard = docs.filter(F.col("doc_id") % 4 == 1).withColumn(
        "text", F.substring(F.col("text"), 1, 60)
    )
    a = scored.groupBy(F.col("score_micro").alias("v")).agg(F.count("*").alias("cnt"))
    b = (
        score_with_probe(shard, w)
        .groupBy(F.col("score_micro").alias("v"))
        .agg(F.count("*").alias("cnt"))
    )
    return exact_ks_counts(a, b)


# ---------------------------------------------------------------------------
# d51 — the incremental-ingest curation plan, registered (r7 verdict
# item 1): one callable takes the corpus as TWO consecutive id-ordered
# shards through the whole incremental ladder — d45 fingerprint-
# registry probe, d46 MinHash-band index probe + cluster re-rooting,
# Gopher/repetition gates, the d47/d48 FROZEN probe gate, d44
# index-served phrase decontam — appending survivors + deltas to all
# four persisted indexes (exact, fuzzy, lexical, dense) per pass, then
# reads back the per-pass funnel. Rows-only by design (the d35
# multi-stage-composition precedent): the value evidence is the
# equivalence test (tests/test_incremental_ingest.py) asserting the
# two-pass state read equals ONE batch curate_corpus over the union,
# per-doc, at every stage. State is wiped per call so the run is
# deterministic; scratch is the one reused work_dir per corpus.
# ---------------------------------------------------------------------------
_D51_STAGES = (
    "shard_raw", "exact_new", "dup_of_corpus", "dup_in_shard",
    "neardup_kept", "retired_keepers", "semantic_keep", "gate_pass",
    "probe_pass", "decontam_pass",
)


@register(
    "d51_incremental_ingest",
    None,
    doc="Production incremental curation: two consecutive shards pushed "
    "through all persisted indexes (d45 exact registry, d46 MinHash "
    "bands, d42 postings, s8 IVF-PQ codes) plus the index-served "
    "SEMANTIC rung (frozen coarse-quantizer cells, exact 0.35-radius "
    "within-cell cosine — r8 verdict item 1), the frozen d47 probe "
    "gate and d44 phrase decontam, with cluster re-rooting that "
    "retires previously-kept keepers a later shard defeats; returns the "
    "persisted per-pass funnel. Incremental ≡ batch equivalence-tested "
    "per stage with semantic_dedup=True (rows-only here, the d35 "
    "composition precedent).",
)
def d51_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pass_id, stage, n) funnel rows for two consecutive shard
    ingests into fresh persisted state."""
    import shutil

    from ..plans import incremental_ingest as I
    from . import work_dir

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    state = work_dir("d51_ingest", sf_dir)
    shutil.rmtree(state, ignore_errors=True)
    mm = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = (int(mm[0]) + int(mm[1])) // 2
    reports = [
        I.ingest_shard(
            spark, state,
            docs.filter(F.col("doc_id") <= mid),
            emb.filter(F.col("vec_id") <= mid),
        ),
        I.ingest_shard(
            spark, state,
            docs.filter(F.col("doc_id") > mid),
            emb.filter(F.col("vec_id") > mid),
        ),
    ]
    rows = [
        (int(r.pass_id), stage, int(v))
        for r in reports
        for stage, v in zip(_D51_STAGES, (
            r.n_raw, r.n_new, r.n_dup_of_corpus, r.n_dup_in_shard,
            r.n_kept, r.n_retired, r.n_sem_kept, r.n_gate_pass,
            r.n_probe_pass, r.n_decontam_pass,
        ))
    ]
    return spark.createDataFrame(rows, "pass_id bigint, stage string, n bigint")


# ---------------------------------------------------------------------------
# d52 — GDPR erasure reaching the DERIVED lexical index (r8: the
# right-to-be-forgotten composition over d42's persisted state). A
# source-table delete (q49's MOR machinery) is not erasure once a
# pipeline has indexed the corpus: postings, doc lengths and corpus
# stats are all content-derived. `forget_from_lexical_index` deletes
# the per-doc rows by a stats-pruned in-list merge-on-read predicate
# and lands ONE negative stats delta — and because df/dl/N/sum_dl are
# all LINEAR in the document set, serving BM25 afterwards is
# bit-identical to an index rebuilt from the survivors. That identity
# is exactly what this oracle checks: the SQL recomputes the census
# over `documents` MINUS the erased ids from scratch, and the Spark
# side must land on it serving the forgotten index.
# ---------------------------------------------------------------------------
_D52_FORGET_IDS = (3, 53, 103, 153, 203, 253, 303, 353, 403, 453)
_D52_ORACLE = _bm25_census_oracle(
    f"WHERE doc_id NOT IN ({', '.join(str(i) for i in _D52_FORGET_IDS)})"
)


@register(
    "d52_bm25_forget",
    _D52_ORACLE,
    doc="BM25 census served from the persisted lexical index AFTER "
    "erasing 10 documents (GDPR right-to-be-forgotten over derived "
    "state): per-doc postings/doclen rows deleted via a stats-pruned "
    "in-list MOR predicate + one negative stats delta, then physical "
    "compact/expire/vacuum. BM25's sufficient statistics are linear "
    "in the doc set, so forget+serve is bit-identical to a "
    "rebuild-from-survivors — the oracle recomputes the survivor "
    "census from scratch and the forgotten index must match it.",
)
def d52_bm25_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 BM25 per query, served from the lexical index after the
    fixed 10-id erasure (build + forget are fingerprint-stamped as one
    unit, so repeat calls serve without rebuilding)."""
    from ..operators.freshness import BuildStamp
    from ..operators.retrieval import (
        bm25_literal_queries,
        forget_from_lexical_index,
        lexical_index_bm25,
        write_lexical_index,
    )
    from . import work_dir

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    path = work_dir("d52_lexforget", sf_dir)
    # ONE stamp over the build+forget sequence: deterministic in
    # (corpus, erased ids), so a current stamp certifies the forgotten
    # index and repeat calls skip straight to serving (the s11/d42
    # write-once convention, extended to cover the erasure step)
    stamp = BuildStamp(
        spark,
        path,
        {"kind": "lexical+forget", "ids": list(_D52_FORGET_IDS), "n_files": 8},
        docs,
        ("doc_id", "text"),
    )
    if not stamp.is_current():
        stamp.invalidate()
        write_lexical_index(docs, path, n_files=8)
        forget_from_lexical_index(
            spark, path, list(_D52_FORGET_IDS), physical=True, n_files=8
        )
        stamp.write()
    q = bm25_literal_queries(spark, _BM25_QUERY_TERMS)
    agg = lexical_index_bm25(spark, path, q)
    w = Window.partitionBy("query_id").orderBy(F.desc("score_x"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            "n_terms_matched",
            F.col("score_x").cast("double").alias("bm25"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# d53 — the drift→retrain→backfill cycle, registered (r9): d50 is the
# monitor, this is the RESPONSE — the lifecycle a served quality model
# actually runs. Fresh state; shard 1 ingests normally; shard 2 arrives
# DEGRADED (truncated texts) and the d50 monitor fires against the
# stored training baseline; the shard still lands (curation is not
# admission control); `retrain_probe` then retrains on the grown
# curated population, atomically re-versions the weight registry,
# REPLACES the _train_scores baseline (the monitor must track the model
# actually served) and backfills every curated decision — after which
# re-scoring the stored baseline is exactly D = 0 (the recalibration
# identity, asserted as an output row rather than a hidden invariant).
# Rows-only by design (the d35/d51 multi-stage-composition precedent):
# the value evidence is the post-retrain incremental≡batch equivalence
# under the NEW weights in tests/test_incremental_ingest.py.
# ---------------------------------------------------------------------------
@register(
    "d53_drift_retrain",
    None,
    doc="Drift-triggered model lifecycle over the incremental-ingest "
    "state: a degraded shard trips the d50 KS monitor, retrain_probe "
    "retrains on the current curated population, re-versions the "
    "probe registry, replaces the drift baseline and backfills every "
    "served decision; returns the cycle's audit rows including the "
    "exact D=0 recalibration check. Rows-only (the d51 precedent); "
    "post-retrain incremental==batch equivalence is the value gate.",
)
def d53_drift_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage, n) audit rows: drift_before, n_train, n_rescored,
    n_flipped, drift_after_dnum (exactly 0 after recalibration)."""
    import shutil

    from ..operators.manifest import ManifestTable
    from ..plans import incremental_ingest as I
    from . import work_dir

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    state = work_dir("d53_retrain", sf_dir)
    shutil.rmtree(state, ignore_errors=True)
    mm = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = (int(mm[0]) + int(mm[1])) // 2
    I.ingest_shard(
        spark, state, docs.filter(F.col("doc_id") <= mid),
        emb.filter(F.col("vec_id") <= mid),
    )
    # distribution shift that stays GATE-PASSING (a unique boilerplate
    # tail per doc): the probe's served population actually changes, so
    # the retrain both fires the monitor and moves the model
    degraded = docs.filter(F.col("doc_id") > mid).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" extended commentary section number "),
            F.col("doc_id").cast("string"),
            F.lit(" provides additional context for the reader today"),
        ),
    )
    drift_before = int(bool(I.probe_drift_vs_training(spark, state, degraded).first().drift))
    I.ingest_shard(spark, state, degraded, emb.filter(F.col("vec_id") > mid))
    union_docs = docs.filter(F.col("doc_id") <= mid).unionByName(degraded)
    rep = I.retrain_probe(spark, state, union_docs)
    train_ids = (
        ManifestTable(I._paths(state)["train_scores"]).read(spark).select("doc_id")
    )
    calm = I.probe_drift_vs_training(
        spark, state, union_docs.join(train_ids, "doc_id")
    ).first()
    rows = [
        ("drift_before", drift_before),
        ("n_train", int(rep["n_train"])),
        ("n_rescored", int(rep["n_rescored"])),
        ("n_flipped", int(rep["n_flipped"])),
        ("drift_after_dnum", int(calm.d_num)),
    ]
    return spark.createDataFrame(rows, "stage string, n bigint")
