"""Persistent lexical (BM25) index: write-once/probe-by-vocabulary
must score BIT-IDENTICALLY to the tokenize-per-call path, shard
appends must compose associatively (base+appends ≡ all-at-once — the
`append_to_ivfpq_index` contract for the lexical side), and the
postings probe must be file-pruned through the manifest stats."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_data_engineering_spark.operators.retrieval import (
    append_to_lexical_index,
    bm25_literal_queries,
    bm25_scores,
    corpus_stats,
    lexical_index_bm25,
    tokens_df,
    write_lexical_index,
)
from real_time_data_engineering_spark.sources.readers import load_table

from conftest import SF_DIR

QUERY_TERMS = (
    (1, "hash"), (1, "join"), (1, "merge"),
    (2, "stream"), (2, "window"), (2, "batch"),
    (3, "vector"), (3, "scan"), (3, "filter"),
)


@pytest.fixture(scope="module")
def documents(spark):
    return load_table(spark, SF_DIR, "documents").cache()


def _score_set(df):
    return {
        (r.query_id, r.doc_id, str(r.score_x), r.n_terms_matched)
        for r in df.collect()
    }


def test_index_scores_equal_direct_bm25(spark, documents, tmp_path):
    """Same corpus, same queries: the persisted-index path and the
    tokenize-per-call path share `_bm25_from_parts`, so the exact
    decimal scores must match bit for bit."""
    path = str(tmp_path / "lex")
    write_lexical_index(documents, path, n_files=8)
    q = bm25_literal_queries(spark, QUERY_TERMS)
    got = _score_set(lexical_index_bm25(spark, path, q))
    tok = tokens_df(documents)
    n_docs, avgdl, dl = corpus_stats(documents, tok)
    want = _score_set(bm25_scores(tok, q, n_docs, avgdl, dl))
    assert got == want and got


def test_lexical_append_equals_all_at_once(spark, documents, tmp_path):
    """r6 verdict #3: df/dl/N/sum_dl are associative sums over disjoint
    doc shards, so a base build plus two shard appends must serve
    scores BIT-IDENTICAL to the all-at-once index — no corpus
    re-tokenization ever happens after the initial shard builds."""
    n = documents.count()
    cut1, cut2 = n // 3, 2 * n // 3
    ids = [r.doc_id for r in documents.select("doc_id").orderBy("doc_id").collect()]
    b1, b2 = ids[cut1], ids[cut2]
    full_path, inc_path = str(tmp_path / "full"), str(tmp_path / "inc")
    write_lexical_index(documents, full_path, n_files=8)
    write_lexical_index(documents.filter(F.col("doc_id") < b1), inc_path, n_files=4)
    append_to_lexical_index(
        documents.filter((F.col("doc_id") >= b1) & (F.col("doc_id") < b2)), inc_path
    )
    append_to_lexical_index(documents.filter(F.col("doc_id") >= b2), inc_path)
    q = bm25_literal_queries(spark, QUERY_TERMS)
    want = _score_set(lexical_index_bm25(spark, full_path, q))
    got = _score_set(lexical_index_bm25(spark, inc_path, q))
    assert got == want and got
    # each append was a real CAS commit on all three tables
    import os

    from real_time_data_engineering_spark.operators.manifest import ManifestTable

    for part in ("postings", "doclen", "_stats"):
        snap = ManifestTable(os.path.join(inc_path, part)).snapshot()
        assert snap.version == 3 and snap.operation == "append", part
    # the stats deltas really are per-shard rows summed at read time
    stats = ManifestTable(os.path.join(inc_path, "_stats")).read(spark)
    assert stats.count() == 3
    assert stats.agg(F.sum("n_docs")).first()[0] == n


def test_postings_probe_is_file_pruned(spark, documents, tmp_path):
    """Term-clustered postings: a single-term probe must open strictly
    fewer files than the table holds (min/max string stats), and
    `read_any_of` must return exactly the probe terms' rows in one
    scan."""
    import os

    from real_time_data_engineering_spark.operators.manifest import ManifestTable

    path = str(tmp_path / "lex")
    write_lexical_index(documents, path, n_files=8)
    tbl = ManifestTable(os.path.join(path, "postings"))
    all_files = set(tbl.files_for())
    one_term = set(tbl.files_for([("term", "==", "hash")]))
    assert one_term and one_term < all_files
    got = tbl.read_any_of(spark, "term", ["hash", "vector"])
    assert set(r.term for r in got.select("term").distinct().collect()) <= {
        "hash",
        "vector",
    }
    assert got.count() > 0
    # absent term: probe returns nothing, never errors
    assert tbl.read_any_of(spark, "term", ["zzzznotaterm"]).count() == 0
    assert tbl.read_any_of(spark, "term", []).count() == 0


def test_index_bm25_survives_tokenless_docs(spark, documents, tmp_path):
    """Regression (r7 self-review): a doc that tokenizes to NOTHING
    (digits-only / empty text) counts toward idf's N but not avgdl's
    denominator — `corpus_stats`' exact split. The persisted index
    must reproduce the direct path bit-for-bit on such a corpus, base
    or appended."""
    extra = spark.createDataFrame(
        [
            (900_000_001, "12345 67890 --- !!!", "xx", "synthetic", 19),
            (900_000_002, "", "xx", "synthetic", 0),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    docs = documents.select("doc_id", "text", "lang", "source", "n_chars").unionByName(
        extra
    )
    path = str(tmp_path / "lex")
    write_lexical_index(docs.filter(F.col("doc_id") < 900_000_000), path, n_files=4)
    append_to_lexical_index(docs.filter(F.col("doc_id") >= 900_000_000), path)
    q = bm25_literal_queries(spark, QUERY_TERMS)
    got = _score_set(lexical_index_bm25(spark, path, q))
    tok = tokens_df(docs)
    n_docs, avgdl, dl = corpus_stats(docs, tok)
    want = _score_set(bm25_scores(tok, q, n_docs, avgdl, dl))
    assert got == want and got


def test_lexical_index_skip_if_current_reuses_then_rebuilds(spark, documents, tmp_path):
    """The freshness stamp must skip a matching rebuild untouched
    (identical scores), be dropped by appends, and rebuild on a corpus
    change — `write_ivfpq_index`'s idempotency contract applied to the
    inverted index."""
    import os

    from real_time_data_engineering_spark.operators.retrieval import (
        append_to_lexical_index,
        bm25_literal_queries,
        lexical_index_bm25,
        write_lexical_index,
    )

    def mtimes(path):
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
        return out

    base = documents.filter(F.col("doc_id") < 300)
    path = str(tmp_path / "lex")
    write_lexical_index(base, path, n_files=4, skip_if_current=True)
    first = mtimes(path)
    q = bm25_literal_queries(spark, ((0, "the"), (1, "data")))
    want = {
        (r.query_id, r.doc_id, str(r.score_x))
        for r in lexical_index_bm25(spark, path, q).collect()
    }
    # same corpus + params → pure no-op
    write_lexical_index(base, path, n_files=4, skip_if_current=True)
    assert mtimes(path) == first
    got = {
        (r.query_id, r.doc_id, str(r.score_x))
        for r in lexical_index_bm25(spark, path, q).collect()
    }
    assert got == want and got
    # append drops the stamp; a skip build for the base corpus rebuilds
    append_to_lexical_index(documents.filter(F.col("doc_id") >= 300), path, n_files=4)
    assert not os.path.isdir(os.path.join(path, "_meta"))
    write_lexical_index(base, path, n_files=4, skip_if_current=True)
    assert os.path.isdir(os.path.join(path, "_meta"))
    back = {
        (r.query_id, r.doc_id, str(r.score_x))
        for r in lexical_index_bm25(spark, path, q).collect()
    }
    assert back == want


def test_bm25_single_pass_equals_two_pass_formulation(spark):
    """Lexical-chain single pass: `corpus_stats` computes dl as
    size(token array) — a narrow projection, no explode+groupBy
    exchange, no separate docs.count() scan — and `bm25_scores`
    derives tf AND df from ONE (term, doc_id)-keyed aggregation over a
    single tokenize pass. Both must be BIT-IDENTICAL to the earlier
    two-pass formulation, spelled literally below (a token-less doc is
    unioned in so the n_docs-vs-avgdl-denominator split is exercised
    too)."""
    from real_time_data_engineering_spark.operators.retrieval import _bm25_from_parts

    base = load_table(spark, SF_DIR, "documents")
    extra = spark.createDataFrame(
        [(900_000_001, "12345 --- !!!", "xx", "synthetic", 13)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    docs = base.select("doc_id", "text", "lang", "source", "n_chars").unionByName(
        extra
    )
    tok = tokens_df(docs)
    n_docs, avgdl, dl = corpus_stats(docs, tok)

    # the old dl/n_docs/avgdl formulation, spelled out
    old_dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    assert {(r.doc_id, r.dl) for r in dl.collect()} == {
        (r.doc_id, r.dl) for r in old_dl.collect()
    }
    assert n_docs == float(docs.count())
    row = old_dl.agg(F.sum("dl").alias("s"), F.count("*").alias("c")).first()
    assert avgdl == float(row["s"]) / float(row["c"])

    qterms = (
        tok.filter(F.col("doc_id") < 5)
        .select(F.col("doc_id").alias("query_id"), "term")
        .distinct()
    )
    got = bm25_scores(tok, qterms, n_docs, avgdl, dl, exclude_self=True)

    # the old two-pass tf/df formulation, spelled out
    tf = (
        tok.join(F.broadcast(qterms), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    dfq = (
        tok.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    want = _bm25_from_parts(tf, dfq, dl, n_docs, avgdl, 1.2, 0.75)

    def key(df):
        return {
            (r.query_id, r.doc_id, str(r.score_x), r.n_terms_matched)
            for r in df.collect()
        }

    assert key(got) == key(want) and key(got)
