"""Persisted fingerprint registry (d45) + index-served phrase
decontamination (d44): shard appends must compose associatively
(base+appends ≡ all-at-once), classification must be deterministic
with first-ingested-wins keepers, registry point probes must be
file-pruned, and the two-phase decontam must equal corpus-wide ground
truth."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from real_time_data_engineering_spark.operators import freshness
from real_time_data_engineering_spark.operators.dedup import (
    _FP_TABLE,
    append_fingerprint_registry,
    fingerprint_deltas,
    incremental_exact_dedup,
    read_fingerprint_registry,
    write_fingerprint_registry,
)
from real_time_data_engineering_spark.operators.manifest import ManifestTable
from real_time_data_engineering_spark.operators.retrieval import (
    index_phrase_candidates,
    phrase_decontaminate,
    write_lexical_index,
)
from real_time_data_engineering_spark.sources.readers import load_table

from conftest import SF_DIR


@pytest.fixture(scope="module")
def documents(spark):
    return load_table(spark, SF_DIR, "documents").select("doc_id", "text").cache()


def _reg_set(df):
    return {(r.fingerprint, r.keeper, r.n_copies) for r in df.collect()}


def test_registry_appends_equal_all_at_once(spark, documents, tmp_path):
    """keeper is MIN-associative and n SUM-associative over disjoint
    shards, so base + two appends must read identically to the
    all-at-once build — any append order, any shard split."""
    a = documents.filter(F.col("doc_id") % 3 == 0)
    b = documents.filter(F.col("doc_id") % 3 == 1)
    c = documents.filter(F.col("doc_id") % 3 == 2)
    inc = str(tmp_path / "inc")
    write_fingerprint_registry(a, inc, n_files=4)
    append_fingerprint_registry(b, inc)
    append_fingerprint_registry(c, inc)
    full = str(tmp_path / "full")
    write_fingerprint_registry(documents, full, n_files=4)
    got = _reg_set(read_fingerprint_registry(spark, inc))
    want = _reg_set(read_fingerprint_registry(spark, full))
    assert got == want and got
    # overlapping shards also compose: n sums, keeper stays the min
    over = str(tmp_path / "over")
    write_fingerprint_registry(documents, over)
    append_fingerprint_registry(documents.withColumn("doc_id", F.col("doc_id") + 10), over)
    merged = read_fingerprint_registry(spark, over)
    assert merged.count() == len(want)
    assert {(r.fingerprint, r.keeper) for r in merged.collect()} == {
        (f, k) for f, k, _ in want
    }
    assert merged.agg(F.sum("n_copies")).first()[0] == 2 * documents.count()


def test_incremental_classification_semantics(spark, tmp_path):
    """Hand corpus: every status arm + first-ingested-wins even when
    the shard doc's id is SMALLER than the registry keeper."""
    base = spark.createDataFrame(
        [(10, "alpha beta"), (11, "alpha beta"), (12, "gamma")],
        "doc_id bigint, text string",
    )
    # 5: dup of corpus with a smaller id than keeper 10 (corpus wins);
    # 20/21: intra-shard pair; 30: genuinely new; 31: dup via
    # whitespace-normal form
    shard = spark.createDataFrame(
        [(5, "alpha beta"), (20, "delta"), (21, "delta"), (30, "epsilon"),
         (31, "  GAMMA ")],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "reg")
    write_fingerprint_registry(base, path)
    out = {
        r.doc_id: (r.status, r.keeper_id)
        for r in incremental_exact_dedup(
            shard, read_fingerprint_registry(spark, path)
        ).collect()
    }
    assert out == {
        5: ("dup_of_corpus", 10),
        20: ("new", 20),
        21: ("dup_in_shard", 20),
        30: ("new", 30),
        31: ("dup_of_corpus", 12),
    }


def test_registry_probe_is_file_pruned(spark, documents, tmp_path):
    """cluster_by=["fingerprint"] lays files in disjoint md5 ranges:
    a point probe ("seen before?") must open strictly fewer files."""
    path = str(tmp_path / "reg")
    write_fingerprint_registry(documents, path, n_files=8)
    tbl = ManifestTable(os.path.join(path, _FP_TABLE))
    all_files = set(tbl.files_for())
    assert len(all_files) == 8
    one_fp = fingerprint_deltas(documents.limit(1)).first()["fingerprint"]
    probed = set(tbl.files_for([("fingerprint", "==", one_fp)]))
    assert probed and probed < all_files
    hit = tbl.read_any_of(spark, "fingerprint", [one_fp])
    assert hit.count() >= 1
    assert tbl.read_any_of(spark, "fingerprint", ["0" * 32]).count() == 0


PHRASES = ((1, "alpha beta"), (2, "beta"), (3, "alpha zzzoov"))


def test_phrase_decontam_equals_ground_truth(spark, tmp_path):
    """Two-phase candidate→verify equals brute-force containment:
    candidates are a term-conjunction SUPERSET (adjacency not yet
    checked), the verify pass closes it; an out-of-vocabulary term
    yields the empty-probe arm (zero row preserved)."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),       # contains 'alpha beta' and 'beta'
            (2, "beta alpha"),             # both terms, WRONG order: candidate only
            (3, "alpha x beta"),           # both terms, gap: candidate only
            (4, "ALPHA   BETA!"),          # tokenizer normalizes: contaminated
            (5, "gamma delta"),            # no terms
        ],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "lex")
    write_lexical_index(docs, path, n_files=2)
    cand = {
        (r.phrase_id, r.doc_id)
        for r in index_phrase_candidates(spark, path, PHRASES).collect()
    }
    assert cand == {(1, 1), (1, 2), (1, 3), (1, 4), (2, 1), (2, 2), (2, 3), (2, 4)}
    out = {
        r.phrase_id: (r.n_candidates, r.n_contaminated, r.docs_fp)
        for r in phrase_decontaminate(spark, path, docs, PHRASES).collect()
    }
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert out[1] == (4, 2, md5("1,4"))
    assert out[2] == (4, 4, md5("1,2,3,4"))
    assert out[3] == (0, 0, md5(""))


def _pair_set(df):
    return {(r.new_id, r.old_id, str(r.est_jaccard)) for r in df.collect()}


def test_minhash_index_probe_equals_direct(spark, documents, tmp_path):
    """The persisted-index probe shares the signature/band md5 chains
    with `minhash_incremental_pairs`, so the (new_id, old_id,
    est_jaccard) sets must match exactly over the same 80/20 split —
    and shard appends must compose (base+append ≡ all-at-once: per-doc
    rows over disjoint shards)."""
    from real_time_data_engineering_spark.operators.dedup import (
        append_minhash_index,
        minhash_incremental_pairs,
        minhash_index_probe,
        write_minhash_index,
    )

    cutoff = int(
        documents.agg(
            F.ceil((F.max("doc_id") + F.lit(1)) * F.lit(0.8)).cast("long")
        ).first()[0]
    )
    old = documents.filter(F.col("doc_id") < cutoff)
    new = documents.filter(F.col("doc_id") >= cutoff)
    path = str(tmp_path / "mh")
    write_minhash_index(old, path, n_files=4)
    got = _pair_set(minhash_index_probe(spark, new, path))
    flagged = documents.withColumn("is_new", F.col("doc_id") >= F.lit(cutoff))
    want = _pair_set(
        minhash_incremental_pairs(flagged, new_col="is_new", n=3, k=16, bands=4)
    )
    assert got == want and got
    # incremental build: half the corpus as base, half appended
    inc = str(tmp_path / "mh_inc")
    write_minhash_index(old.filter(F.col("doc_id") % 2 == 0), inc, n_files=4)
    append_minhash_index(old.filter(F.col("doc_id") % 2 == 1), inc)
    assert _pair_set(minhash_index_probe(spark, new, inc)) == want


def test_minhash_index_skip_if_current_reuses_then_rebuilds(spark, documents, tmp_path):
    """Freshness-stamped MinHash index: matching rebuild is a no-op
    (identical probe results), appends drop the stamp, corpus change
    rebuilds."""
    import os

    from real_time_data_engineering_spark.operators.dedup import (
        append_minhash_index,
        minhash_index_probe,
        write_minhash_index,
    )

    def mtimes(path):
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
        return out

    old = documents.filter(F.col("doc_id") < 300)
    shard = documents.filter(F.col("doc_id") >= 400)
    path = str(tmp_path / "mh")
    write_minhash_index(old, path, n_files=4, skip_if_current=True)
    first = mtimes(path)
    want = {
        (r.new_id, r.old_id, r.est_jaccard)
        for r in minhash_index_probe(spark, shard, path).collect()
    }
    write_minhash_index(old, path, n_files=4, skip_if_current=True)
    assert mtimes(path) == first
    got = {
        (r.new_id, r.old_id, r.est_jaccard)
        for r in minhash_index_probe(spark, shard, path).collect()
    }
    assert got == want
    append_minhash_index(
        documents.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 350)), path,
        n_files=4,
    )
    assert not os.path.isdir(os.path.join(path, "_meta"))
    write_minhash_index(old, path, n_files=4, skip_if_current=True)
    assert os.path.isdir(os.path.join(path, "_meta"))


def test_build_stamp_format_version_forces_rebuild(spark, tmp_path, monkeypatch):
    """A stamp written by old code must stop matching after the index
    format version is bumped, even when (corpus, params) are unchanged
    — otherwise skip_if_current silently serves a stale-layout index."""
    df = spark.range(10).select(F.col("id").alias("doc_id"))
    path = str(tmp_path / "idx")
    stamp = freshness.BuildStamp(spark, path, {"k": 3}, df, ("doc_id",))
    stamp.write()
    assert stamp.is_current()
    # same (corpus, params) from a fresh instance still matches...
    again = freshness.BuildStamp(spark, path, {"k": 3}, df, ("doc_id",))
    assert again.is_current()
    # ...but a format bump (a code upgrade) must invalidate it
    monkeypatch.setattr(
        freshness, "INDEX_FORMAT_VERSION", freshness.INDEX_FORMAT_VERSION + 1
    )
    upgraded = freshness.BuildStamp(spark, path, {"k": 3}, df, ("doc_id",))
    assert not upgraded.is_current()
