"""Property tests for operators without a SQL oracle.

The approximate operators (IVF ANN, 64-bit SimHash, MinHash estimates)
can't be hash-matched against DuckDB, so they're checked against their
own mathematical contracts — mirroring the reference's invariant-based
validation layer (SURVEY.md §5.6-5.7).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_data_engineering_spark.operators import dedup as D
from real_time_data_engineering_spark.operators import similarity as S
from real_time_data_engineering_spark.sources.readers import load_table

from conftest import SF_DIR


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


@pytest.fixture(scope="module")
def documents(spark):
    return load_table(spark, SF_DIR, "documents").cache()


def test_ivf_recall_against_brute_force(spark, embeddings):
    """Probing 2/10 cells must still recover most true neighbors, and
    every IVF result must be a genuine cosine (subset correctness)."""
    pred = F.col("vec_id") < 20
    exact_rows = S.cosine_topk(embeddings, pred, k=5).collect()
    exact = {(r.qid, r.nid) for r in exact_rows}
    exact_cos = {(r.qid, r.nid): r.cosine for r in exact_rows}

    def recall(n_probe: int) -> float:
        approx = S.ivf_topk(embeddings, pred, k=5, n_probe=n_probe).collect()
        for r in approx:  # any shared pair must carry the identical cosine
            if (r.qid, r.nid) in exact_cos:
                assert abs(r.cosine - exact_cos[(r.qid, r.nid)]) < 1e-12
        return len(exact & {(r.qid, r.nid) for r in approx}) / len(exact)

    r2, r10 = recall(2), recall(10)
    assert r10 == 1.0, f"probing all cells must be exhaustive, got {r10}"
    assert r2 >= 0.2, f"IVF recall collapsed: {r2}"


def test_minhash_estimates_track_exact_jaccard(spark, documents):
    """For LSH candidate pairs, |est − exact| must be small on average
    (k=16 signatures → std ≈ 0.125; mean abs error well under that)."""
    est = {(r.d1, r.d2): r.est_jaccard for r in D.minhash_candidate_pairs(documents).collect()}
    if not est:
        pytest.skip("no candidate pairs at this scale")
    exact = {(r.d1, r.d2): r.jaccard for r in D.jaccard_pairs(documents).collect()}
    errs = [abs(v - exact.get(kk, 0.0)) for kk, v in est.items()]
    assert sum(errs) / len(errs) < 0.25


def test_simhash64_properties(spark, documents):
    """Deterministic, full-coverage, 64-bit-range signatures; identical
    texts get identical signatures."""
    sig = D.simhash64(documents)
    rows = sig.collect()
    assert len(rows) == documents.count()
    again = {r.doc_id: r.simhash for r in D.simhash64(documents).collect()}
    for r in rows:
        assert again[r.doc_id] == r.simhash
    # duplicate text ⇒ duplicate signature
    doubled = documents.unionByName(documents.withColumn("doc_id", F.col("doc_id") + 10_000))
    d_sig = {r.doc_id: r.simhash for r in D.simhash64(doubled).collect()}
    for r in rows:
        assert d_sig[r.doc_id] == d_sig[r.doc_id + 10_000]


def test_exact_dedup_collapses_duplicates(spark, documents):
    doubled = documents.unionByName(documents.withColumn("doc_id", F.col("doc_id") + 10_000))
    groups = D.exact_dedup(doubled)
    assert groups.filter(F.col("n_copies") != 2).count() == 0
    survivors = D.dedup_keep_first(doubled)
    assert survivors.count() == documents.count()
    # keep-first policy: every survivor is the original (small) id
    assert survivors.filter(F.col("doc_id") >= 10_000).count() == 0


def test_lsh_neardup_finds_planted_duplicates(spark, embeddings):
    """Plant jittered copies (cosine ≈ 1) of every vector; the LSH
    candidate→rerank path must recover every planted pair while
    generating far fewer candidates than the N²/2 brute-force space."""
    jitter = F.transform(
        "embedding",
        lambda x, j: x * (1.0 + ((F.col("vec_id") + j) % 7 - 3).cast("double") / 1000.0),
    )
    copies = embeddings.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        jitter.cast("array<float>").alias("embedding"),
        "label",
    )
    corpus = embeddings.select("vec_id", "embedding", "label").unionByName(copies)
    n = corpus.count()

    cand = S.lsh_candidate_pairs(corpus, planes=64, bands=8)
    n_cand = cand.count()
    assert n_cand < 0.2 * n * (n - 1) / 2, f"LSH bucketing degenerated: {n_cand} candidates"

    found = S.embedding_neardup_lsh(corpus, threshold=0.999, planes=64, bands=8)
    got = {(r.v1, r.v2) for r in found.collect()}
    planted = {(r.vec_id, r.vec_id + 100000) for r in embeddings.select("vec_id").collect()}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.95, f"planted near-dup recall {recall}"
    # every reported pair must genuinely clear the threshold (verify step)
    assert found.filter(F.col("cosine") < 0.999).count() == 0


def test_winnow_fingerprints_detect_shared_substrings(spark, documents):
    """A doc and its copy share every selected hash (resemblance 1.0);
    winnow selection keeps ~1/16 of windows."""
    base = documents.limit(20).cache()
    copies = base.select((F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars")
    corpus = base.unionByName(copies)
    pairs = D.fingerprint_neardup_pairs(corpus, k=8, min_resemblance=0.99)
    got = {(r.d1, r.d2): r.resemblance for r in pairs.collect()}
    for r in base.collect():
        assert got.get((r.doc_id, r.doc_id + 100000)) == 1.0
    # selection rate sanity: ~1/16 of windows, loose bounds
    sel = D.winnow_fingerprints(base).count()
    total = sum(max(len(" ".join(r.text.lower().split())) - 7, 0) for r in base.collect())
    assert 0.02 < sel / total < 0.15


def test_approx_distinct_tracks_exact(spark):
    """HLL++ at rsd=2% must land within 5% of the exact distinct count
    for every group (property check for the q21 sketch path)."""
    from real_time_data_engineering_spark.registry import get

    exact = {r.event_type: r.n_users for r in get("q8_distinct_counts").spark(spark, SF_DIR).collect()}
    approx = {r.event_type: r.n_users_approx for r in get("q21_approx_distinct").spark(spark, SF_DIR).collect()}
    assert set(exact) == set(approx)
    for k, v in exact.items():
        assert abs(approx[k] - v) / v <= 0.05, (k, v, approx[k])


def test_jaccard_canonical_equals_direct_under_duplication(spark, documents):
    """The canonicalized (distinct-normal-form) Jaccard must emit the
    exact pair set of the direct shingle self-join, including the
    jaccard=1.0 intra-group pairs a duplicated corpus adds — the 10x
    scale run's d2 rewrite, pinned against silent semantic drift."""
    base = documents.limit(120).select("doc_id", "text")
    dup = base.unionByName(
        base.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    direct = {tuple(r) for r in D.jaccard_pairs(dup, 3).collect()}
    canon = {tuple(r) for r in D.jaccard_pairs_canonical(dup, 3).collect()}
    assert canon == direct and len(direct) > 0


def test_connected_components_golden(spark):
    """Chain a-b-c collapses to one cluster labeled by its min; the
    disjoint pair keeps its own label; no singleton rows."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "d1 long, d2 long"
    )
    out = {r.node: (r.cluster_id, r.cluster_size) for r in D.connected_components(pairs).collect()}
    assert out == {1: (1, 3), 2: (1, 3), 3: (1, 3), 10: (10, 2), 11: (10, 2)}


def test_connected_components_matches_union_find(spark):
    """Random-ish deterministic graph vs a brute-force union-find."""
    import itertools

    edges = [(a, b) for a, b in itertools.combinations(range(40), 2) if (a * 31 + b * 17) % 23 == 0]
    pairs = spark.createDataFrame(edges, "d1 long, d2 long")
    got = {r.node: r.cluster_id for r in D.connected_components(pairs).collect()}

    parent = list(range(40))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {x for e in edges for x in e}
    want = {x: find(x) for x in touched}
    assert got == want


def _cc_rows(df):
    return {(r.node, r.cluster_id, r.cluster_size) for r in df.collect()}


# connected_components has two tiers gated by the measured edge-set
# byte size: a bounded driver union-find under ``DIRECT_EDGE_BOUND`` and
# the large-star/small-star variant past it. Both must produce IDENTICAL
# output — component membership is join-order independent and
# min-of-component is deterministic, so this is an exactness contract.
# These tests force each tier via the module constant and assert
# equality, including a string-id case (UTF-8 binary order must match
# Python's code-point min) and self-loops.


def test_cc_driver_and_distributed_paths_identical(spark, monkeypatch):
    """(5, 5) and (3, 3) are self-loops: a node seen only in one is a
    singleton, and singletons are not rows — on both tiers."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 11), (11, 12), (12, 10), (3, 1), (5, 5), (3, 3)],
        "d1 bigint, d2 bigint",
    )
    monkeypatch.setattr(D, "DIRECT_EDGE_BOUND", 1 << 30)
    direct = _cc_rows(D.connected_components(pairs))
    monkeypatch.setattr(D, "DIRECT_EDGE_BOUND", -1)
    dist = _cc_rows(D.connected_components(pairs))
    assert direct == dist == _cc_rows(D.connected_components_star(pairs))
    assert direct == {
        (1, 1, 3), (2, 1, 3), (3, 1, 3),
        (7, 7, 2), (8, 7, 2),
        (10, 10, 3), (11, 10, 3), (12, 10, 3),
    }


def test_cc_driver_path_string_ids_match_star_variant(spark, monkeypatch):
    """String ids: Python's min (code points) must order like Spark's
    MIN (UTF-8 binary). The distributed reference here is
    `connected_components_star`, whose count+xxhash64 fingerprint probe
    is type-agnostic."""
    pairs = spark.createDataFrame(
        [("docB", "docA"), ("docC", "docB"), ("x1", "x2")],
        "d1 string, d2 string",
    )
    monkeypatch.setattr(D, "DIRECT_EDGE_BOUND", 1 << 30)
    direct = _cc_rows(D.connected_components(pairs))
    star = _cc_rows(D.connected_components_star(pairs))
    assert direct == star
    assert ("docA", "docA", 3) in direct


def test_cc_driver_path_schema_matches_distributed(spark, monkeypatch):
    pairs = spark.createDataFrame([(1, 2)], "d1 bigint, d2 bigint")
    monkeypatch.setattr(D, "DIRECT_EDGE_BOUND", 1 << 30)
    direct = D.connected_components(pairs)
    monkeypatch.setattr(D, "DIRECT_EDGE_BOUND", -1)
    dist = D.connected_components(pairs)
    assert [(f.name, f.dataType) for f in direct.schema.fields] == [
        (f.name, f.dataType) for f in dist.schema.fields
    ]


def test_d15_oracle_green_through_driver_tier(spark, differ):
    """d15's registered lineage (default bound → driver tier at test
    scale) must still reconcile with the DuckDB oracle end-to-end."""
    res = differ.run("d15_dup_clusters")
    assert res.ok, res.mismatches


def test_kmeans_invariants(spark, embeddings):
    """Every point lands on its nearest centroid among those actually
    used for the final assignment, ≤ k clusters, and the run is
    bit-reproducible."""
    import numpy as np

    out, cents = S.kmeans_assign(embeddings, k=4, max_iter=5, with_centroids=True)
    rows = out.collect()
    assert 0 < len({r.cluster for r in rows}) <= 4
    assert all(r.dist_sq >= 0 for r in rows)

    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in embeddings.collect()}
    for r in rows:
        dists = ((cents - emb[r.vec_id]) ** 2).sum(axis=1)
        assert r.cluster == int(dists.argmin())
        assert abs(r.dist_sq - float(dists[r.cluster])) < 1e-9

    again = {(r.vec_id, r.cluster, r.dist_sq) for r in S.kmeans_assign(embeddings, k=4, max_iter=5).collect()}
    assert again == {(r.vec_id, r.cluster, r.dist_sq) for r in rows}


def test_ivf_kmeans_recall_against_brute_force(spark, embeddings):
    """IVF over trained k-means cells: probing all cells is exhaustive;
    a 2-cell probe keeps usable recall; shared pairs carry identical
    cosines (the rerank kernel is the same exact arithmetic)."""
    pred = F.col("vec_id") < 20
    exact_rows = S.cosine_topk(embeddings, pred, k=5).collect()
    exact = {(r.qid, r.nid) for r in exact_rows}
    exact_cos = {(r.qid, r.nid): r.cosine for r in exact_rows}

    def recall(n_probe: int) -> float:
        approx = S.ivf_topk_kmeans(embeddings, pred, k=5, n_probe=n_probe, n_cells=10).collect()
        for r in approx:
            if (r.qid, r.nid) in exact_cos:
                assert abs(r.cosine - exact_cos[(r.qid, r.nid)]) < 1e-12
        return len(exact & {(r.qid, r.nid) for r in approx}) / len(exact)

    assert recall(10) == 1.0
    assert recall(2) >= 0.2


def test_jaccard_stop_shingle_cap(spark):
    """max_doc_freq drops ubiquitous shingles from BOTH the join and
    the sizes: a boilerplate phrase shared by every doc stops producing
    pairs, while genuinely-similar docs still pair on their surviving
    shingles (same cap semantics as the winnowing path)."""
    from real_time_data_engineering_spark.operators import dedup as D

    boiler = "all rights reserved by the site"
    rows = [(i, f"{boiler} unique body {i} with words {i * 7}") for i in range(20)]
    # one true near-dup pair beyond the boilerplate
    rows += [(100, f"{boiler} identical tail of shared tokens here"),
             (101, f"{boiler} identical tail of shared tokens here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {(r.d1, r.d2) for r in D.jaccard_pairs(df, n=3).collect()}
    assert len(uncapped) == 231  # boilerplate pairs everything: C(22,2)

    capped = D.jaccard_pairs(df, n=3, max_doc_freq=5).collect()
    pairs = {(r.d1, r.d2): r for r in capped}
    assert set(pairs) == {(100, 101)}  # stop-shingles gone, true pair kept
    assert pairs[(100, 101)].jaccard == 1.0  # surviving sets identical

    # canonical variant under the same cap agrees
    canon = {(r.d1, r.d2): (r.n_common, r.jaccard)
             for r in D.jaccard_pairs_canonical(df, n=3, max_doc_freq=5).collect()}
    assert set(canon) == {(100, 101)}


def test_star_cc_equals_label_propagation(spark):
    """large-star/small-star must produce the identical component map as
    min-label propagation on an arbitrary pair graph."""
    from real_time_data_engineering_spark.operators import dedup as D

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (20, 21), (5, 3), (7, 8)],
        "d1 long, d2 long",
    )
    a = {(r.node, r.cluster_id, r.cluster_size) for r in D.connected_components(pairs).collect()}
    b = {(r.node, r.cluster_id, r.cluster_size) for r in D.connected_components_star(pairs).collect()}
    assert a == b


def test_star_cc_deep_chain_converges_in_log_rounds(spark):
    """A 200-node chain has diameter 200: label propagation would need
    ~200 rounds, the star algorithm must collapse it within its default
    25 (actually O(log n)) and still find one component rooted at 0."""
    from real_time_data_engineering_spark.operators import dedup as D

    n = 200
    chain = spark.createDataFrame([(i, i + 1) for i in range(n)], "d1 long, d2 long")
    got = D.connected_components_star(chain, max_iter=12).collect()
    assert len(got) == n + 1
    assert {r.cluster_id for r in got} == {0}
    assert all(r.cluster_size == n + 1 for r in got)


def test_simhash_banding_is_pigeonhole_exact(spark, documents):
    """d21's block-permutation candidate join must return EXACTLY the
    all-pairs hamming <= max_hamming set whenever max_hamming < bands —
    the pigeonhole guarantee the operator's scale shape rests on."""
    got = {
        (r.d1, r.d2): r.hamming
        for r in D.simhash_neardup_pairs(documents, max_hamming=2, bands=4, n_bits=32).collect()
    }
    sigs = D.simhash_hex(documents, 32).collect()
    brute = {}
    for i, a in enumerate(sigs):
        for b in sigs[i + 1 :]:
            h = sum(x != y for x, y in zip(a.simhash_bits, b.simhash_bits))
            if h <= 2:
                k = (a.doc_id, b.doc_id) if a.doc_id < b.doc_id else (b.doc_id, a.doc_id)
                brute[k] = h
    assert got == brute
    with pytest.raises(ValueError):
        D.simhash_neardup_pairs(documents, max_hamming=4, bands=4)
    with pytest.raises(ValueError):
        D.simhash_neardup_pairs(documents, n_bits=33)


def test_lsh_oracle_generator_mirrors_kernel_across_params(spark, embeddings):
    """The DuckDB mirror of the LSH candidate→rerank pipeline must stay
    bit-exact for ANY (planes, bands) tuning, not just the registered
    ones — guards future retuning against a silent oracle drift."""
    import duckdb

    from real_time_data_engineering_spark.registry.dedup_text import _lsh_pairs_oracle

    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'")
    for planes, bands, thr in [(32, 8, 0.3), (64, 16, 0.4)]:
        got = {
            (r.v1, r.v2): r.cosine
            for r in S.embedding_neardup_lsh(
                embeddings, threshold=thr, planes=planes, bands=bands
            ).collect()
        }
        want = {
            (int(r[0]), int(r[1])): float(r[2])
            for r in con.sql(_lsh_pairs_oracle(thr, planes, bands)).fetchall()
        }
        assert got == want, f"planes={planes} bands={bands}: spark={len(got)} duck={len(want)}"


def test_pq_adc_recovers_planted_duplicates(spark, embeddings):
    """PQ is lossy, but a jittered copy of a vector must land in the
    same cells subspace-by-subspace almost surely — so ADC must rank
    the planted twin at (or within a hair of) the top for every query."""
    jitter = F.transform(
        "embedding",
        lambda x, j: x * (1.0 + ((F.col("vec_id") + j) % 5 - 2).cast("double") / 2000.0),
    )
    copies = embeddings.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        jitter.cast("array<float>").alias("embedding"),
        "label",
    )
    corpus = embeddings.select("vec_id", "embedding", "label").unionByName(copies)
    got = S.pq_adc_topk(corpus, F.col("vec_id") < 100000, m=8, k=16, max_iter=5, topk=3)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.qid, []).append(r.nid)
    n_q = embeddings.count()
    hits = sum(1 for qid, nids in by_q.items() if qid + 100000 in nids)
    assert hits / n_q >= 0.9, f"planted-twin recall@3 {hits}/{n_q}"


def test_hamming_pairing_core_on_simhash64(spark, documents):
    """The pairing core must be pigeonhole-exact on the PRODUCTION
    64-bit xxhash64 signatures too (16-bit blocks, hamming <= 3),
    including negative longs (bit 63 set) through shift/mask/xor."""
    sig = D.simhash64(documents)
    got = {
        (r.d1, r.d2): r.hamming
        for r in D.hamming_neardup_pairs(sig, max_hamming=3, bands=4, n_bits=64).collect()
    }
    rows = sig.collect()
    brute = {}
    for i, a in enumerate(rows):
        for b in rows[i + 1 :]:
            h = bin((a.simhash ^ b.simhash) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                k = (a.doc_id, b.doc_id) if a.doc_id < b.doc_id else (b.doc_id, a.doc_id)
                brute[k] = h
    assert got == brute
    assert any(r.simhash < 0 for r in rows), "corpus should exercise negative longs"


def test_ivf_routing_survives_oversized_cells(spark):
    """The int64 routing ceiling, now enforced via decimal accumulation:
    large-magnitude components × a big cell's SUM centroid used to
    overflow the int64 dot (ANSI ARITHMETIC_OVERFLOW). The decimal dot
    must route correctly instead. Components of 1e3 quantize to 1e9, so
    a 300-row cell's centroid sum hits ~3e11 per dim — q·s per element
    ≈ 3e20, past int64's 9.2e18."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    # one oversized cell (label 0) + a small far-away cell (label 1)
    for i in range(300):
        v = (1000.0 + rng.rand(8)).tolist()
        rows.append((i, 0, v))
    for i in range(300, 310):
        v = (-1000.0 - rng.rand(8)).tolist()
        rows.append((i, 1, v))
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    out = S.ivf_topk(emb, F.col("vec_id") < 3, k=5, n_probe=1).collect()
    assert out, "routing must produce results, not ARITHMETIC_OVERFLOW"
    # queries live in cell 0; probing 1 cell must route them home
    assert all(r.nid < 300 for r in out)
    assert all(r.cosine > 0.9 for r in out)


def test_kmeans_sample_trained_matches_full_when_sample_covers(spark, embeddings):
    """sample_n >= N is exactly train-on-all (same deterministic init,
    same rounds, same centroids); a small sample still assigns EVERY
    corpus row, deterministically across runs."""
    n = embeddings.count()
    full = {(r.vec_id, r.cluster, r.dist_sq) for r in S.kmeans_assign(embeddings, k=4, max_iter=5).collect()}
    covering = {
        (r.vec_id, r.cluster, r.dist_sq)
        for r in S.kmeans_assign(embeddings, k=4, max_iter=5, sample_n=n + 10).collect()
    }
    assert covering == full
    sampled1 = {
        (r.vec_id, r.cluster, r.dist_sq)
        for r in S.kmeans_assign(embeddings, k=4, max_iter=5, sample_n=max(8, n // 4)).collect()
    }
    sampled2 = {
        (r.vec_id, r.cluster, r.dist_sq)
        for r in S.kmeans_assign(embeddings, k=4, max_iter=5, sample_n=max(8, n // 4)).collect()
    }
    assert sampled1 == sampled2  # deterministic sample → reproducible
    assert len({v for v, _c, _d in sampled1}) == n  # whole corpus assigned


def test_incremental_minhash_only_new_vs_old_pairs(spark):
    """d24's kernel: an incoming shard containing a replica of an
    existing doc pairs new->old; duplicate pairs WITHIN the shard or
    WITHIN the corpus must not appear."""
    rows = [
        # existing corpus: 0/1 are exact duplicates of each other
        (0, "alpha beta gamma delta epsilon zeta eta theta", False),
        (1, "alpha beta gamma delta epsilon zeta eta theta", False),
        (2, "one two three four five six seven eight", False),
        # incoming shard: 10 replicates doc 0/1; 11/12 replicate each
        # other but nothing old; 13 is novel
        (10, "alpha beta gamma delta epsilon zeta eta theta", True),
        (11, "red orange yellow green blue indigo violet ultraviolet", True),
        (12, "red orange yellow green blue indigo violet ultraviolet", True),
        (13, "lorem ipsum dolor sit amet consectetur adipiscing elit", True),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_new boolean")
    got = {
        (r.new_id, r.old_id, r.est_jaccard)
        for r in D.minhash_incremental_pairs(df, new_col="is_new").collect()
    }
    # the replica is found against BOTH old copies, at full similarity
    assert (10, 0, 1.0) in got and (10, 1, 1.0) in got
    # no new x new (11,12) and no old x old (0,1) pairs leak through
    ids = {(a, b) for a, b, _ in got}
    assert (11, 12) not in ids and (12, 11) not in ids
    assert (0, 1) not in ids and (1, 0) not in ids
    # the novel doc pairs with nothing
    assert not any(a == 13 for a, _ in ids)


def test_incremental_minhash_agrees_with_symmetric_kernel(spark, documents):
    """On the driver corpus, d24's new x old pairs must be exactly the
    subset of d5's all-pairs output that crosses the cutoff line."""
    cutoff = documents.agg(F.ceil((F.max("doc_id") + F.lit(1)) * F.lit(0.8))).collect()[0][0]
    flagged = documents.withColumn("is_new", F.col("doc_id") >= F.lit(int(cutoff)))
    inc = {
        (r.new_id, r.old_id, r.est_jaccard)
        for r in D.minhash_incremental_pairs(flagged, new_col="is_new").collect()
    }
    full = D.minhash_candidate_pairs(documents, n=3, k=16, bands=4).collect()
    expect = {
        (max(r.d1, r.d2), min(r.d1, r.d2), r.est_jaccard)
        for r in full
        if (r.d1 >= cutoff) != (r.d2 >= cutoff)
    }
    assert inc == expect


def test_ann_recall_query_bounds_and_exact_self_consistency(spark, embeddings):
    """s7: recall@5 is in [0,1] for every query, and evaluating the
    EXACT path against itself yields recall 1.0 everywhere."""
    exact = S.cosine_topk(embeddings, F.col("vec_id") < 20, k=5).select("qid", "nid")
    hits = exact.join(exact.withColumn("_h", F.lit(1)), ["qid", "nid"], "left")
    self_recall = hits.groupBy("qid").agg((F.count("_h") / F.lit(5.0)).alias("r")).collect()
    assert len(self_recall) == 20 and all(abs(r.r - 1.0) < 1e-12 for r in self_recall)
    from real_time_data_engineering_spark.registry.similarity import s7_ann_recall

    out = s7_ann_recall(spark, SF_DIR).collect()
    assert len(out) == 20
    assert all(0.0 <= r.recall_at_5 <= 1.0 for r in out)
    assert all(r.n_hits == int(r.recall_at_5 * 5) for r in out)


def test_ivfpq_full_probe_equals_full_scan_adc(spark, embeddings):
    """With n_probe = n_cells the IVF routing is exhaustive, so IVF-PQ
    must produce EXACTLY the full-scan ADC ranking (same codebooks,
    same est_dist, same tie-break) on a zero-norm-free corpus — the
    composition adds candidate restriction and nothing else."""
    nonzero = S.with_quantized(embeddings).select("vec_id", "embedding")
    pred = F.col("vec_id") < 20
    full = {
        (r.qid, r.nid, r.est_dist, r.rank)
        for r in S.pq_adc_topk(nonzero, pred, m=8, k=16, max_iter=5, topk=5).collect()
    }
    ivfpq = {
        (r.qid, r.nid, r.est_dist, r.rank)
        for r in S.ivfpq_topk(
            nonzero, pred, topk=5, n_probe=10, n_cells=10, m=8, k_codes=16, pq_iter=5
        ).collect()
    }
    assert ivfpq == full


def test_ivfpq_recovers_planted_duplicates(spark, embeddings):
    """The composite index must still find a jittered twin: the twin
    lands in the same coarse cell almost surely (0.1% jitter), and the
    ADC estimate ranks it at the top within the probed candidates."""
    jitter = F.transform(
        "embedding",
        lambda x, j: x * (1.0 + ((F.col("vec_id") + j) % 5 - 2).cast("double") / 2000.0),
    )
    copies = embeddings.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        jitter.cast("array<float>").alias("embedding"),
        "label",
    )
    corpus = embeddings.select("vec_id", "embedding", "label").unionByName(copies)
    got = S.ivfpq_topk(
        corpus, F.col("vec_id") < 100000, topk=3, n_probe=2, n_cells=10, m=8, k_codes=16
    )
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.qid, []).append(r.nid)
    n_q = embeddings.count()
    hits = sum(1 for qid, nids in by_q.items() if qid + 100000 in nids)
    assert hits / n_q >= 0.85, f"planted-twin recall@3 through IVF-PQ {hits}/{n_q}"


def test_semdedup_target_cell_rows_derives_k(spark, embeddings):
    """r6 verdict #1: `target_cell_rows` must derive k = ceil(N/target)
    (the SemDeDup-paper k∝N convention) and produce EXACTLY the output
    of an explicit-k call with that k — the auto-scale path changes no
    math, only the knob's origin. With the derived k scaling ∝N, cells
    stay ~target rows and pair work stays ~N·target (linear), instead
    of the fixed-k N²/k blowup the r6 verdict measured on the 10×
    replica."""
    n = embeddings.count()
    target = 40
    k_expected = -(-n // target)
    assert k_expected > 10  # genuinely more clusters than the pinned registry k
    auto = {
        tuple(r)
        for r in S.semdedup(embeddings, target_cell_rows=target).collect()
    }
    explicit = {
        tuple(r)
        for r in S.semdedup(embeddings, k=k_expected).collect()
    }
    assert auto == explicit and auto
    clusters = {r[1] for r in auto}
    assert len(clusters) > 10  # k actually scaled with N


def test_hybrid_ann_recall_against_exact_hybrid(spark):
    """r6 verdict #2 (the s7 precedent): s11 — RRF fusion whose dense
    list is served by the PERSISTED IVF-PQ index — must substantially
    agree with s10's exact-dense fusion. The lexical list is shared, so
    every divergence is the ANN trade (2/10 cells probed + ADC
    quantization); recall@10 quantifies it. Exactness of s11's own
    answers is separately value-oracled (its registry row)."""
    from real_time_data_engineering_spark.registry import get

    exact = get("s10_hybrid_rrf").spark(spark, SF_DIR).select("query_id", "doc_id").collect()
    ann = get("s11_hybrid_rrf_ann").spark(spark, SF_DIR).select("query_id", "doc_id").collect()
    sa, sb = {}, {}
    for r in exact:
        sa.setdefault(r.query_id, set()).add(r.doc_id)
    for r in ann:
        sb.setdefault(r.query_id, set()).add(r.doc_id)
    assert set(sa) == set(sb) and len(sa) == 5  # same 5 query docs
    assert all(len(v) == 10 for v in sb.values())  # full top-10 lists
    recall = {q: len(sa[q] & sb[q]) / len(sa[q]) for q in sa}
    mean = sum(recall.values()) / len(recall)
    # measured 0.62 at sf0.001; the floor leaves ANN-noise headroom
    assert mean >= 0.4, f"ANN-backed hybrid diverged too far: {recall}"


# ---------------------------------------------------------------------------
# s15 — triplet mining
# ---------------------------------------------------------------------------


def test_triplet_mining_golden_semantics(spark):
    """Hand-checkable 2-label corpus: hardest positive = farthest
    same-label, hardest negative = closest different-label, margin
    verdict from the literal compare."""
    from real_time_data_engineering_spark.operators.similarity import triplet_mining

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),   # anchor
            (1, [0.9, 0.1], 0),   # near same-label
            (2, [0.0, 1.0], 0),   # far same-label → hardest positive
            (3, [0.99, 0.01], 1),  # very close different-label → hardest negative
            (4, [-1.0, 0.0], 1),  # far different-label
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r.qid: r for r in triplet_mining(emb, F.col("vec_id") == 0).collect()}
    r = out[0]
    assert r.pos_id == 2 and r.neg_id == 3
    assert r.neg_cos > 0.9 and r.pos_cos < 0.1
    assert r.violates_margin  # pos_cos - neg_cos is deeply negative
    assert abs(r.margin - (r.pos_cos - r.neg_cos)) == 0.0


def test_triplet_mining_drops_anchors_without_counterparts(spark):
    """An anchor with no same-label (or no different-label) partner
    yields no triplet — inner-join semantics on both engines."""
    from real_time_data_engineering_spark.operators.similarity import triplet_mining

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),  # only label-0 vector → no positive exists
            (1, [0.5, 0.5], 1),
            (2, [0.1, 0.9], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    assert triplet_mining(emb, F.col("vec_id") == 0).count() == 0
    # anchor 1 has both: a same-label partner (2) and a different-label (0)
    assert triplet_mining(emb, F.col("vec_id") == 1).count() == 1


# ---------------------------------------------------------------------------
# s16 — MMR diversification
# ---------------------------------------------------------------------------


def test_mmr_select_golden_prefers_diverse_pick(spark):
    """Three candidates: b is slightly less relevant than a's twin c,
    but c is near-identical to the seed a — MMR must pick b second."""
    from real_time_data_engineering_spark.operators.retrieval import mmr_select

    cand = spark.createDataFrame(
        [(0, 10, 1.0), (0, 11, 0.8), (0, 12, 0.9)],
        "query_id long, doc_id long, rel double",
    )
    # sims symmetric: 10~12 nearly identical (0.99), 10~11 orthogonal-ish
    rows = [
        (0, 10, 12, 0.99), (0, 12, 10, 0.99),
        (0, 10, 11, 0.10), (0, 11, 10, 0.10),
        (0, 11, 12, 0.20), (0, 12, 11, 0.20),
    ]
    sims = spark.createDataFrame(rows, "query_id long, a long, b long, cos double")
    out = sorted(
        (r.pick_order, r.doc_id) for r in mmr_select(cand, sims, k=3).collect()
    )
    # seed = most relevant (10); second = 11 (0.5*0.8-0.5*0.1=0.35 beats
    # 0.5*0.9-0.5*0.99=-0.045); third = 12
    assert out == [(1, 10), (2, 11), (3, 12)]


def test_mmr_diversifies_against_relevance_only_top5(spark):
    """On the real corpus, the mean pairwise cosine among MMR's 5 picks
    must not exceed the mean among the plain relevance top-5 — the
    whole point of the diversifier."""
    import itertools

    import numpy as np

    from real_time_data_engineering_spark.registry.similarity import (
        s10_hybrid_rrf,
        s16_mmr_diversified,
    )
    from real_time_data_engineering_spark.sources.readers import load_table

    from conftest import SF_DIR

    mmr = s16_mmr_diversified(spark, SF_DIR).collect()
    top5 = [r for r in s10_hybrid_rrf(spark, SF_DIR).collect() if r.rank <= 5]
    emb = load_table(spark, SF_DIR, "embeddings")
    vecs = {
        r.vec_id: np.floor(np.array(r.embedding, dtype=np.float64) * 1e6)
        for r in emb.collect()
    }

    def mean_paircos(picks):
        by_q: dict[int, list[int]] = {}
        for r in picks:
            by_q.setdefault(r.query_id, []).append(r.doc_id)
        vals = []
        for ids in by_q.values():
            for x, y in itertools.combinations(ids, 2):
                a, b = vecs[x], vecs[y]
                vals.append(float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b)))
        return sum(vals) / len(vals)

    assert mean_paircos(mmr) <= mean_paircos(top5) + 1e-12


# The Lloyd trainers (k-means, PQ codebooks) fold their per-task round
# stats on the driver when the partials are provably driver-small, and
# pre-aggregate them distributed past ``DIRECT_STATS_BOUND``. Both folds
# must produce BIT-IDENTICAL training output — integer sums are
# order-independent, so this is an exactness contract, not a tolerance.
# These tests force each fold via the module constant, so an edit that
# breaks the parity (e.g. a float fold) fails loudly.
#
# NOTE: a matching direct-collect rewrite of the quality-probe GD
# rounds was tried and REVERTED: the probe's per-round aggregation was
# already pure-JVM codegen (decimal sums with map-side partials), and
# moving it onto the Python/Arrow boundary tripled d47/d48/d50 wall
# time (2.5 s → 8.4 s at sf0.1) — guide §4.1's boundary cost in the
# wrong direction. See OPTIMIZATION_r10.md. The k-means/PQ cases differ
# because their per-round pass was ALREADY a mapInPandas kernel; the
# direct fold there only removed the posexplode/groupBy exchange.


def test_kmeans_direct_and_distributed_round_stats_bit_identical(
    spark, embeddings, monkeypatch
):
    import numpy as np

    # force >1 partition so the per-task combine actually combines
    emb = embeddings.repartition(5)
    monkeypatch.setattr(S, "DIRECT_STATS_BOUND", 1_000_000)
    out_d, cents_d = S.kmeans_assign(emb, k=4, max_iter=5, with_centroids=True)
    rows_d = {(r.vec_id, r.cluster, r.dist_sq) for r in out_d.collect()}
    monkeypatch.setattr(S, "DIRECT_STATS_BOUND", 0)
    out_x, cents_x = S.kmeans_assign(emb, k=4, max_iter=5, with_centroids=True)
    rows_x = {(r.vec_id, r.cluster, r.dist_sq) for r in out_x.collect()}
    assert np.array_equal(cents_d, cents_x)  # bit-identical centroids
    assert rows_d == rows_x


def test_pq_direct_and_distributed_round_stats_bit_identical(
    spark, embeddings, monkeypatch
):
    import numpy as np

    emb = embeddings.repartition(5)
    monkeypatch.setattr(S, "DIRECT_STATS_BOUND", 1_000_000)
    codes_d, books_d = S.pq_train_codes(emb, m=8, k=8, max_iter=4)
    rows_d = {(r.vec_id, r.sub, r.code) for r in codes_d.collect()}
    monkeypatch.setattr(S, "DIRECT_STATS_BOUND", 0)
    codes_x, books_x = S.pq_train_codes(emb, m=8, k=8, max_iter=4)
    rows_x = {(r.vec_id, r.sub, r.code) for r in codes_x.collect()}
    assert np.array_equal(books_d, books_x)  # bit-identical codebooks
    assert rows_d == rows_x
