"""Persistent IVF index: write-time bucketing must answer queries
exactly like the in-memory train→assign→probe composition, and the
probe must prune unprobed buckets at the PARTITION level."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_data_engineering_spark.operators import similarity as S
from real_time_data_engineering_spark.operators.ann_index import (
    ivf_index_topk,
    write_ivf_index,
)
from real_time_data_engineering_spark.sources.readers import load_table

from conftest import SF_DIR


@pytest.fixture(scope="module")
def index_path(spark, tmp_path_factory):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    write_ivf_index(emb, path, n_cells=10)
    return path


def test_index_equals_in_memory_composition(spark, index_path):
    """Same params → bit-identical top-k: the stored int64-sum centroids
    route exactly like the freshly-trained ones, and the quantized
    scoring is unchanged."""
    emb = load_table(spark, SF_DIR, "embeddings")
    pred = F.col("vec_id") < 20
    want = {
        (r.qid, r.nid, r.cosine, r.rank)
        for r in S.ivf_topk_kmeans(emb, pred, k=5, n_probe=2, n_cells=10).collect()
    }
    got = {
        (r.qid, r.nid, r.cosine, r.rank)
        for r in ivf_index_topk(spark, index_path, pred, k=5, n_probe=2).collect()
    }
    assert got == want and got


def test_probe_scan_is_partition_pruned(spark, index_path):
    """The probed-cells filter must reach the bucketed scan as a
    PartitionFilter — unprobed cluster= directories stay unread."""
    out = ivf_index_topk(spark, index_path, F.col("vec_id") < 3, k=5, n_probe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # at least one scan carries a non-empty cluster partition filter
    assert any(
        "PartitionFilters: [" in line and "cluster" in line and "[]" not in line
        for line in plan.splitlines()
    ), plan


def test_index_layout_is_hive_bucketed(spark, index_path):
    import os

    clusters = [d for d in os.listdir(index_path) if d.startswith("cluster=")]
    assert len(clusters) > 1
    assert os.path.isdir(os.path.join(index_path, "_centroids"))
    # _-prefixed dirs are invisible to the corpus reader (no schema clash)
    corpus = spark.read.parquet(index_path)
    assert "cluster" in corpus.columns and "embedding" in corpus.columns


@pytest.fixture(scope="module")
def ivfpq_path(spark, tmp_path_factory):
    from real_time_data_engineering_spark.operators.ann_index import write_ivfpq_index

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path_factory.mktemp("ivfpq") / "index")
    write_ivfpq_index(emb, path, n_cells=10, m=8, k_codes=16)
    return path


def test_ivfpq_index_equals_in_memory_composition(spark, ivfpq_path):
    """A written IVF-PQ index must answer exactly like the in-memory
    train→encode→route→ADC composition with the same parameters — the
    stored centroids, codes and codebooks carry the full deterministic
    contract through the disk roundtrip."""
    from real_time_data_engineering_spark.operators.ann_index import ivfpq_index_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    pred = F.col("vec_id") < 20
    want = {
        (r.qid, r.nid, r.est_dist, r.rank)
        for r in S.ivfpq_topk(
            emb, pred, topk=5, n_probe=2, n_cells=10, m=8, k_codes=16
        ).collect()
    }
    got = {
        (r.qid, r.nid, r.est_dist, r.rank)
        for r in ivfpq_index_topk(
            spark, ivfpq_path, emb.filter(pred), topk=5, n_probe=2, exclude_self=True
        ).collect()
    }
    assert got == want and got


def test_ivfpq_external_query_keeps_colliding_id_neighbor(spark, ivfpq_path):
    """External query frames share no id space with the corpus, so a
    query whose id happens to equal a vec_id must NOT lose that corpus
    vector as a candidate (exclude_self defaults to False). Probe with
    corpus vectors under their own ids: every query's own code row is
    its exact-ADC-0 match and must appear in its top-k."""
    from real_time_data_engineering_spark.operators.ann_index import ivfpq_index_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivfpq_index_topk(spark, ivfpq_path, queries, topk=5, n_probe=2).collect()
    self_hits = {r.qid for r in out if r.qid == r.nid}
    assert self_hits == {r.vec_id for r in queries.select("vec_id").collect()}
    # and the opt-in exclusion still removes them for corpus-drawn queries
    excl = ivfpq_index_topk(
        spark, ivfpq_path, queries, topk=5, n_probe=2, exclude_self=True
    ).collect()
    assert all(r.qid != r.nid for r in excl)


def test_ivfpq_probe_scan_is_partition_pruned(spark, ivfpq_path):
    """The probed-cells filter must reach the CODES scan as a
    PartitionFilter — unprobed cluster= code files stay unread."""
    from real_time_data_engineering_spark.operators.ann_index import ivfpq_index_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    out = ivfpq_index_topk(spark, ivfpq_path, emb.filter(F.col("vec_id") < 3), topk=5, n_probe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert any(
        "PartitionFilters: [" in line and "cluster" in line and "[]" not in line
        for line in plan.splitlines()
    ), plan


def test_ivfpq_index_stores_codes_not_vectors(spark, ivfpq_path):
    """The corpus-sized relation on disk is codes-only: no embedding
    column anywhere under codes/ — that is the entire storage win."""
    import os

    codes_dir = os.path.join(ivfpq_path, "codes")
    clusters = [d for d in os.listdir(codes_dir) if d.startswith("cluster=")]
    assert len(clusters) > 1
    codes = spark.read.parquet(codes_dir)
    assert "embedding" not in codes.columns
    assert {"vec_id", "sub", "code", "cluster"} <= set(codes.columns)
    assert os.path.isdir(os.path.join(ivfpq_path, "_centroids"))
    assert os.path.isdir(os.path.join(ivfpq_path, "_codebooks"))


def test_ivfpq_append_equals_all_at_once_index(spark, tmp_path):
    """FAISS add() contract: an index written over base∪new must answer
    queries BIT-IDENTICALLY to one written over base then appended with
    new — same coarse assignment (stored float64 quantizer, same kernel
    math), same PQ codes (stored float codebooks), and routing sums
    that merge associatively. Training is pinned to the base set on
    both sides via sample_n (base ids sort first), so the quantizers
    are identical by construction and any divergence is the append
    path's fault."""
    from real_time_data_engineering_spark.operators.ann_index import (
        append_to_ivfpq_index,
        ivfpq_index_topk,
        write_ivfpq_index,
    )
    from real_time_data_engineering_spark.operators.manifest import ManifestTable

    emb = load_table(spark, SF_DIR, "embeddings")
    n_base = 400
    base = emb.filter(F.col("vec_id") < n_base)
    new = emb.filter(F.col("vec_id") >= n_base)
    full_path = str(tmp_path / "full")
    inc_path = str(tmp_path / "inc")
    write_ivfpq_index(
        emb, full_path, n_cells=10, m=8, k_codes=16, sample_n=n_base, manifest_codes=True
    )
    write_ivfpq_index(
        base, inc_path, n_cells=10, m=8, k_codes=16, sample_n=n_base, manifest_codes=True
    )
    append_to_ivfpq_index(spark, inc_path, new)
    # the codes table took a real optimistic-concurrency append commit
    snap = ManifestTable(str(tmp_path / "inc" / "codes")).snapshot()
    assert snap.operation == "append" and snap.version == 2
    queries = emb.filter(F.col("vec_id") % 37 == 0)  # both sides of the split
    want = {
        tuple(r)
        for r in ivfpq_index_topk(spark, full_path, queries, topk=5, n_probe=2).collect()
    }
    got = {
        tuple(r)
        for r in ivfpq_index_topk(spark, inc_path, queries, topk=5, n_probe=2).collect()
    }
    assert got == want and got
    # appended ids are actually retrievable: query an appended vector
    # for itself (exclude_self off) — its own code row is ADC-0
    probe = emb.filter(F.col("vec_id") == n_base + 3)
    hits = ivfpq_index_topk(spark, inc_path, probe, topk=3, n_probe=2).collect()
    assert any(r.qid == r.nid == n_base + 3 for r in hits)


def test_ivfpq_manifest_codes_probe_reads_only_probed_cells(spark, tmp_path):
    """Manifest-layout probe pruning: the per-cell reads must touch
    strictly fewer files than the table holds (min/max stats on the
    cluster column prove unprobed cells' files empty — the stats
    analogue of the hive layout's PartitionFilters)."""
    from real_time_data_engineering_spark.operators.ann_index import write_ivfpq_index
    from real_time_data_engineering_spark.operators.manifest import ManifestTable

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    write_ivfpq_index(emb, path, n_cells=10, m=8, k_codes=16, manifest_codes=True)
    tbl = ManifestTable(str(tmp_path / "idx" / "codes"))
    all_files = set(tbl.files_for())
    one_cell = set(tbl.files_for([("cluster", "==", 0)]))
    assert one_cell and one_cell < all_files
    # and reading that predicate returns exactly that cell's rows
    got = tbl.read(spark, predicate=[("cluster", "==", 0)])
    assert got.select("cluster").distinct().collect() == [
        got.sparkSession.createDataFrame([(0,)], "cluster int").collect()[0]
    ]


def test_ivfpq_two_appends_routing_stats_lose_nothing(spark, tmp_path):
    """ADVICE r6 #3: routing stats must survive MULTIPLE appends with no
    lost update. Each append commits its per-cell sums as append-only
    delta rows through the manifest CAS (never a read-modify-write of
    `_centroids`), so after two appends the re-aggregated routing
    relation — and therefore every query answer — is bit-identical to
    an index written all-at-once over the union. A racing writer can at
    worst retry its own CAS; it can never erase another's delta."""
    from real_time_data_engineering_spark.operators.ann_index import (
        _routing_stats,
        append_to_ivfpq_index,
        ivfpq_index_topk,
        write_ivfpq_index,
    )
    from real_time_data_engineering_spark.operators.manifest import ManifestTable

    emb = load_table(spark, SF_DIR, "embeddings")
    n_base = 200
    base = emb.filter(F.col("vec_id") < n_base)
    mid = emb.filter((F.col("vec_id") >= n_base) & (F.col("vec_id") < 350))
    late = emb.filter(F.col("vec_id") >= 350)
    full_path, inc_path = str(tmp_path / "full"), str(tmp_path / "inc")
    write_ivfpq_index(
        emb, full_path, n_cells=10, m=8, k_codes=16, sample_n=n_base, manifest_codes=True
    )
    write_ivfpq_index(
        base, inc_path, n_cells=10, m=8, k_codes=16, sample_n=n_base, manifest_codes=True
    )
    append_to_ivfpq_index(spark, inc_path, mid)
    append_to_ivfpq_index(spark, inc_path, late)
    # both appends' deltas are separate CAS commits on the deltas table
    deltas = ManifestTable(str(tmp_path / "inc" / "_centroid_deltas"))
    assert deltas.snapshot().version == 2
    # re-aggregated routing stats == the all-at-once index's stats
    want = {
        (r.cluster, tuple(r.cent_s), r.c)
        for r in _routing_stats(spark, full_path).collect()
    }
    got = {
        (r.cluster, tuple(r.cent_s), r.c)
        for r in _routing_stats(spark, inc_path).collect()
    }
    assert got == want and got
    queries = emb.filter(F.col("vec_id") % 53 == 0)
    want_q = {
        tuple(r)
        for r in ivfpq_index_topk(spark, full_path, queries, topk=5, n_probe=2).collect()
    }
    got_q = {
        tuple(r)
        for r in ivfpq_index_topk(spark, inc_path, queries, topk=5, n_probe=2).collect()
    }
    assert got_q == want_q and got_q


def test_ivfpq_refine_exact_rerank_of_shortlist(spark, ivfpq_path):
    """The refine stage must equal an independent exact rerank of the
    index's ADC top-25 shortlist: same candidate set, distances equal
    the int64 fold over quantized components, order (exact_dist, nid)."""
    import numpy as np

    from real_time_data_engineering_spark.operators.ann_index import (
        ivfpq_index_topk,
        ivfpq_index_topk_refined,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    got = ivfpq_index_topk_refined(
        spark, ivfpq_path, queries, emb, topk=5, refine_factor=5, n_probe=2,
        exclude_self=True,
    ).collect()
    shortlist = ivfpq_index_topk(
        spark, ivfpq_path, queries, topk=25, n_probe=2, exclude_self=True
    ).collect()
    vecs = {
        r.vec_id: np.floor(np.array(r.embedding, dtype=np.float64) * 1_000_000.0).astype(
            np.int64
        )
        for r in emb.collect()
    }
    by_q: dict[int, list[tuple[int, int]]] = {}
    for r in shortlist:
        d = int(((vecs[r.qid] - vecs[r.nid]) ** 2).sum())
        by_q.setdefault(r.qid, []).append((d, r.nid))
    want = set()
    for qid, cands in by_q.items():
        for rank, (d, nid) in enumerate(sorted(cands)[:5], start=1):
            want.add((qid, nid, d, rank))
    assert {(r.qid, r.nid, r.exact_dist, r.rank) for r in got} == want and want


def test_ivfpq_refine_recall_not_worse_than_adc(spark, ivfpq_path):
    """Per query, refined recall@5 >= ADC recall@5 against the exact
    quantized-L2 ground truth. This is a theorem for rerank-of-a-
    shortlist (any true top-5 member the shortlist contains survives
    the exact rerank; ADC's estimation error can drop it) — assert it
    holds on real data."""
    import numpy as np

    from real_time_data_engineering_spark.operators.ann_index import (
        ivfpq_index_topk,
        ivfpq_index_topk_refined,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    refined = ivfpq_index_topk_refined(
        spark, ivfpq_path, queries, emb, topk=5, refine_factor=5, n_probe=2,
        exclude_self=True,
    ).collect()
    adc = ivfpq_index_topk(
        spark, ivfpq_path, queries, topk=5, n_probe=2, exclude_self=True
    ).collect()
    vecs = {
        r.vec_id: np.floor(np.array(r.embedding, dtype=np.float64) * 1_000_000.0).astype(
            np.int64
        )
        for r in emb.collect()
    }
    truth: dict[int, set[int]] = {}
    qids = {r.qid for r in refined}
    for qid in qids:
        dists = sorted(
            (int(((vecs[qid] - vecs[nid]) ** 2).sum()), nid)
            for nid in vecs
            if nid != qid
        )
        truth[qid] = {nid for _, nid in dists[:5]}
    rec_ref = {q: 0 for q in qids}
    rec_adc = {q: 0 for q in qids}
    for r in refined:
        rec_ref[r.qid] += r.nid in truth[r.qid]
    for r in adc:
        rec_adc[r.qid] += r.nid in truth[r.qid]
    assert all(rec_ref[q] >= rec_adc[q] for q in qids)
    assert sum(rec_ref.values()) > 0


def test_write_ivfpq_skip_if_current_reuses_then_rebuilds(spark, tmp_path):
    """`skip_if_current=True` must (a) skip the rebuild when params and
    corpus fingerprint match — artifacts untouched, answers identical —
    and (b) rebuild when the corpus or the parameters change."""
    import os

    from real_time_data_engineering_spark.operators.ann_index import (
        ivfpq_index_topk,
        write_ivfpq_index,
    )

    def mtimes(path):
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
        return out

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") < 60)
    path = str(tmp_path / "idx")
    write_ivfpq_index(base, path, n_cells=4, m=8, k_codes=8, skip_if_current=True)
    first = mtimes(path)
    queries = base.filter(F.col("vec_id") < 5)
    want = {
        (r.qid, r.nid, r.est_dist, r.rank)
        for r in ivfpq_index_topk(spark, path, queries, topk=5, n_probe=2).collect()
    }
    # same corpus + params → pure no-op: not one file rewritten
    write_ivfpq_index(base, path, n_cells=4, m=8, k_codes=8, skip_if_current=True)
    assert mtimes(path) == first
    got = {
        (r.qid, r.nid, r.est_dist, r.rank)
        for r in ivfpq_index_topk(spark, path, queries, topk=5, n_probe=2).collect()
    }
    assert got == want and got
    # corpus changed (one more vector) → fingerprint mismatch → rebuild
    write_ivfpq_index(
        emb.filter(F.col("vec_id") < 61), path, n_cells=4, m=8, k_codes=8,
        skip_if_current=True,
    )
    assert mtimes(path) != first
    # params changed → stamp mismatch → rebuild again
    second = mtimes(path)
    write_ivfpq_index(
        emb.filter(F.col("vec_id") < 61), path, n_cells=4, m=8, k_codes=8,
        pq_iter=3, skip_if_current=True,
    )
    assert mtimes(path) != second


def test_append_invalidates_idempotency_stamp(spark, tmp_path):
    """An appended index serves MORE than the stamped corpus, so the
    append must drop the `_meta` stamp: a later skip_if_current build
    against the ORIGINAL corpus rebuilds (and the rebuilt index answers
    for the base corpus only)."""
    import os

    from real_time_data_engineering_spark.operators.ann_index import (
        append_to_ivfpq_index,
        ivfpq_index_topk,
        write_ivfpq_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") < 50)
    extra = emb.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 60))
    path = str(tmp_path / "idx")
    write_ivfpq_index(
        base, path, n_cells=4, m=8, k_codes=8, manifest_codes=True,
        skip_if_current=True,
    )
    assert os.path.isdir(os.path.join(path, "_meta"))
    append_to_ivfpq_index(spark, path, extra)
    assert not os.path.isdir(os.path.join(path, "_meta"))
    # rebuild for the base corpus: stamp returns, appended rows gone
    write_ivfpq_index(
        base, path, n_cells=4, m=8, k_codes=8, manifest_codes=True,
        skip_if_current=True,
    )
    assert os.path.isdir(os.path.join(path, "_meta"))
    queries = emb.filter(F.col("vec_id") < 3)
    nids = {
        r.nid
        for r in ivfpq_index_topk(spark, path, queries, topk=50, n_probe=4).collect()
    }
    assert nids and all(n < 50 for n in nids)


def test_ivfpq_refine_raises_on_corpus_missing_shortlist_vector(spark, tmp_path):
    """Probing an index with a corpus that lacks a shortlisted vector
    (appended index + stale base corpus) must FAIL, not silently return
    fewer than topk rows."""
    from py4j.protocol import Py4JJavaError

    from real_time_data_engineering_spark.operators.ann_index import (
        ivfpq_index_topk_refined,
        write_ivfpq_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, path, n_cells=4, m=4, k_codes=4)
    queries = emb.filter(F.col("vec_id") < 3)
    # drop most of the corpus: shortlist candidates can't all resolve
    stale = emb.filter(F.col("vec_id") < 5)
    with pytest.raises((Py4JJavaError, Exception), match="no raw vector"):
        ivfpq_index_topk_refined(
            spark, path, queries, stale, topk=5, refine_factor=5, n_probe=2
        ).collect()
    # the full corpus still works
    ok = ivfpq_index_topk_refined(
        spark, path, queries, emb, topk=5, refine_factor=5, n_probe=2
    )
    assert ok.count() > 0
