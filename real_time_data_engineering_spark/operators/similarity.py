"""Similarity search over embedding columns (`array<float>`).

Two tiers, per the standard ANN playbook:

* **Brute-force cosine top-k** — the exactness baseline. Expressed with
  `zip_with` + `aggregate` (JVM-side, codegen; no Python). Cost is
  |Q|·N·d: fine for reranking / small query sets; the broadcast of the
  query block keeps it shuffle-free.
* **IVF-style partitioned search** — the 100 TB path: k centroids,
  vectors partitioned by cell, queries probe only their nearest cells.
  Search cost drops to |Q|·(N/cells)·probes and the cell assignment is
  a broadcast join, so the big side never shuffles. `ivf_topk` routes
  over any cell column (label as the stand-in quantizer);
  `ivf_topk_kmeans` trains the real coarse quantizer with
  `kmeans_assign` first.

Parity note: the oracle-checked variants quantize floats with
floor(x·1e6) into BIGINT so dot products are exact integers on both
engines; the one double division at the end is bit-stable. The plain
double variants are the production default.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.readers import ensure_min_partitions

QUANT_SCALE = 1_000_000.0

# Driver-fold bound for `_lloyd`'s round stats (k-means/PQ training):
# the per-task partials (≤ n_parts·m·k rows, each a sub_dim-length
# int64 sum) are collected directly when their BYTE footprint is under
# this, else the distributed pre-aggregation runs. Bytes, not rows (a
# row bound lets driver bytes scale with dim); 64 MiB ≡ 65,536 rows at
# dim 128. Module-level so tests can force either fold and assert
# bit-identical training output.
DIRECT_STATS_BOUND = 64 * 1024 * 1024


def quantized(col: Column | str) -> Column:
    """array<float> → array<bigint> via floor(x·1e6) — exact both engines."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: F.floor(x.cast("double") * F.lit(QUANT_SCALE)))


def dot_q(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x)


def norm_sq_q(a: Column) -> Column:
    return dot_q(a, a)


def dot_dec(a: Column, b: Column) -> Column:
    """Exact integer dot product accumulated in decimal(38,0) — for dots
    where one side is a per-cell SUM vector whose components scale with
    cell row count, so int64 would overflow (hard ANSI error) once a
    cell passes ~2^17 rows at dim 64. Decimal keeps the arithmetic
    exact (and bit-identical to DuckDB, whose SUM(BIGINT) is HUGEINT)
    to 38 digits ≈ 10^26 rows per cell — effectively unbounded. Only
    used on tiny relations (|queries| × |cells| routing), so the
    decimal-vs-long cost is irrelevant."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("decimal(19,0)") * y.cast("decimal(19,0)")),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + x,
    )


def cosine_q(dot: Column, n1: Column, n2: Column) -> Column:
    """cos = dot / (sqrt(n1)·sqrt(n2)) — one deterministic double expr."""
    return dot.cast("double") / (F.sqrt(n1.cast("double")) * F.sqrt(n2.cast("double")))


def with_quantized(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """Quantize + fan out: compact embedding files scan as one partition,
    which would serialize every downstream dot product on one core.

    Zero-norm vectors (every component quantizes to 0) are EXCLUDED:
    cosine is undefined for them, and under ANSI mode (Spark 4 default)
    the division would error rather than silently produce NULL/NaN —
    a hypothesis-found edge, see tests/test_properties.py.
    """
    df = ensure_min_partitions(df)
    return (
        df.withColumn("emb_q", quantized(emb_col))
        .withColumn("norm_q", norm_sq_q(F.col("emb_q")))
        .filter(F.col("norm_q") > 0)
    )


def cosine_topk(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for the rows matching ``query_pred``.

    The query block is broadcast; the corpus side stays partition-local
    (no shuffle until the final per-query top-k, which AQE keeps tiny).
    """
    base = with_quantized(emb, emb_col)
    q = base.filter(query_pred).select(
        F.col(id_col).alias("qid"), F.col("emb_q").alias("q_emb"), F.col("norm_q").alias("q_norm")
    )
    v = base.select(F.col(id_col).alias("nid"), F.col("emb_q").alias("v_emb"), F.col("norm_q").alias("v_norm"))
    pairs = v.crossJoin(F.broadcast(q)).filter(F.col("qid") != F.col("nid"))
    scored = pairs.select(
        "qid",
        "nid",
        cosine_q(dot_q(F.col("q_emb"), F.col("v_emb")), F.col("q_norm"), F.col("v_norm")).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "cosine", "rank")
    )


def cosine_range(
    emb: DataFrame,
    query_pred: Column,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact range search (the FAISS `range_search` analogue): ALL
    neighbors with cosine ≥ ``threshold`` per query — no k. This is the
    primitive every similarity-threshold operation actually wants
    (semantic dedup at τ, near-dup blocking, "find everything close
    enough"), where top-k silently truncates dense neighborhoods and
    over-returns sparse ones.

    Same kernel and scale shape as `cosine_topk` (broadcast query
    block over a partition-local corpus scan, exact quantized cosine),
    but the tail is a plain FILTER — no window, no shuffle at all: the
    plan is one broadcast join and a predicate, so output cost is
    exactly the matching pairs. Returns (qid, nid, cosine)."""
    base = with_quantized(emb, emb_col)
    q = base.filter(query_pred).select(
        F.col(id_col).alias("qid"), F.col("emb_q").alias("q_emb"), F.col("norm_q").alias("q_norm")
    )
    v = base.select(F.col(id_col).alias("nid"), F.col("emb_q").alias("v_emb"), F.col("norm_q").alias("v_norm"))
    pairs = v.crossJoin(F.broadcast(q)).filter(F.col("qid") != F.col("nid"))
    return pairs.select(
        "qid",
        "nid",
        cosine_q(dot_q(F.col("q_emb"), F.col("v_emb")), F.col("q_norm"), F.col("v_norm")).alias("cosine"),
    ).filter(F.col("cosine") >= F.lit(threshold))


def knn_label_vote(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN majority-vote classification on top of exact top-k.

    Tie-break: (votes DESC, label ASC) — deterministic on both engines.
    """
    topk = cosine_topk(emb, query_pred, k, id_col, emb_col)
    labels = emb.select(F.col(id_col).alias("nid"), F.col(label_col).alias("n_label"))
    votes = topk.join(F.broadcast(labels), "nid").groupBy("qid", "n_label").agg(F.count("*").alias("votes"))
    w = Window.partitionBy("qid").orderBy(F.desc("votes"), F.asc("n_label"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("n_label").alias("predicted_label"), "votes")
    )


def triplet_mining(
    emb: DataFrame,
    query_pred: Column,
    margin: float = 0.2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hardest-positive / hardest-negative triplet mining — the batch
    construction step of contrastive/metric training (FaceNet's
    hard-mining, the bi-encoder hard-negative pipeline) as a
    corpus-scale operator. Per anchor matching ``query_pred``: the
    SAME-label corpus vector with the LOWEST cosine (hardest positive
    — the pair the model most needs to pull together) and the
    DIFFERENT-label vector with the HIGHEST cosine (hardest negative —
    the pair it most needs to push apart), plus the triplet-margin
    verdict pos_cos − neg_cos < margin.

    Scale shape: same broadcast fan-out as `cosine_topk` (the anchor
    block rides to every executor; the corpus side never shuffles until
    the per-anchor top-1 windows, which AQE keeps tiny). Deterministic:
    exact quantized cosine, (cosine, nid) tie-breaks on both windows,
    and the margin check is one double subtraction + literal compare —
    fully value-oracled (registry s15).

    Returns (qid, pos_id, neg_id, pos_cos, neg_cos, margin,
    violates_margin); anchors lacking a same-label or different-label
    counterpart are dropped (inner join — both engines identically)."""
    base = with_quantized(emb, emb_col)
    q = base.filter(query_pred).select(
        F.col(id_col).alias("qid"),
        F.col(label_col).alias("q_label"),
        F.col("emb_q").alias("q_emb"),
        F.col("norm_q").alias("q_norm"),
    )
    v = base.select(
        F.col(id_col).alias("nid"),
        F.col(label_col).alias("v_label"),
        F.col("emb_q").alias("v_emb"),
        F.col("norm_q").alias("v_norm"),
    )
    pairs = v.crossJoin(F.broadcast(q)).filter(F.col("qid") != F.col("nid"))
    scored = pairs.select(
        "qid",
        "q_label",
        "nid",
        "v_label",
        cosine_q(dot_q(F.col("q_emb"), F.col("v_emb")), F.col("q_norm"), F.col("v_norm")).alias(
            "cosine"
        ),
    )
    wpos = Window.partitionBy("qid").orderBy(F.asc("cosine"), F.asc("nid"))
    wneg = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    pos = (
        scored.filter(F.col("q_label") == F.col("v_label"))
        .withColumn("rn", F.row_number().over(wpos))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("nid").alias("pos_id"), F.col("cosine").alias("pos_cos"))
    )
    neg = (
        scored.filter(F.col("q_label") != F.col("v_label"))
        .withColumn("rn", F.row_number().over(wneg))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("nid").alias("neg_id"), F.col("cosine").alias("neg_cos"))
    )
    return pos.join(neg, "qid").select(
        "qid",
        "pos_id",
        "neg_id",
        "pos_cos",
        "neg_cos",
        (F.col("pos_cos") - F.col("neg_cos")).alias("margin"),
        (F.col("pos_cos") - F.col("neg_cos") < F.lit(margin)).alias("violates_margin"),
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — exact baseline.

    All (v1 < v2) pairs with cosine ≥ threshold, via the quantized
    integer dot product (oracle-exact). O(N²·d): this is the rerank /
    small-corpus baseline; `embedding_neardup_lsh` is the 100 TB path
    that feeds ONLY candidate pairs into this same exact scoring.
    The smaller side is broadcast so the big side never shuffles.
    """
    base = with_quantized(emb, emb_col)
    a = base.select(F.col(id_col).alias("v1"), F.col("emb_q").alias("e1"), F.col("norm_q").alias("n1"))
    b = base.select(F.col(id_col).alias("v2"), F.col("emb_q").alias("e2"), F.col("norm_q").alias("n2"))
    return (
        a.join(F.broadcast(b), F.col("v1") < F.col("v2"))
        .select(
            "v1",
            "v2",
            cosine_q(dot_q(F.col("e1"), F.col("e2")), F.col("n1"), F.col("n2")).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def embedding_neardup_pairs_blas(
    emb: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine ≥ threshold via Arrow-batched block matmul.

    Same result as `embedding_neardup_pairs`, different physical plan:
    each executor batch computes block @ corpusᵀ with numpy int64 BLAS
    instead of per-pair Catalyst array folds — dense linear algebra is
    the one hot path where interpreted higher-order functions lose 10×+
    to vectorized Python. Quantized int64 products are exact (|q|<2²⁰,
    64-dim sums < 2⁴⁶), and the final float64 division is the identical
    IEEE expression, so oracle parity holds bit-for-bit.

    The corpus matrix rides inside the closure (fine to ~10⁵ vectors —
    the honest limit of ANY all-pairs scan); beyond that the LSH
    candidate path below is the design point, with this kernel reused
    for block-level rerank.
    """
    import numpy as np

    rows = emb.select(F.col(id_col).alias("id"), quantized(emb_col).alias("q")).collect()
    ids = np.array([r.id for r in rows], dtype=np.int64)
    mat = np.array([r.q for r in rows], dtype=np.int64)
    norms = (mat * mat).sum(axis=1).astype(np.float64)
    keep = norms > 0  # zero-norm exclusion, same rule as with_quantized
    ids, mat, norms = ids[keep], mat[keep], norms[keep]
    order = np.argsort(ids, kind="stable")
    ids, mat, norms = ids[order], mat[order], norms[order]
    thr = float(threshold)

    def blocks(it):
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            bm = _np.array(list(pdf["q"]), dtype=_np.int64)
            bids = pdf["id"].to_numpy(dtype=_np.int64)
            bnorm = (bm * bm).sum(axis=1).astype(_np.float64)
            nz = bnorm > 0
            if not nz.all():
                bm, bids, bnorm = bm[nz], bids[nz], bnorm[nz]
                if len(bids) == 0:
                    continue
            dots = bm @ mat.T
            cos = dots / (_np.sqrt(bnorm)[:, None] * _np.sqrt(norms)[None, :])
            bi, cj = _np.nonzero((cos >= thr) & (bids[:, None] < ids[None, :]))
            yield _pd.DataFrame(
                {"v1": bids[bi], "v2": ids[cj], "cosine": cos[bi, cj]}
            )

    out_schema = "v1 bigint, v2 bigint, cosine double"
    src = ensure_min_partitions(emb).select(F.col(id_col).alias("id"), quantized(emb_col).alias("q"))
    return src.mapInPandas(blocks, out_schema)


def embedding_neardup_pairs_blocked(
    emb: DataFrame,
    threshold: float = 0.35,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold, fully distributed — the
    registered form of the exact kernel (no driver collect, no
    closure-captured corpus).

    Block-partitioned self-pairing: each vector hashes to a block in
    [0, n_blocks); every unordered block pair {i ≤ j} becomes one
    applyInPandas group holding block i as its A-side and block j as
    its B-side, and the group runs the same exact quantized int64
    matmul as `embedding_neardup_pairs_blas`. Replication is
    O(N·n_blocks) rows through ONE shuffle (vs. that kernel's
    driver collect + O(N·d) task closure); compute is the unavoidable
    O(N²·d/2) of any exact all-pairs scan, spread over
    n_blocks·(n_blocks+1)/2 independent tasks, each bounded at
    (N/n_blocks)² — pick n_blocks ≈ √(2·target_parallelism) and the
    per-task memory is (2N/n_blocks)·d int64s, executor-sized at any
    corpus scale. Sub-quadratic needs call for `embedding_neardup_lsh`.

    Quantized int64 products are exact (|q| < 2²⁰, 64-dim sums < 2⁴⁶)
    and the final float64 division is the identical IEEE expression on
    both engines → oracle parity bit-for-bit.
    """
    base = with_quantized(emb, emb_col).select(
        F.col(id_col).alias("id"),
        F.col("emb_q").alias("q"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    )
    # A-side: block b joins every group (b, j ≥ b); B-side: (i < b, b).
    a_side = base.select(
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("bj"),
        F.lit(0).alias("role"),
        "id",
        "q",
    )
    b_side = base.filter(F.col("blk") > 0).select(
        F.explode(F.sequence(F.lit(0), F.col("blk") - 1)).alias("bi"),
        F.col("blk").alias("bj"),
        F.lit(1).alias("role"),
        "id",
        "q",
    )
    thr = float(threshold)

    def kernel(key, pdf):
        import numpy as _np
        import pandas as _pd

        empty = _pd.DataFrame(
            {
                "v1": _pd.Series(dtype="int64"),
                "v2": _pd.Series(dtype="int64"),
                "cosine": _pd.Series(dtype="float64"),
            }
        )
        bi, bj = key
        a = pdf[pdf["role"] == 0]
        if len(a) == 0:
            return empty
        ida = a["id"].to_numpy(dtype=_np.int64)
        ma = _np.array(list(a["q"]), dtype=_np.int64)
        na = (ma * ma).sum(axis=1).astype(_np.float64)
        if bi == bj:
            idb, mb, nb = ida, ma, na
        else:
            b = pdf[pdf["role"] == 1]
            if len(b) == 0:
                return empty
            idb = b["id"].to_numpy(dtype=_np.int64)
            mb = _np.array(list(b["q"]), dtype=_np.int64)
            nb = (mb * mb).sum(axis=1).astype(_np.float64)
        cos = (ma @ mb.T) / (_np.sqrt(na)[:, None] * _np.sqrt(nb)[None, :])
        if bi == bj:
            # same set on both sides: upper triangle covers each pair once
            ai, bix = _np.nonzero((cos >= thr) & (ida[:, None] < idb[None, :]))
            v1, v2 = ida[ai], idb[bix]
        else:
            # disjoint blocks: every pair appears in exactly this group,
            # in arbitrary id order — normalize to (min, max)
            ai, bix = _np.nonzero(cos >= thr)
            v1 = _np.minimum(ida[ai], idb[bix])
            v2 = _np.maximum(ida[ai], idb[bix])
        return _pd.DataFrame({"v1": v1, "v2": v2, "cosine": cos[ai, bix]})

    return (
        a_side.unionByName(b_side)
        .groupBy("bi", "bj")
        .applyInPandas(kernel, "v1 bigint, v2 bigint, cosine double")
    )


def lsh_candidate_pairs(
    emb: DataFrame,
    planes: int = 64,
    bands: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (sign) LSH candidate pairs.

    Each Arrow batch computes ALL `planes` sign bits as one int64
    matmul against the deterministic ±1 hyperplane matrix (Q @ Sᵀ ≥ 0)
    and packs them into `bands` integer band hashes — one narrow
    mapInPandas, no shuffle. (The earlier per-plane Column-expression
    form traversed the vector 64 separate times per row; dense linear
    algebra is exactly the case where a vectorized kernel wins 10×+.)
    Vectors sharing any (band, hash) bucket become candidates; the only
    shuffle is the band-bucket self-join — cardinality ~N·bands, never
    N². Exact integer arithmetic end-to-end, so the signature is
    deterministic under any partitioning.
    """
    rows = planes // bands

    def kernel(it):
        # Everything the worker needs lives in THIS closure: cloudpickle
        # ships nested functions by value, while a module-global helper
        # would pickle by reference and require the package to be
        # importable on executor PYTHONPATH (it isn't on the driver's).
        import hashlib

        import numpy as _np
        import pandas as _pd

        def sign_matrix(dim):
            # deterministic ±1 hyperplanes: parity of md5(f"{p}:{j}")'s
            # first byte — stable across runs/machines, no stored model
            return _np.array(
                [
                    [
                        1 if hashlib.md5(f"{p}:{j}".encode()).digest()[0] % 2 == 0 else -1
                        for j in range(dim)
                    ]
                    for p in range(planes)
                ],
                dtype=_np.int64,
            )

        S_mat = None
        weights = 1 << _np.arange(rows, dtype=_np.int64)
        for pdf in it:
            if len(pdf) == 0:
                continue
            Q = _np.array(list(pdf["q"]), dtype=_np.int64)
            if S_mat is None:
                S_mat = sign_matrix(Q.shape[1])
            bits = (Q @ S_mat.T) >= 0  # n×planes
            n = len(Q)
            ids = pdf["id"].to_numpy(dtype=_np.int64)
            hashes = _np.empty((n, bands), dtype=_np.int64)
            for b in range(bands):
                hashes[:, b] = bits[:, b * rows : (b + 1) * rows] @ weights
            yield _pd.DataFrame(
                {
                    "id": _np.repeat(ids, bands),
                    "band": _np.tile(_np.arange(bands, dtype=_np.int32), n),
                    "band_hash": hashes.reshape(-1),
                }
            )

    from pyspark import StorageLevel

    base = with_quantized(emb, emb_col).select(F.col(id_col).alias("id"), F.col("emb_q").alias("q"))
    # persist: both sides of the band self-join read `banded`, and
    # without it the signature kernel re-scans the corpus twice. The
    # relation is narrow (id, band, hash = N·bands rows) but still
    # corpus-scaled, so DISK_ONLY per the repo-wide cache policy —
    # spill-backed reuse, never executor memory pressure.
    banded = base.mapInPandas(kernel, "id bigint, band int, band_hash bigint").persist(
        StorageLevel.DISK_ONLY
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("v1"), F.col("b.id").alias("v2"))
        .distinct()
    )


def embedding_neardup_lsh(
    emb: DataFrame,
    threshold: float = 0.99,
    planes: int = 64,
    bands: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Scale path for embedding near-dup: LSH candidates → exact rerank.

    The classic candidate→verify split: the quadratic exact cosine only
    runs on pairs that collided in some LSH band. Recall is tunable via
    (planes, bands); property-tested with planted near-duplicates.
    """
    cand = lsh_candidate_pairs(emb, planes, bands, id_col, emb_col)
    base = with_quantized(emb, emb_col)
    s1 = base.select(F.col(id_col).alias("v1"), F.col("emb_q").alias("e1"), F.col("norm_q").alias("n1"))
    s2 = base.select(F.col(id_col).alias("v2"), F.col("emb_q").alias("e2"), F.col("norm_q").alias("n2"))
    joined = cand.join(s1, "v1").join(s2, "v2")
    thr = float(threshold)

    # Vectorized rerank (same exact int64-dot + float64-divide math as
    # the blocked all-pairs kernel): the candidate set is large on LSH-
    # unfavorable corpora and a per-pair higher-order-function cosine
    # interprets 64 array ops per row — one numpy pass per Arrow batch
    # instead. Fully closure-contained (see lsh_candidate_pairs note).
    def rerank(it):
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            e1 = _np.array(list(pdf["e1"]), dtype=_np.int64)
            e2 = _np.array(list(pdf["e2"]), dtype=_np.int64)
            dots = (e1 * e2).sum(axis=1)
            cos = dots / (
                _np.sqrt(pdf["n1"].to_numpy(dtype=_np.float64))
                * _np.sqrt(pdf["n2"].to_numpy(dtype=_np.float64))
            )
            m = cos >= thr
            yield _pd.DataFrame(
                {
                    "v1": pdf["v1"].to_numpy(dtype=_np.int64)[m],
                    "v2": pdf["v2"].to_numpy(dtype=_np.int64)[m],
                    "cosine": cos[m],
                }
            )

    return joined.select("v1", "v2", "e1", "n1", "e2", "n2").mapInPandas(
        rerank, "v1 bigint, v2 bigint, cosine double"
    )


def ivf_route(
    base: DataFrame,
    query_pred: Column,
    n_probe: int = 2,
    id_col: str = "vec_id",
    cell_col: str = "label",
) -> DataFrame:
    """Route each query to its ``n_probe`` nearest cells of a quantized
    corpus (``base`` = `with_quantized` output carrying ``cell_col``);
    returns (qid, q_emb, q_norm, cell). Shared by the IVF exact-rerank
    path (`ivf_topk`) and the IVF-PQ codes path (`ivfpq_topk`).

    Centroid per cell = exact integer SUM vector + count: affinity
    against a mean centroid is then (q · s)/c — an exact dot with ONE
    final float64 divide, bit-reproducible on any engine and under any
    partition order (double mean centroids would make the routing
    depend on summation order).

    Exactness ceiling — ENFORCED, not just documented: the routing dot
    multiplies a query component (|q| < 2^20) by a cell SUM component
    (~cell_rows · 2^20), which overflows int64 once a cell passes
    ~2^17 ≈ 1.3e5 vectors. The routing therefore accumulates in
    decimal(38,0) (`dot_dec`) — still exact, still order-independent,
    matching DuckDB's HUGEINT SUM, with the ceiling pushed to ~10^26
    rows/cell. Cells that large are still a quantizer-quality smell
    (IVF guidance is √N cells), but they route correctly.
    """
    cent = (
        base.select(F.col(cell_col).alias("cell"), F.posexplode("emb_q").alias("pos", "v"))
        .groupBy("cell", "pos")
        .agg(F.sum("v").alias("s"))
        .groupBy("cell")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "s"))).getField("s").alias("cent_s"),
        )
        .join(base.groupBy(F.col(cell_col).alias("cell")).agg(F.count("*").alias("c")), "cell")
    )
    q = base.filter(query_pred).select(
        F.col(id_col).alias("qid"), F.col("emb_q").alias("q_emb"), F.col("norm_q").alias("q_norm")
    )
    # route each query to its n_probe nearest centroids (tiny broadcast)
    qc = q.crossJoin(F.broadcast(cent)).select(
        "qid",
        "q_emb",
        "q_norm",
        "cell",
        (dot_dec(F.col("q_emb"), F.col("cent_s")).cast("double") / F.col("c").cast("double")).alias(
            "affinity"
        ),
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("affinity"), F.asc("cell"))
    return (
        qc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("qid", "q_emb", "q_norm", "cell")
    )


def ivf_topk(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-bucketed ANN: centroids from cell means, probe n nearest cells.

    This is the scale path: the corpus is hash-partitioned by cell once
    (at write time it would be bucketed), and each query only scans the
    ``n_probe`` cells whose centroids are nearest — a broadcast of
    |cells| centroids decides the routing, so no corpus shuffle.
    Recall < 1.0 by construction; property-tested against brute force.
    """
    base = with_quantized(emb, emb_col)
    routed = ivf_route(base, query_pred, n_probe=n_probe, id_col=id_col, cell_col=cell_col)
    v = base.select(
        F.col(id_col).alias("nid"), F.col(cell_col).alias("cell"), F.col("emb_q").alias("v_emb"), F.col("norm_q").alias("v_norm")
    )
    pairs = v.join(F.broadcast(routed), "cell").filter(F.col("qid") != F.col("nid"))
    scored = pairs.select(
        "qid", "nid", cosine_q(dot_q(F.col("q_emb"), F.col("v_emb")), F.col("q_norm"), F.col("v_norm")).alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(F.col("rank") <= k).select("qid", "nid", "cosine", "rank")


def _lloyd(train: DataFrame, C, max_iter: int):
    """Lloyd rounds over ``(m, k, sub_dim)`` codebooks ``C`` on the
    ``(id, v)`` rows of ``train``: every row's subvector j joins its
    nearest centroid in codebook j, then each centroid moves to the
    mean of its members. k-means is the m = 1 case (Jégou et al.: PQ
    with one subspace), so `kmeans_assign` and `pq_train_codes` train
    through this one loop. Returns the trained codebooks.

    Deterministic contract: assignment tie-break = lowest cluster (numpy
    argmin's first minimum); empty clusters keep their centroid; updates
    sum QUANTIZED int64 components (np.floor(v·1e6), the same IEEE
    expression as `quantized()` — exact and order-independent, where
    float64 partial sums would drift with partition order) and divide
    once in float64; stop at the first round that moves nothing.

    Scale shape: the codebooks ride to executors in the closure
    (m·k·sub_dim doubles — tiny); each round is ONE Arrow-batched
    mapInPandas scan that assigns AND emits per-(subspace, cluster)
    partial sums, combined across all batches of a task, so per-round
    state is O(m·k·sub_dim·partitions) — never the O(N) a re-join of
    the assignment would cost. The driver runs at most ``max_iter``
    rounds.
    """
    import numpy as np

    def partial_fn(cents):
        Cc = cents.copy()

        def go(it):
            import numpy as _np
            import pandas as _pd

            mm, _kk, ss = Cc.shape
            # combine across ALL Arrow batches of the task before
            # yielding: the partial relation is then ≤ m·k rows per TASK
            # (not per 10k-row batch), which is what makes the one-stage
            # driver fold below scale-safe to bound (guide §2.3,
            # "aggregate before you shuffle" — here: before you collect)
            acc_s: dict = {}
            acc_n: dict = {}
            for pdf in it:
                if len(pdf) == 0:
                    continue
                X = _np.array(list(pdf["v"]), dtype=_np.float64)
                for j in range(mm):
                    Xj = X[:, j * ss : (j + 1) * ss]
                    d2 = ((Xj[:, None, :] - Cc[j][None, :, :]) ** 2).sum(axis=2)
                    cl = d2.argmin(axis=1)  # first-min → lowest cluster
                    Qj = _np.floor(Xj * QUANT_SCALE).astype(_np.int64)
                    uk, cnt = _np.unique(cl, return_counts=True)
                    for idx, c in enumerate(uk):
                        key = (j, int(c))
                        acc_s[key] = acc_s.get(key, 0) + Qj[cl == c].sum(axis=0)
                        acc_n[key] = acc_n.get(key, 0) + int(cnt[idx])
            if acc_s:
                keys = sorted(acc_s)
                yield _pd.DataFrame(
                    {
                        "sub": _np.array([j for j, _ in keys], dtype="int32"),
                        "cluster": _np.array([c for _, c in keys], dtype="int32"),
                        "n": _np.array([acc_n[key] for key in keys], dtype="int64"),
                        "s": [acc_s[key] for key in keys],
                    }
                )

        return go

    # One stage per round when the partials are driver-small (the
    # coarse-quantizer / codebook regime: k ≤ ~1e4 even at 100 TB):
    # collect and fold in numpy instead of map + posexplode/groupBy
    # exchange + reduce (guide §2.4). Integer sums are order-independent,
    # so both folds are bit-identical.
    m, k, sub_dim = C.shape
    n_parts = train.rdd.getNumPartitions()
    direct = n_parts * m * k * sub_dim * 8 <= DIRECT_STATS_BOUND
    for _ in range(max_iter):
        partials = train.mapInPandas(
            partial_fn(C), "sub int, cluster int, n bigint, s array<bigint>"
        )
        acc: dict = {}
        cnt: dict = {}
        if direct:
            for r in partials.collect():
                key = (r.sub, r.cluster)
                acc[key] = acc.get(key, 0) + np.asarray(r.s, dtype=np.int64)
                cnt[key] = cnt.get(key, 0) + r.n
        else:
            # m·k·sub_dim tiny rows after one narrow agg; each pos row
            # carries the (sub, cluster)'s total n (constant across pos)
            stats = (
                partials.select("sub", "cluster", "n", F.posexplode("s").alias("pos", "sv"))
                .groupBy("sub", "cluster", "pos")
                .agg(F.sum("sv").alias("s"), F.sum("n").alias("n"))
                .collect()
            )
            for r in stats:
                key = (r.sub, r.cluster)
                acc.setdefault(key, np.zeros(sub_dim, dtype=np.int64))[r.pos] = r.s
                cnt[key] = r.n
        new_C = C.copy()
        for (j, c), s in acc.items():
            new_C[j, c] = s.astype(np.float64) / (QUANT_SCALE * cnt[(j, c)])
        if np.array_equal(new_C, C):
            break
        C = new_C
    return C


def _assign(narrow: DataFrame, C) -> DataFrame:
    """Nearest centroid of every ``(id, v)`` row against the ``(k, dim)``
    centroids ``C`` → (id, cluster, dist_sq): float64 squared-L2, numpy
    argmin's first minimum = lowest-cluster tie-break, centroids riding
    in the closure. One Arrow-batched narrow pass, no shuffle; the
    kernel is closure-contained (driver-parity rule)."""

    def assign_fn(cents):
        Cc = cents.copy()

        def go(it):
            import numpy as _np
            import pandas as _pd

            for pdf in it:
                if len(pdf) == 0:
                    continue
                M = _np.array(list(pdf["v"]), dtype=_np.float64)
                d2 = ((M[:, None, :] - Cc[None, :, :]) ** 2).sum(axis=2)
                cl = d2.argmin(axis=1)  # first-min → lowest-cluster tie-break
                yield _pd.DataFrame(
                    {"id": pdf["id"].to_numpy(), "cluster": cl.astype("int32"),
                     "dist_sq": d2[_np.arange(len(M)), cl]}
                )

        return go

    return narrow.mapInPandas(assign_fn(C), "id bigint, cluster int, dist_sq double")


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    with_centroids: bool = False,
    sample_n: int | None = None,
):
    """Deterministic Lloyd k-means over an embedding column →
    (id, cluster, dist_sq). Iterative algorithm #2 beside connected
    components — the clustering a corpus-curation pipeline uses for
    domain discovery / IVF coarse quantizers.

    Deterministic contract (reproducible across runs, partitionings and
    engines): init = the k vectors with smallest ids; the rounds are
    `_lloyd` with one subspace (its tie-break, empty-cluster and exact
    int64 update rules apply); the final pass assigns every vector to
    its nearest trained centroid.

    ``sample_n``: the 100 TB knob. Lloyd rounds over the full corpus
    cost max_iter full scans; a coarse quantizer does not need them —
    train on the ``sample_n`` smallest-id vectors (deterministic:
    TakeOrderedAndProject, no RNG, reproducible on any engine), then
    assign the WHOLE corpus in one final pass. ``sample_n=None`` (the
    default, and the oracle-checked config) trains on everything;
    ``sample_n >= N`` is exactly equivalent to None by construction.
    """
    import numpy as np
    from pyspark import StorageLevel

    # NO ensure_min_partitions here, deliberately: Lloyd's per-row work
    # is a handful of flops (k·dim distance terms), so a small compact
    # corpus gains nothing from a 32-way fan-out — it pays 32 task
    # overheads per ROUND (10 rounds × 32 tasks dominated s5's wall
    # time at bench scale). A real lake scan arrives with its natural
    # file/row-group parallelism, which is exactly right for a
    # bandwidth-bound pass.
    narrow = emb.select(
        F.col(id_col).alias("id"),
        F.col(emb_col).cast("array<double>").alias("v"),
    )
    # iterative working set: every Lloyd round re-scans this relation,
    # so persist it once (memory, disk spill) instead of re-reading
    # parquet + re-projecting per round — the canonical Spark iterative-
    # algorithm pattern. Released via unpersist(blocking=False) before
    # returning: the cache pays for itself across the max_iter training
    # rounds; the single final assignment scan recomputes the narrow
    # projection from source, which costs ~one read and frees the
    # corpus-scaled cache instead of leaking it for the session's life
    # (bench runs s4/s5/s6 back to back in one JVM).
    # training set: full corpus, or the sample_n smallest ids (see
    # docstring) — the Lloyd rounds only ever touch `train`
    train = narrow if sample_n is None else narrow.orderBy("id").limit(sample_n)
    train = train.persist(StorageLevel.MEMORY_AND_DISK)
    first = train.orderBy("id").limit(k).collect()
    C0 = np.array([r.v for r in first], dtype=np.float64)
    centroids = _lloyd(train, C0[None], max_iter)[0]
    final = _assign(narrow, centroids).select(
        F.col("id").alias(id_col), "cluster", "dist_sq"
    )
    train.unpersist(blocking=False)
    return (final, centroids) if with_centroids else final


def assign_with_centroids(
    emb: DataFrame,
    centroids,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest FROZEN centroid — the
    serve-time half of `kmeans_assign`, through the SAME `_assign`
    kernel, so every consumer of a trained coarse quantizer (IVF-PQ
    index appends/forgets, the frozen-centroid SemDeDup twin) routes
    identically. ``centroids`` is a (k, dim) float64 ndarray (e.g.
    `kmeans_assign(with_centroids=True)` output, or a persisted index's
    ``_quantizer`` table). Returns (id_col, cluster)."""
    import numpy as np

    narrow = emb.select(
        F.col(id_col).alias("id"), F.col(emb_col).cast("array<double>").alias("v")
    )
    return _assign(narrow, np.asarray(centroids, dtype=np.float64)).select(
        F.col("id").alias(id_col), "cluster"
    )


def pq_train_codes(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    max_iter: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
):
    """Product-quantization codebook training + encoding (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search"): the vector is
    split into ``m`` subvectors, each subspace gets its own k-means
    codebook, and every vector compresses to ``m`` small codes — at
    dim 64 / m=8 / k=16 that's 64 floats → 8 nibbles, the memory-side
    ANN answer at 100 TB (the corpus index fits in RAM when raw
    vectors cannot).

    Deterministic contract (same as `kmeans_assign`, per subspace):
    init = the k smallest-id vectors' subvectors; the rounds are
    `_lloyd`, which trains ALL m subspaces in one pass per round.

    Returns (codes DataFrame (id_col, sub, code), codebooks ndarray
    of shape (m, k, sub_dim)).
    """
    import numpy as np
    from pyspark import StorageLevel

    # natural partitioning, same reasoning as kmeans_assign: per-row
    # Lloyd work is tiny, so fanning a compact corpus out to 32 tasks
    # costs more in per-round scheduling than it buys in parallelism
    narrow = (
        emb.select(F.col(id_col).alias("id"), F.col(emb_col).cast("array<double>").alias("v"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    first = narrow.orderBy("id").limit(k).collect()
    full = np.array([r.v for r in first], dtype=np.float64)
    dim = full.shape[1]
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    sub_dim = dim // m
    # C[j][c] = subvector j of the c-th smallest-id vector
    C0 = full.reshape(k, m, sub_dim).transpose(1, 0, 2).copy()
    C = _lloyd(narrow, C0, max_iter)
    codes = pq_encode(narrow, C, id_col="id", emb_col="v").select(
        F.col("id").alias(id_col), "sub", "code"
    )
    # release the training working set (see kmeans_assign): the lazy
    # codes scan recomputes the narrow projection once from source
    narrow.unpersist(blocking=False)
    return codes, C


def pq_encode(
    emb: DataFrame, C, id_col: str = "vec_id", emb_col: str = "embedding"
) -> DataFrame:
    """Encode a corpus against an already-trained PQ codebook ``C``
    ((m, k, sub_dim) ndarray): (id_col, sub, code). One Arrow-batched
    narrow pass; codebooks ride in the closure. Used by
    `pq_train_codes` on its own training output and by `ivfpq_topk`'s
    sample-trained path (train on a bounded sample, encode everything).
    The kernel is closure-contained (driver-parity rule)."""

    def codes_fn(cents):
        Cc = cents.copy()

        def go(it):
            import numpy as _np
            import pandas as _pd

            mm, _kk, ss = Cc.shape
            for pdf in it:
                if len(pdf) == 0:
                    continue
                X = _np.array(list(pdf["v"]), dtype=_np.float64)
                ids = pdf["id"].to_numpy(dtype=_np.int64)
                n = len(X)
                codes = _np.empty((n, mm), dtype=_np.int32)
                for j in range(mm):
                    Xj = X[:, j * ss : (j + 1) * ss]
                    d2 = ((Xj[:, None, :] - Cc[j][None, :, :]) ** 2).sum(axis=2)
                    codes[:, j] = d2.argmin(axis=1)
                yield _pd.DataFrame(
                    {
                        "id": _np.repeat(ids, mm),
                        "sub": _np.tile(_np.arange(mm, dtype=_np.int32), n),
                        "code": codes.reshape(-1),
                    }
                )

        return go

    narrow = emb.select(
        F.col(id_col).alias("id"), F.col(emb_col).cast("array<double>").alias("v")
    )
    return narrow.mapInPandas(codes_fn(C), "id bigint, sub int, code int").select(
        F.col("id").alias(id_col), "sub", "code"
    )


def adc_lut(
    emb: DataFrame,
    query_pred: Column,
    C,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Per-query asymmetric-distance lookup table against a trained PQ
    codebook ``C`` (ndarray (m, k, sub_dim)): (qid, sub, cluster, dist)
    — m·k exact-int64 cells per query, the broadcast side of every ADC
    scoring join. Shared by `pq_adc_topk` (full-corpus scan) and
    `ivfpq_topk` (candidates restricted to routed IVF cells)."""
    import numpy as np

    m, k, sub_dim = C.shape
    spark = emb.sparkSession
    Cq = np.floor(C * QUANT_SCALE).astype(np.int64)
    cb_rows = [
        (j, c, [int(x) for x in Cq[j, c]]) for j in range(m) for c in range(k)
    ]
    cb = spark.createDataFrame(cb_rows, "sub int, cluster int, cq array<bigint>")
    q = emb.filter(query_pred).select(F.col(id_col).alias("qid"), quantized(emb_col).alias("qq"))
    qsub = q.select(
        "qid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("int").alias("sub"),
                        F.slice("qq", j * sub_dim + 1, sub_dim).alias("qv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("x"),
    ).select("qid", F.col("x.sub").alias("sub"), F.col("x.qv").alias("qv"))
    return qsub.join(F.broadcast(cb), "sub").select(
        "qid",
        "sub",
        "cluster",
        F.aggregate(
            F.zip_with("qv", "cq", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dist"),
    )


def pq_adc_topk(
    emb: DataFrame,
    query_pred: Column,
    m: int = 8,
    k: int = 16,
    max_iter: int = 5,
    topk: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance top-k: the full train→encode→search path.

    ADC (asymmetric distance computation): the query stays exact while
    corpus vectors are looked up by code — distance estimate is
    Σⱼ ‖qⱼ − Cⱼ[codeⱼ(v)]‖². Per query the lookup table is m·k cells
    (tiny, broadcast); scoring touches the CODES relation (m small ints
    per vector), never the raw vectors — that is the entire point of PQ
    at scale.

    Cross-engine exactness: the trained codebook is quantized with the
    repo-standard floor(x·1e6) and the LUT + score are exact int64
    sums, so ranking is bit-deterministic on any engine — the whole
    composite (Lloyd rounds → codes → ADC) is DuckDB-oracle-checkable.
    """
    codes, C = pq_train_codes(emb, m, k, max_iter, id_col, emb_col)
    lut = adc_lut(emb, query_pred, C, id_col=id_col, emb_col=emb_col)
    cd = codes.select(F.col(id_col).alias("nid"), F.col("sub").alias("c_sub"), "code")
    scored = (
        cd.join(
            F.broadcast(lut),
            (cd.c_sub == lut.sub) & (cd.code == lut.cluster),
        )
        .filter(F.col("qid") != F.col("nid"))
        .groupBy("qid", "nid")
        .agg(F.sum("dist").cast("long").alias("est_dist"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("est_dist"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
        .select("qid", "nid", "est_dist", "rank")
    )


def ivf_topk_kmeans(
    emb: DataFrame,
    query_pred: Column,
    k: int = 5,
    n_probe: int = 2,
    n_cells: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    sample_n: int | None = None,
) -> DataFrame:
    """IVF with a REAL trained coarse quantizer: k-means cells instead of
    the label stand-in. Train (kmeans_assign) → bucket by cluster →
    probe the n nearest cells. Same routing/probe machinery as
    `ivf_topk`; at scale the assignment is computed once at write time
    and the corpus is bucketed on it, so queries never shuffle the
    corpus. ``sample_n`` bounds quantizer training to a deterministic
    sample (see kmeans_assign) — the 100 TB config."""
    assign = kmeans_assign(emb, k=n_cells, id_col=id_col, emb_col=emb_col, sample_n=sample_n)
    cells = emb.join(assign.select(id_col, "cluster"), id_col)
    return ivf_topk(cells, query_pred, k=k, n_probe=n_probe, id_col=id_col, emb_col=emb_col, cell_col="cluster")


def ivfpq_topk(
    emb: DataFrame,
    query_pred: Column,
    topk: int = 5,
    n_probe: int = 2,
    n_cells: int = 10,
    m: int = 8,
    k_codes: int = 16,
    pq_iter: int = 5,
    km_iter: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    sample_n: int | None = None,
) -> DataFrame:
    """IVF-PQ: the FAISS ``IVFxx,PQyy`` index shape — coarse k-means
    routing composed with asymmetric-distance scoring over PQ CODES.

    This is the full 100 TB ANN configuration: `ivf_topk_kmeans` still
    reranks candidates against RAW vectors (exact, but the probe must
    read the vector column), while here the probe touches only the
    codes relation (m small ints per vector — the index fits in memory
    when the vectors cannot) plus the per-query m·k LUT. Cost per
    query: |probed cells| · m code lookups, no vector I/O.

    Composition of two independently oracle-checked trainings:
    the coarse quantizer (`kmeans_assign`, s4/s5 contract) and the PQ
    codebooks (`pq_train_codes`, s6 contract) — both exact-int
    deterministic, so the composite ranking (est_dist ASC, nid ASC) is
    bit-reproducible and the whole index remains SQL-oracle-checkable.
    Accuracy = IVF recall × ADC estimate quality; `s7`-style recall
    against brute force is property-tested, and `ivf_topk_kmeans`
    stays the exact-rerank alternative.

    ``sample_n`` bounds BOTH trainings' Lloyd scans (the 100 TB knob);
    None (the oracle-checked config) trains on everything.
    """
    assign = kmeans_assign(
        emb, k=n_cells, max_iter=km_iter, id_col=id_col, emb_col=emb_col, sample_n=sample_n
    )
    # the assignment feeds FOUR consumers through `base` (centroid
    # sums, cell counts, the query projection, the candidate join);
    # materialize it once — at scale this IS the write-time bucketing
    # (d15/d32 checkpoint policy for multi-consumer iterative output)
    assign = assign.select(id_col, "cluster").localCheckpoint(eager=True)
    cells = emb.join(assign, id_col)
    base = with_quantized(cells, emb_col)
    routed = ivf_route(base, query_pred, n_probe=n_probe, id_col=id_col, cell_col="cluster")
    # candidate set: corpus members of each query's probed cells (the
    # routed relation is |queries|·n_probe rows — always broadcast)
    cand = (
        base.select(F.col(id_col).alias("nid"), F.col("cluster").alias("cell"))
        .join(F.broadcast(routed.select("qid", "cell")), "cell")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
    )
    # PQ training bounded by the same sample_n knob as the quantizer
    train = emb if sample_n is None else emb.orderBy(id_col).limit(sample_n)
    codes, C = pq_train_codes(train, m, k_codes, pq_iter, id_col, emb_col)
    if sample_n is not None:
        # encode the WHOLE corpus with the sample-trained codebooks
        codes = pq_encode(emb, C, id_col, emb_col)
    lut = adc_lut(emb, query_pred, C, id_col=id_col, emb_col=emb_col)
    cd = codes.select(F.col(id_col).alias("nid"), F.col("sub").alias("c_sub"), "code")
    scored = (
        cand.join(cd, "nid")
        .join(
            F.broadcast(lut),
            (F.col("c_sub") == lut.sub) & (F.col("code") == lut.cluster) & (cand.qid == lut.qid),
        )
        .groupBy(cand.qid, "nid")
        .agg(F.sum("dist").cast("long").alias("est_dist"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("est_dist"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
        .select("qid", "nid", "est_dist", "rank")
    )


def semdedup(
    emb: DataFrame,
    k: int = 10,
    max_iter: int = 10,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    target_cell_rows: int | None = None,
    sample_n: int | None = None,
    centroids=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space with the deterministic Lloyd quantizer, then look
    for semantic duplicates ONLY within clusters — the paper's trick
    for making embedding dedup sub-quadratic (pair work is Σ|cell|²,
    never N², and each cell's pair join is bucketed by the cluster
    key, so no cross-cell traffic exists at any scale).

    THE scale knob is the cluster count: with k FIXED, cells grow ∝N
    and pair work grows ∝N²/k — quadratic again. The paper scales k
    with corpus size (k=110 000 on LAION-440M ≈ 4 000 rows/cell);
    ``target_cell_rows`` applies that convention automatically:
    k = ceil(N / target_cell_rows) (one O(1) count — the sanctioned
    d24 driver-scalar pattern), which pins per-cell pair work to
    ~target² and makes total work ~N·target, LINEAR in the corpus.
    Explicit ``k`` (the default, oracle-pinned in the registry) wins
    when ``target_cell_rows`` is None. ``sample_n`` bounds the Lloyd
    training scan exactly as in `kmeans_assign` (assignment still
    covers the full corpus).

    Deterministic contract: a vector is a semantic duplicate iff a
    LOWER-id cluster-mate has quantized cosine ≥ ``threshold``;
    ``dup_of`` is the smallest such id (the kept representative —
    min-id election, the d16 keeper convention). Cosine is the exact
    integer-quantized form (`dot_q`/`cosine_q`), so the verdict is
    engine-reproducible; zero-norm vectors are excluded with the usual
    `with_quantized` cosine-domain contract.

    ``centroids`` (a (k, dim) float64 ndarray) REPLACES the Lloyd
    training with frozen-quantizer assignment (`assign_with_centroids`)
    — the production serve-time shape, and the alignment knob for the
    incremental-ingest equivalence contract: batch and incremental must
    bucket with the SAME frozen cells (the `probe_weights` precedent)
    for the within-cell pair decision to be a pure per-pair function.
    ``k``/``target_cell_rows``/``sample_n`` are ignored when it is set.

    Returns (id_col, cluster, is_dup, dup_of)."""
    if centroids is not None:
        assign = assign_with_centroids(emb, centroids, id_col=id_col, emb_col=emb_col)
    else:
        if target_cell_rows is not None:
            n = emb.count()  # O(1) driver scalar (d24 precedent)
            k = max(1, -(-n // int(target_cell_rows)))
        assign = kmeans_assign(
            emb, k=k, max_iter=max_iter, id_col=id_col, emb_col=emb_col, sample_n=sample_n
        ).select(id_col, "cluster")
    base = (
        with_quantized(emb, emb_col)
        .join(assign, id_col)
        .select(id_col, "cluster", "emb_q", "norm_q")
        .localCheckpoint(eager=True)  # consumed 3x below (d15 policy)
    )
    a = base.select(
        "cluster",
        F.col(id_col).alias("a_id"),
        F.col("emb_q").alias("a_emb"),
        F.col("norm_q").alias("a_norm"),
    )
    b = base.select(
        "cluster",
        F.col(id_col).alias("b_id"),
        F.col("emb_q").alias("b_emb"),
        F.col("norm_q").alias("b_norm"),
    )
    close = (
        a.join(b, "cluster")
        .filter(F.col("b_id") < F.col("a_id"))
        .select(
            "a_id",
            "b_id",
            cosine_q(
                dot_q(F.col("a_emb"), F.col("b_emb")),
                F.col("a_norm"),
                F.col("b_norm"),
            ).alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(threshold))
    )
    dups = close.groupBy("a_id").agg(F.min("b_id").alias("dup_of"))
    return (
        base.select(id_col, "cluster")
        .join(dups, F.col(id_col) == F.col("a_id"), "left")
        .select(
            id_col,
            "cluster",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
        )
    )
