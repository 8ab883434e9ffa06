"""Incremental-ingest curation: the production twin of the batch d35
ladder (`plans/curation_pipeline.curate_corpus`).

A 100 TB corpus is not curated in one pass — it arrives as shards
(daily crawls), and re-running the batch ladder over the whole corpus
per shard is the quadratic trap every stage of this repo's index work
exists to avoid. This module composes the four persisted incremental
indexes plus the trained probe into ONE callable that takes a NEW
shard through the whole ladder at per-shard cost:

    shard → d45 fingerprint-registry probe   (exact dedup, no corpus text)
          → d46 MinHash-band index probe     (near-dup, corpus shingled once ever)
          → SEMANTIC dedup, index-served     (frozen coarse-quantizer cells,
                                              exact within-cell cosine at the
                                              s9/s19 0.35 radius — r8 verdict
                                              item 1, the ladder's last rung)
          → heuristic gates (Gopher + repetition, per-doc)
          → d47/d48 FROZEN probe gate        (weights served from the registry)
          → d44 index-served phrase decontam (postings probe + exact verify)
          → append survivors + index deltas  (atomic CAS manifest commits)

and maintains the s8 IVF-PQ dense index alongside (append, no retrain).

Equivalence contract (tests/test_incremental_ingest.py): ingesting the
corpus as consecutive shards and reading the curated state yields,
stage by stage, EXACTLY the per-doc sets of one batch
`curate_corpus(union)` pass (with the batch ladder aligned to the same
frozen probe weights and the same fixed phrase list — the two knobs
that make every stage decision a pure per-doc / per-cluster function
of the union corpus). The mechanism per stage:

* exact: the registry keeper is MIN-associative over append deltas, so
  the read-time keeper equals the batch min-id keeper.
* semantic: cell assignment is FROZEN (the bootstrap-trained coarse
  quantizer both sides bucket with — the `probe_weights` alignment
  precedent), so "same cell ∧ cos ≥ τ ∧ lower id" is a pure per-pair
  function. Edges are stored for every kept-doc pair that satisfies it
  (monotone ids mean a new doc can only ever be the HIGHER side, so the
  edge set is append-only), and the read-time verdict — suppressed iff
  some edge twin is a CURRENT near-dup keeper — re-evaluates as keepers
  retire, which is exactly the batch verdict over the union.
* near-dup: `_clusters` stores (doc_id, root, root_q) rows where the
  root is the cluster keeper under the batch ladder's
  (quality DESC, doc_id ASC) order. That order is a semilattice — a
  cluster's keeper only ever *improves* as clusters grow/merge — so
  "current root" = max-by-(root_q, -root) over all appended rows,
  which is order-independent. When a shard component touches existing
  clusters, the pass appends re-root rows for every member of each
  losing root (including retiring a previously-kept keeper that a
  better shard doc or a bridge defeats) — the read-time keeper set is
  therefore exactly the batch connected-components keeper set.
* gates / probe / decontam: per-doc deterministic flags (frozen
  weights, fixed phrases), computed once at ingest and stored.
* sampling / sharding: global-ratio stages, so they are READ-TIME
  views over the curated state (`temperature_sample_and_shard`, the
  shared batch tail) — never frozen at ingest.

Ingestion-order invariant (asserted): shard doc_ids are strictly
greater than every previously ingested id — the production norm (ids
are assigned monotonically at crawl time). It is what makes the
pass-time "first ingested" exact-dup keeper coincide with the batch
min-id keeper; everything else is order-independent by construction.

Reference analogue: the reference's whole medallion flow is the batch
twin of this (shared/benchmarks/runner.py:95-124 orders
generate→process→build the same way); its incremental half is the
Kafka→bronze→silver streaming path this repo mirrors in
streaming/ingest.py. This module is the LLM-data-pipeline counterpart.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import est_bpe_tokens
from ..operators import dedup as D
from ..operators.manifest import ManifestTable
from .curation_pipeline import EVAL_MOD, _quality_score, temperature_sample_and_shard

#: default benchmark-phrase census (a fixed literal list is what makes
#: the decontam stage order-independent; callers pass their own)
DEFAULT_PHRASES: tuple[tuple[int, str], ...] = (
    (0, "the final answer is"),
    (1, "question answer pairs"),
)

_CLUSTERS = "_clusters"
_CURATED = "_curated"
_LOG = "_ingest_log"
_TRAIN_SCORES = "_train_scores"
_ERASURE_LOG = "_erasure_log"
_VECTORS = "_vectors"
_SEMANTIC = "_semantic"

_MINHASH_PARAMS = {"n": 3, "k": 16, "bands": 4}


def _paths(state_dir: str) -> dict[str, str]:
    return {
        "exact": os.path.join(state_dir, "exact"),
        "minhash": os.path.join(state_dir, "minhash"),
        "lexical": os.path.join(state_dir, "lexical"),
        "ann": os.path.join(state_dir, "ann"),
        "probe": os.path.join(state_dir, "probe"),
        "clusters": os.path.join(state_dir, _CLUSTERS),
        "curated": os.path.join(state_dir, _CURATED),
        "log": os.path.join(state_dir, _LOG),
        "train_scores": os.path.join(state_dir, _TRAIN_SCORES),
        "erasure_log": os.path.join(state_dir, _ERASURE_LOG),
        "vectors": os.path.join(state_dir, _VECTORS),
        "semantic": os.path.join(state_dir, _SEMANTIC),
    }


@dataclass(frozen=True)
class IngestReport:
    """One pass's funnel — the per-shard audit row, also persisted in
    the ``_ingest_log`` ManifestTable."""

    pass_id: int
    n_raw: int
    n_new: int  # first-anywhere exact-unique docs
    n_dup_of_corpus: int
    n_dup_in_shard: int
    n_kept: int  # near-dup keepers among the new docs
    n_retired: int  # previously-kept keepers this shard defeats
    n_sem_kept: int  # kept ∧ no live semantic twin (== n_kept, rung off)
    n_gate_pass: int  # semantic ∧ Gopher ∧ ¬repetitive
    n_probe_pass: int  # gate ∧ (frozen-probe accept ∨ eval bypass)
    n_decontam_pass: int  # probe ∧ train-side ∧ ¬phrase-contaminated

    def as_dict(self) -> dict[str, int]:
        return {
            "pass": self.pass_id,
            "shard_raw": self.n_raw,
            "exact_new": self.n_new,
            "dup_of_corpus": self.n_dup_of_corpus,
            "dup_in_shard": self.n_dup_in_shard,
            "neardup_kept": self.n_kept,
            "retired_keepers": self.n_retired,
            "semantic_keep": self.n_sem_kept,
            "gate_pass": self.n_gate_pass,
            "probe_pass": self.n_probe_pass,
            "decontam_pass": self.n_decontam_pass,
        }


def clusters_current(spark: SparkSession, state_dir: str) -> DataFrame:
    """(doc_id, root, root_q) — each exact-unique doc's CURRENT cluster
    keeper. Roots only improve in (quality, -id) order as clusters grow
    and merge, so the current row is the max-by-(root_q, -root) over
    all appended rows: associative, order-independent, one shuffle over
    ~50-byte metadata rows (never text)."""
    rows = ManifestTable(_paths(state_dir)["clusters"]).read(spark)
    best = rows.groupBy("doc_id").agg(
        F.max(F.struct(F.col("root_q"), (-F.col("root")).alias("_neg"))).alias("_b")
    )
    return best.select(
        "doc_id",
        (-F.col("_b._neg")).cast("long").alias("root"),
        F.col("_b.root_q").alias("root_q"),
    )


def ingest_shard(
    spark: SparkSession,
    state_dir: str,
    shard: DataFrame,
    shard_emb: DataFrame | None = None,
    *,
    eval_mod: int = EVAL_MOD,
    phrases: tuple[tuple[int, str], ...] = DEFAULT_PHRASES,
    probe_iters: int = 20,
    ann_cells: int = 4,
    ann_m: int = 4,
    ann_codes: int = 8,
    semantic: bool | None = None,
    semantic_threshold: float = 0.35,
) -> IngestReport:
    """Take one NEW shard through the whole incremental ladder and
    append survivors + index deltas. First call on an empty state dir
    bootstraps: builds all four indexes from the shard and trains +
    persists the probe (frozen thereafter — FineWeb's
    train-once/apply-to-the-crawl shape).

    ``semantic`` (default: on exactly when ``shard_emb`` is given)
    inserts the SEMANTIC rung between near-dup keeper selection and the
    gates — the SemDeDup pipeline position, served INCREMENTALLY from
    the plan's own dense-index state: each kept doc routes through the
    bootstrap-frozen coarse quantizer (`_quantizer`, the same cells the
    s8 index buckets by), its cell's stored survivor vectors are
    range-scanned at the exact ``semantic_threshold`` cosine radius
    (s19's kernel over the persisted `_vectors` cell store — only the
    shard's touched cells are read, stats-pruned), and the resulting
    (doc, lower-id twin) edges land in `_semantic`. Suppression is
    READ-TIME: a doc is a semantic dup iff some edge twin is a CURRENT
    near-dup keeper, so keeper retirement re-evaluates the verdict
    exactly like one batch `curate_corpus(semantic_dedup=True,
    semantic_centroids=frozen_centroids(...))` pass over the union
    (the equivalence test's semantic stage). Requires the bootstrap
    pass to have provided ``shard_emb`` (it trains the quantizer).

    Scale shape per pass: every stage touches SHARD-sized data plus
    index metadata — fingerprints via one shard projection + a
    registry join; near-dup via ONE shard shingling pass shared by the
    within-shard band join, the persisted-band probe (from the second
    pass on) and the index append, its signatures cached until
    connected components has checkpointed the edges; gates/probe/
    decontam are narrow projections (the decontam candidates come from
    the stats-pruned postings probe); appends are CAS manifest commits
    (racing loaders rebase + retry). The corpus is never re-read."""
    from ..operators.quality import (
        gopher_quality_rules,
        load_probe,
        probe_banded_decision,
        repetition_stats,
        save_probe,
        score_with_probe,
        train_quality_probe,
    )
    from ..operators.retrieval import (
        append_to_lexical_index,
        phrase_hits,
        write_lexical_index,
    )

    p = _paths(state_dir)
    # before ManifestTable(): its constructor mkdirs the manifest dir
    bootstrap = not os.path.isdir(os.path.join(p["log"], "_manifests"))
    log_t = ManifestTable(p["log"])
    if not bootstrap and not log_t.versions():
        bootstrap = True  # a crashed bootstrap left no committed log row

    shard = shard.localCheckpoint(eager=True)  # many consumers below
    mm = shard.agg(
        F.count("*").alias("n"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ).first()
    n_raw, lo = int(mm["n"]), int(mm["lo"] if mm["lo"] is not None else 0)
    if n_raw == 0:
        raise ValueError("ingest_shard: empty shard")
    if not bootstrap:
        prev = log_t.read(spark)
        prev_hi = int(prev.agg(F.max("max_doc_id")).first()[0])
        pass_id = int(prev.agg(F.max("pass_id")).first()[0]) + 1
        if lo <= prev_hi:
            raise ValueError(
                f"ingest_shard: monotone-id invariant violated — shard min "
                f"doc_id {lo} <= already-ingested max {prev_hi}; the "
                "incremental≡batch keeper contract needs ingestion-ordered ids"
            )
    else:
        pass_id = 0

    # ---- rung 1: exact dedup against the persisted fingerprint registry
    if bootstrap:
        registry = spark.createDataFrame(
            [], "fingerprint string, keeper bigint, n_copies bigint"
        )
    else:
        registry = D.read_fingerprint_registry(spark, p["exact"])
    classified = D.incremental_exact_dedup(shard, registry).localCheckpoint(eager=True)
    if bootstrap:
        D.write_fingerprint_registry(shard, p["exact"])
    else:
        D.append_fingerprint_registry(shard, p["exact"])
    new_docs = shard.join(
        classified.filter(F.col("status") == "new").select("doc_id"), "doc_id"
    ).localCheckpoint(eager=True)

    # ---- rung 2: near-dup via the persisted MinHash-band index.
    # ONE shingling pass over the shard serves all three consumers.
    parts = D._minhash_index_parts(
        new_docs, _MINHASH_PARAMS["n"], _MINHASH_PARAMS["k"],
        _MINHASH_PARAMS["bands"], "text", "doc_id",
    )
    within = D.minhash_candidate_pairs(
        new_docs, **_MINHASH_PARAMS, wide=parts[1]
    ).select("d1", "d2")
    if bootstrap:
        cross = spark.createDataFrame([], "new_id bigint, old_root bigint")
        cur = spark.createDataFrame([], "doc_id bigint, root bigint, root_q double")
    else:
        cur = clusters_current(spark, state_dir).localCheckpoint(eager=True)
        # root >= 0 drops erasure tombstones (`forget_docs` re-roots an
        # erased keeper's members to root=-1): tombstoned members are
        # retired evidence — quasi-copies of erased content — so they
        # neither root new clusters nor pull new docs into one (a shared
        # -1 node would otherwise bridge unrelated erased clusters)
        cross = (
            D.minhash_index_probe(spark, new_docs, p["minhash"], **_MINHASH_PARAMS, parts=parts)
            .select("new_id", "old_id")
            .distinct()
            .join(cur.select(F.col("doc_id").alias("old_id"), "root"), "old_id")
            .filter(F.col("root") >= 0)
            .select("new_id", F.col("root").alias("old_root"))
            .distinct()
        )
    # an append to the empty bootstrap index commits what a write would
    D.append_minhash_index(new_docs, p["minhash"], **_MINHASH_PARAMS, parts=parts)

    # connected components over the CONTRACTED graph: within-shard pairs
    # plus (shard doc ↔ existing cluster keeper) edges — contraction
    # preserves connectivity, so components equal the batch CC over the
    # union's exact-unique docs restricted to this shard's reach.
    edges = within.unionByName(
        cross.select(F.col("new_id").alias("d1"), F.col("old_root").alias("d2"))
    )
    comp = D.connected_components(edges).select("node", "cluster_id")
    # CC checkpoints the edges eagerly, so the signatures are spent
    parts[1].unpersist(blocking=False)
    q_new = _quality_score(new_docs).localCheckpoint(eager=True)

    old_roots = (
        cur.filter(F.col("root") >= 0)  # erasure tombstones are not roots
        .select(F.col("root").alias("node"), F.col("root_q").alias("q"))
        .distinct()
    )
    members = (
        q_new.select(F.col("doc_id").alias("node"), F.col("quality_score").alias("q"))
        .unionByName(old_roots)
        .join(comp, "node")
    )
    winners = members.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("q"), (-F.col("node")).alias("_neg"))).alias("_w")
    ).select(
        "cluster_id",
        (-F.col("_w._neg")).cast("long").alias("winner"),
        F.col("_w.q").alias("winner_q"),
    )

    # new cluster rows for every shard exact-unique doc
    in_comp = (
        q_new.select(F.col("doc_id").alias("node"), "quality_score")
        .join(comp, "node")
        .join(winners, "cluster_id")
        .select(
            F.col("node").alias("doc_id"),
            F.col("winner").alias("root"),
            F.col("winner_q").alias("root_q"),
        )
    )
    singles = (
        q_new.join(comp.select(F.col("node").alias("doc_id")), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.col("doc_id").alias("root"),
            F.col("quality_score").alias("root_q"),
        )
    )
    shard_rows = in_comp.unionByName(singles)

    # re-root rows: every member of a losing existing cluster moves to
    # the merged winner (this is what retires a previously-kept keeper
    # when a better shard doc — or a bridge to a better cluster — wins)
    losing = (
        old_roots.join(comp, "node")
        .join(winners, "cluster_id")
        .filter(F.col("node") != F.col("winner"))
        .select(F.col("node").alias("old_root"), "winner", "winner_q")
    )
    reroot = (
        cur.join(F.broadcast(losing), cur.root == losing.old_root)
        .select(
            "doc_id",
            F.col("winner").alias("root"),
            F.col("winner_q").alias("root_q"),
        )
    )
    all_rows = shard_rows.unionByName(reroot).localCheckpoint(eager=True)
    clusters_t = ManifestTable(p["clusters"])
    if bootstrap:
        clusters_t.write(all_rows, cluster_by=["doc_id"])
    else:
        clusters_t.append_with_retry(all_rows, cluster_by=["doc_id"])
    n_retired = losing.select("old_root").distinct().count()

    kept = new_docs.join(
        shard_rows.filter(F.col("root") == F.col("doc_id")).select("doc_id"), "doc_id"
    ).localCheckpoint(eager=True)

    # ---- dense index (serving ANN over the exact-unique corpus).
    # BEFORE the semantic rung: the bootstrap write trains the frozen
    # coarse quantizer (`_quantizer`) the semantic probe routes through.
    if shard_emb is not None:
        from ..operators.ann_index import append_to_ivfpq_index, write_ivfpq_index

        emb_new = shard_emb.join(
            new_docs.select(F.col("doc_id").alias("vec_id")), "vec_id"
        )
        if bootstrap:
            write_ivfpq_index(
                emb_new, p["ann"], n_cells=ann_cells, m=ann_m, k_codes=ann_codes,
                manifest_codes=True,
            )
        else:
            append_to_ivfpq_index(spark, p["ann"], emb_new)

    # ---- rung 2b: SEMANTIC dedup, index-served (see docstring)
    if semantic is None:
        semantic = shard_emb is not None
    if semantic:
        pass_sem_ids = _semantic_ingest(
            spark, state_dir, kept, shard_emb, semantic_threshold, bootstrap
        )
    else:
        pass_sem_ids = kept.select("doc_id").localCheckpoint(eager=True)
    n_sem_kept = pass_sem_ids.count()

    # ---- gates: Gopher + repetition (per-doc heuristics)
    gates = (
        kept.join(gopher_quality_rules(kept).select("doc_id", "passes_gopher"), "doc_id")
        .join(repetition_stats(kept).select("doc_id", "is_repetitive"), "doc_id", "left")
        .select(
            "doc_id",
            (
                F.col("passes_gopher")
                & ~F.coalesce("is_repetitive", F.lit(False))
            ).alias("passes_gates"),
        )
    )

    # ---- probe gate: train+freeze at bootstrap, serve frozen after.
    # The training corpus is the gates' own input — the semantic
    # survivors — matching the batch ladder's probe position.
    if bootstrap:
        gate_pass_docs = kept.join(pass_sem_ids, "doc_id").join(
            gates.filter("passes_gates").select("doc_id"), "doc_id"
        )
        weights, _scored = train_quality_probe(gate_pass_docs, iters=probe_iters, lr_den=1)
        save_probe(spark, p["probe"], weights, meta={"iters": probe_iters, "lr_den": 1})
        ManifestTable(p["train_scores"]).write(
            score_with_probe(gate_pass_docs, weights).select("doc_id", "score_micro")
        )
        probe_v_at_load = None  # bootstrap IS the trainer; nothing to race
    else:
        # record the registry version BEFORE loading the weights: if a
        # retrain commits in between, the post-commit fence sees the
        # version move and re-scores with the (idempotent) new weights
        probe_v_at_load = ManifestTable(p["probe"]).snapshot().version
        weights = load_probe(spark, p["probe"])
    decided = probe_banded_decision(
        score_with_probe(kept, weights, keep_cols=("source",))
    ).select("doc_id", "score_micro", "accepted")

    # ---- decontam: index-served phrase census (d44's two-phase kernel)
    if bootstrap:
        write_lexical_index(new_docs, p["lexical"])
    else:
        append_to_lexical_index(new_docs, p["lexical"])
    contaminated = (
        phrase_hits(spark, p["lexical"], kept, phrases).select("doc_id").distinct()
        .withColumn("is_contaminated", F.lit(True))
    )

    # ---- curated flag rows (one per kept-at-ingest doc; the read-time
    # view re-filters by the CURRENT root, so later retirement is free)
    u16 = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
    )
    flags = (
        kept.select("doc_id", "source", est_bpe_tokens("text").alias("est_tokens"))
        .withColumn("_u16", u16)
        .join(gates, "doc_id")
        .join(decided, "doc_id")
        .join(contaminated, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "est_tokens",
            "_u16",
            "passes_gates",
            F.col("accepted").alias("probe_accepted"),
            "score_micro",
            (F.col("doc_id") % eval_mod == 0).alias("is_eval"),
            F.coalesce("is_contaminated", F.lit(False)).alias("is_contaminated"),
            F.lit(pass_id).cast("long").alias("pass_id"),
        )
        .localCheckpoint(eager=True)
    )
    curated_t = ManifestTable(p["curated"])
    if bootstrap:
        curated_t.write(flags, cluster_by=["doc_id"])
    else:
        curated_t.append_with_retry(flags, cluster_by=["doc_id"])
        # post-commit freshness fence (the other half of retrain_probe's
        # concurrency contract): if a retrain re-versioned the weights
        # between our load and our commit, our rows may carry retired-
        # weight scores the retrain's backfill never saw — re-score our
        # own rows with the served weights and rewrite them
        flags = _reconcile_probe_freshness(
            spark, p["probe"], curated_t, flags, kept, probe_v_at_load
        )

    # ---- funnel counts + persisted log row (the gate/probe/decontam
    # stages count within this pass's SEMANTIC survivors, matching the
    # batch funnel's stage order; the flags themselves are stored for
    # every kept doc — per-doc pure — so read-time re-filtering under a
    # later semantic/keeper change needs no recompute)
    by_status = {
        r["status"]: r["n"]
        for r in classified.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    sem_flags = flags.join(pass_sem_ids, "doc_id")
    n_gate = sem_flags.filter("passes_gates").count()
    n_probe = sem_flags.filter(
        F.col("passes_gates") & (F.col("probe_accepted") | F.col("is_eval"))
    ).count()
    n_decon = sem_flags.filter(
        F.col("passes_gates")
        & (F.col("probe_accepted") | F.col("is_eval"))
        & ~F.col("is_eval")
        & ~F.col("is_contaminated")
    ).count()
    report = IngestReport(
        pass_id=pass_id,
        n_raw=n_raw,
        n_new=int(by_status.get("new", 0)),
        n_dup_of_corpus=int(by_status.get("dup_of_corpus", 0)),
        n_dup_in_shard=int(by_status.get("dup_in_shard", 0)),
        n_kept=kept.count(),
        n_retired=int(n_retired),
        n_sem_kept=int(n_sem_kept),
        n_gate_pass=int(n_gate),
        n_probe_pass=int(n_probe),
        n_decontam_pass=int(n_decon),
    )
    row = spark.createDataFrame(
        [
            (
                pass_id, n_raw, lo, int(mm["hi"]), report.n_new,
                report.n_dup_of_corpus, report.n_dup_in_shard, report.n_kept,
                report.n_retired, report.n_sem_kept, report.n_gate_pass,
                report.n_probe_pass, report.n_decontam_pass,
            )
        ],
        "pass_id long, n_raw long, min_doc_id long, max_doc_id long, n_new long, "
        "n_dup_of_corpus long, n_dup_in_shard long, n_kept long, n_retired long, "
        "n_sem_kept long, n_gate_pass long, n_probe_pass long, n_decontam_pass long",
    )
    if bootstrap:
        log_t.write(row.coalesce(1))
    else:
        log_t.append_with_retry(row.coalesce(1))
    return report


def _reconcile_probe_freshness(
    spark: SparkSession,
    probe_path: str,
    curated_t: ManifestTable,
    own_flags: DataFrame,
    kept: DataFrame,
    probe_v_at_load: int,
    max_attempts: int = 5,
) -> DataFrame:
    """Ingest-side half of the retrain_probe concurrency contract.

    `retrain_probe` CASes its backfill on the flags snapshot it read,
    so an append landing BEFORE the backfill is rebased and re-scored
    by the retrainer. The one interleaving the retrainer cannot see is
    an append landing AFTER its backfill committed, scored with weights
    loaded BEFORE `save_probe` re-versioned the registry — those rows
    would silently serve retired-weight scores forever. This fence
    closes it: after the flag commit, re-read the probe registry
    version; if it moved since the weights were loaded, re-score OUR
    OWN rows (we still hold the shard text in ``kept``) with the served
    weights and rewrite them under a version CAS, then re-check —
    bounded optimistic validation, the same loop every other writer
    here runs. Re-scoring is idempotent (deterministic fixed-point
    scoring), so racing the retrainer's own backfill over the same rows
    converges on identical values. Cost on the no-race path: one O(1)
    manifest-version stat; the O(flags) rewrite happens only when a
    retrain actually raced this ingest."""
    from ..operators.manifest import CommitConflict
    from ..operators.quality import load_probe, probe_banded_decision, score_with_probe

    probe_t = ManifestTable(probe_path)
    cols = own_flags.columns
    for _ in range(max_attempts):
        pv = probe_t.snapshot().version
        if pv == probe_v_at_load:
            return own_flags
        weights = load_probe(spark, probe_path)
        decided = probe_banded_decision(
            score_with_probe(kept, weights, keep_cols=("source",))
        ).select(
            "doc_id",
            F.col("score_micro").alias("_new_score"),
            F.col("accepted").alias("_new_acc"),
        )
        healed = (
            own_flags.join(decided, "doc_id")
            .select(
                *[
                    F.col("_new_acc").alias("probe_accepted") if c == "probe_accepted"
                    else F.col("_new_score").alias("score_micro") if c == "score_micro"
                    else c
                    for c in cols
                ]
            )
            .localCheckpoint(eager=True)  # materialize before the rewrite
        )
        last: Exception | None = None
        for _w in range(max_attempts):
            cur_v = curated_t.snapshot().version
            others = (
                curated_t.read(spark, version=cur_v)
                .join(healed.select("doc_id"), "doc_id", "left_anti")
                .select(*cols)
            )
            try:
                curated_t.write(
                    others.unionByName(healed),
                    mode="overwrite",
                    cluster_by=["doc_id"],
                    expected_base_version=cur_v,
                )
                break
            except CommitConflict as exc:
                last = exc  # another writer moved the table; rebase and retry
        else:
            raise CommitConflict(
                f"probe-freshness heal lost the flags version race "
                f"{max_attempts} times: {last}"
            )
        own_flags, probe_v_at_load = healed, pv  # loop: re-check for a newer retrain
    raise CommitConflict(
        f"probe registry kept re-versioning across {max_attempts} heal rounds"
    )


def frozen_centroids(spark: SparkSession, state_dir: str):
    """The bootstrap-trained coarse quantizer (the plan's IVF-PQ
    ``_quantizer`` table) as a (k, dim) float64 ndarray — the alignment
    input for ``curate_corpus(semantic_centroids=...)`` so batch and
    incremental bucket the semantic stage with the SAME frozen cells
    (the `probe_weights` precedent)."""
    import numpy as np

    q = spark.read.parquet(os.path.join(_paths(state_dir)["ann"], "_quantizer"))
    return np.array(
        [r.cent_f for r in q.orderBy("cluster").collect()], dtype=np.float64
    )


def _semantic_ingest(
    spark: SparkSession,
    state_dir: str,
    kept: DataFrame,
    shard_emb: DataFrame | None,
    threshold: float,
    bootstrap: bool,
) -> DataFrame:
    """The semantic rung's per-pass work: route this pass's kept docs
    through the FROZEN coarse quantizer, range-scan ONLY their cells of
    the persisted `_vectors` survivor store at the exact quantized
    cosine radius (s19's kernel, index-served), append the
    (doc_id, lower-id twin) edges + this pass's vectors, and return the
    pass's semantic survivors (kept docs with no live twin).

    Scale shape: the shard side is broadcast into an equi-join on the
    cell key (a daily shard ≪ the corpus; a shuffle join on the
    low-cardinality cell column would skew instead), the corpus side is
    the stats-pruned read of the touched cells' files only, and the
    within-shard half self-joins on the same cell key — per-pass pair
    work is exactly SemDeDup's Σ|shard∩cell|·|cell|, linear in the
    shard. Monotone ids make the edge relation append-only (a new doc
    is always the HIGHER side), and zero-norm / embedding-less docs
    pass through unjudged on both engines (the `with_quantized` /
    inner-join contract the batch stage shares)."""
    import numpy as np

    from ..operators.similarity import (
        assign_with_centroids,
        cosine_q,
        dot_q,
        with_quantized,
    )

    p = _paths(state_dir)
    if shard_emb is None:
        raise ValueError("ingest_shard: the semantic rung needs shard_emb")
    quant_dir = os.path.join(p["ann"], "_quantizer")
    if not os.path.isdir(quant_dir):
        raise ValueError(
            "ingest_shard: the semantic rung serves from the IVF-PQ coarse "
            "quantizer trained at bootstrap — the bootstrap pass must have "
            "provided shard_emb"
        )
    cents = np.array(
        [r.cent_f for r in spark.read.parquet(quant_dir).orderBy("cluster").collect()],
        dtype=np.float64,
    )
    kept_emb = shard_emb.join(
        kept.select(F.col("doc_id").alias("vec_id")), "vec_id"
    )
    assign = assign_with_centroids(kept_emb, cents)
    new_vecs = (
        with_quantized(kept_emb, "embedding")
        .join(assign, "vec_id")
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cell"),
            "emb_q",
            "norm_q",
        )
        .localCheckpoint(eager=True)  # 3 consumers: within, cross, the append
    )
    a = new_vecs.select(
        "cell",
        F.col("vec_id").alias("doc_id"),
        F.col("emb_q").alias("a_emb"),
        F.col("norm_q").alias("a_norm"),
    )
    close = F.col("_cos") >= F.lit(threshold)
    within = (
        a.join(
            new_vecs.select(
                "cell",
                F.col("vec_id").alias("twin"),
                F.col("emb_q").alias("b_emb"),
                F.col("norm_q").alias("b_norm"),
            ),
            "cell",
        )
        .filter(F.col("twin") < F.col("doc_id"))
        .withColumn(
            "_cos",
            cosine_q(dot_q(F.col("a_emb"), F.col("b_emb")), F.col("a_norm"), F.col("b_norm")),
        )
        .filter(close)
        .select("doc_id", "twin")
    )
    vec_t = ManifestTable(p["vectors"])
    if not bootstrap and not vec_t.versions():
        # the quantizer exists (checked above) but the bootstrap pass
        # never committed a `_vectors` snapshot: it ran with the rung
        # DISABLED. Proceeding would create the survivor store fresh —
        # the bootstrap's kept docs would silently never be semantic
        # candidates, and the incremental view would diverge from the
        # batch semantic_dedup=True rebuild instead of erroring (the
        # missing-quantizer ValueError's mirror).
        raise ValueError(
            "ingest_shard: the semantic rung is enabled on this pass but the "
            "bootstrap pass ran with it disabled (_vectors has no committed "
            "snapshot while the quantizer exists) — re-bootstrap with the "
            "rung enabled, or keep it disabled consistently"
        )
    # a bootstrap that indexed zero vectors (all zero-norm / no embedded
    # kept docs) commits a file-less snapshot — nothing to probe against
    has_corpus = not bootstrap and bool(vec_t.snapshot().files)
    if not has_corpus:
        edges = within
    else:
        # the touched-cell list is an O(n_cells) driver scalar
        cells = sorted(int(r.cell) for r in new_vecs.select("cell").distinct().collect())
        old = vec_t.read_any_of(spark, "cell", cells).select(
            "cell",
            F.col("vec_id").alias("twin"),
            F.col("emb_q").alias("b_emb"),
            F.col("norm_q").alias("b_norm"),
        )
        cross = (
            old.join(F.broadcast(a), "cell")
            .filter(F.col("twin") < F.col("doc_id"))
            .withColumn(
                "_cos",
                cosine_q(
                    dot_q(F.col("a_emb"), F.col("b_emb")), F.col("a_norm"), F.col("b_norm")
                ),
            )
            .filter(close)
            .select("doc_id", "twin")
        )
        edges = within.unionByName(cross)
    edges = edges.localCheckpoint(eager=True)  # consumed by append + the verdict
    sem_t = ManifestTable(p["semantic"])
    if bootstrap:
        sem_t.write(edges, cluster_by=["doc_id"])
        vec_t.write(new_vecs, cluster_by=["cell"])
    else:
        sem_t.append_with_retry(edges, cluster_by=["doc_id"])
        vec_t.append_with_retry(new_vecs, cluster_by=["cell"])
    # this pass's semantic survivors: kept docs with no edge to a twin
    # that is a CURRENT near-dup keeper (post-append cluster state)
    kept_now = (
        clusters_current(spark, state_dir)
        .filter(F.col("root") == F.col("doc_id"))
        .select(F.col("doc_id").alias("twin"))
    )
    suppressed = edges.join(kept_now, "twin").select("doc_id").distinct()
    return (
        kept.select("doc_id")
        .join(suppressed, "doc_id", "left_anti")
        .localCheckpoint(eager=True)  # consumers: count, probe training, flag counts
    )


def stage_sets(spark: SparkSession, state_dir: str) -> dict[str, DataFrame]:
    """Read-time per-stage doc-id sets over the curated state — the
    frames the batch `CurationRun` exposes, derived from appended
    deltas only (the equivalence-test surface). The semantic verdict is
    evaluated HERE, not frozen at ingest: a doc is a semantic dup iff
    some stored edge twin is a current near-dup keeper — so keeper
    retirement (or twin erasure) re-opens the doc exactly like a batch
    rebuild over the survivors would."""
    p = _paths(state_dir)
    cur = clusters_current(spark, state_dir)
    kept_ids = cur.filter(F.col("root") == F.col("doc_id")).select("doc_id")
    sem_t = ManifestTable(p["semantic"])
    if sem_t.versions():
        live = (
            sem_t.read(spark)
            .join(kept_ids.select(F.col("doc_id").alias("twin")), "twin")
            .select("doc_id")
            .distinct()
        )
        sem_ids = kept_ids.join(live, "doc_id", "left_anti")
    else:
        sem_ids = kept_ids
    flags = ManifestTable(p["curated"]).read(spark).join(sem_ids, "doc_id")
    gate = flags.filter("passes_gates")
    probe = gate.filter(F.col("probe_accepted") | F.col("is_eval"))
    decon = probe.filter(~F.col("is_eval") & ~F.col("is_contaminated"))
    return {
        "exact_unique": cur.select("doc_id"),
        "neardup_keep": kept_ids,
        "semantic_keep": sem_ids,
        "quality_pass": gate.select("doc_id"),
        "probe_keep": probe.select("doc_id"),
        "decontaminated": decon.select("doc_id"),
        "_decon_flags": decon,  # (doc_id, source, est_tokens, _u16, ...)
    }


def probe_drift_vs_training(
    spark: SparkSession, state_dir: str, shard: DataFrame
) -> DataFrame:
    """The served-model retrain trigger (registry d50's kernel over the
    PERSISTED state): exact two-sample KS between the stored
    training-score distribution (``_train_scores``, written once at
    bootstrap) and ``shard`` scored with the frozen registry weights.
    One row (n_a, n_b, d_num, ks_d, ks_crit, drift) — schedule a probe
    retrain (and a curated backfill re-score) when ``drift`` fires, the
    s12 cell-census analogue for the quality model. Never touches the
    training corpus: the training side is the persisted score relation,
    the shard side one narrow projection."""
    from ..operators.quality import exact_ks_counts, load_probe, score_with_probe

    p = _paths(state_dir)
    weights = load_probe(spark, p["probe"])
    a = (
        ManifestTable(p["train_scores"])
        .read(spark)
        .groupBy(F.col("score_micro").alias("v"))
        .agg(F.count("*").alias("cnt"))
    )
    b = (
        score_with_probe(shard, weights)
        .groupBy(F.col("score_micro").alias("v"))
        .agg(F.count("*").alias("cnt"))
    )
    return exact_ks_counts(a, b)


def retrain_probe(
    spark: SparkSession,
    state_dir: str,
    docs: DataFrame,
    probe_iters: int = 20,
) -> dict[str, int]:
    """Close the d50 drift loop: when `probe_drift_vs_training` fires,
    retrain the quality probe on the CURRENT curated population and
    backfill every served decision — the periodic retrain-and-re-score
    cycle a production quality model actually runs (FineWeb-Edu's
    retrain cadence), composed from the already-verified kernels:

    1. **Retrain** on the gates' own current input — the kept ∧
       semantic ∧ gate-passing survivors (`stage_sets`'s
       ``quality_pass``), exactly the population the bootstrap trained
       on, now grown by every ingested shard. Same fixed-point-GD
       config as bootstrap (d47's deterministic contract).
    2. **Re-version the registry**: `save_probe` is an atomic manifest
       overwrite, so every later `ingest_shard` serves the new weights
       with no half-updated vector ever visible; ``_train_scores`` is
       REPLACED with the new population's scores — the d50 baseline
       must track the model actually being served, which is what makes
       the monitor fire again only on drift *beyond the retrain*.
    3. **Backfill**: re-score every ``_curated`` flag row with the new
       weights and rewrite ``probe_accepted``/``score_micro``
       (per-doc pure flags — every other column carries over), one
       atomic overwrite. After it, `stage_sets` equals a batch
       `curate_corpus(probe_weights=<new>)` pass over the union again
       — the incremental≡batch contract survives the retrain
       (equivalence-tested).

    ``docs`` is the text relation (the plan persists no document text);
    it must cover every flagged doc_id — checked UP FRONT, so a gap
    raises before anything mutates (a mid-backfill failure would leave
    the registry re-versioned while flags still carry the retired
    model). Cost: one
    training pass over the curated survivors + one narrow re-scoring
    projection over the flagged ids joined to the lake — the corpus'
    raw shards are never re-deduplicated, no index is touched.

    **Safe under concurrent `ingest_shard`** (the optimistic-
    concurrency pair to the ingest side's post-commit freshness fence):
    the backfill overwrite CASes on the flags snapshot it decided from
    (``expected_base_version``), so a flag append that lands first
    surfaces as `CommitConflict` and the backfill REBASES — re-reads
    the flags, re-scores only the delta rows with the new weights
    (they must be covered by ``docs``; an uncovered delta id raises
    loudly naming the remedy instead of silently serving retired-weight
    scores), and retries. An append that lands AFTER the backfill
    committed is healed from the other side: `ingest_shard` re-checks
    the probe-registry version after its flag commit and re-scores its
    own rows when a retrain raced it. Between the two, no terminal
    state leaves a flag row scored with retired weights. NOT safe
    against a concurrent `retrain_probe` (single-retrainer by contract
    — retrains are operator-initiated) or a concurrent `forget_docs`
    (the rebase re-adds rows an interleaved erasure removed — quiesce
    erasure during a retrain).
    Returns {"n_train", "n_rescored", "n_flipped"}."""
    from ..operators.quality import (
        probe_banded_decision,
        save_probe,
        score_with_probe,
        train_quality_probe,
    )

    p = _paths(state_dir)
    # coverage check FIRST, before anything mutates: a gap discovered
    # mid-backfill would leave the registry re-versioned while the
    # flags still carry the retired model's decisions — every later
    # shard would then be judged inconsistently with the stored flags
    flags_t = ManifestTable(p["curated"])
    base_v = flags_t.snapshot().version  # the snapshot the backfill CASes on
    flags = flags_t.read(spark, version=base_v)
    missing = (
        flags.select("doc_id")
        .join(docs.select("doc_id"), "doc_id", "left_anti")
        .limit(1)
        .collect()
    )
    if missing:
        raise ValueError(
            f"retrain_probe: flagged doc_id={int(missing[0].doc_id)} has no "
            "row in `docs` — the backfill needs text for every curated flag "
            "row; nothing was mutated"
        )
    train_docs = docs.join(
        stage_sets(spark, state_dir)["quality_pass"], "doc_id"
    ).localCheckpoint(eager=True)  # consumed by T GD rounds + the score pass
    n_train = train_docs.count()
    if n_train == 0:
        raise ValueError("retrain_probe: no curated gate-passing docs to train on")
    weights, _scored = train_quality_probe(train_docs, iters=probe_iters, lr_den=1)
    save_probe(spark, p["probe"], weights, meta={"iters": probe_iters, "lr_den": 1})
    ManifestTable(p["train_scores"]).write(
        score_with_probe(train_docs, weights).select("doc_id", "score_micro")
    )

    rescored = probe_banded_decision(
        score_with_probe(docs, weights, keep_cols=("source",))
    ).select(
        "doc_id",
        F.col("score_micro").alias("_new_score"),
        F.col("accepted").alias("_new_acc"),
    )
    cols = flags.columns

    def _backfill(fl: DataFrame) -> DataFrame:
        # swap the two weight-dependent columns, carry everything else;
        # checkpoint materializes BEFORE the source files are overwritten
        return (
            fl.join(rescored, "doc_id")  # coverage proven: inner == left
            .select(
                *[c for c in cols if c not in ("probe_accepted", "score_micro")],
                F.col("probe_accepted").alias("_old_acc"),
                "_new_acc",
                "_new_score",
            )
            .localCheckpoint(eager=True)
        )

    joined = _backfill(flags)
    n_rescored = joined.count()
    n_flipped = joined.filter(F.col("_old_acc") != F.col("_new_acc")).count()
    from ..operators.manifest import CommitConflict

    last: Exception | None = None
    for _ in range(5):
        new_flags = joined.select(
            *[
                F.col("_new_acc").alias("probe_accepted") if c == "probe_accepted"
                else F.col("_new_score").alias("score_micro") if c == "score_micro"
                else c
                for c in cols
            ]
        )
        try:
            flags_t.write(
                new_flags,
                mode="overwrite",
                cluster_by=["doc_id"],
                expected_base_version=base_v,
            )
            return {
                "n_train": int(n_train),
                "n_rescored": int(n_rescored),
                "n_flipped": int(n_flipped),
            }
        except CommitConflict as exc:
            # a concurrent ingest appended flag rows after our read:
            # rebase — re-score ONLY the delta rows with the new weights
            # and retry on the mover's snapshot (append-only writers, so
            # the delta is exactly the rows we haven't rescored yet)
            last = exc
            cur_v = flags_t.snapshot().version
            delta = flags_t.read(spark, version=cur_v).join(
                joined.select("doc_id"), "doc_id", "left_anti"
            )
            gap = (
                delta.select("doc_id")
                .join(docs.select("doc_id"), "doc_id", "left_anti")
                .limit(1)
                .collect()
            )
            if gap:
                raise ValueError(
                    f"retrain_probe: concurrently-ingested doc_id="
                    f"{int(gap[0].doc_id)} has no row in `docs`, so the rebase "
                    "cannot re-score it — the probe registry is already "
                    "re-versioned; re-run retrain_probe with a `docs` relation "
                    "covering every flagged doc_id to restore the "
                    "incremental≡batch contract"
                ) from exc
            dj = _backfill(delta)
            n_rescored += dj.count()
            n_flipped += dj.filter(F.col("_old_acc") != F.col("_new_acc")).count()
            joined = joined.unionByName(dj)
            base_v = cur_v
    raise CommitConflict(
        f"retrain_probe: backfill lost the flags version race 5 times: {last}"
    )


def curated_outputs(
    spark: SparkSession, state_dir: str, n_shards: int = 8
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(sampled, sharded, accounting) — the batch ladder's final
    stages as a read-time view over the curated state, via the SAME
    `temperature_sample_and_shard` tail the batch pass runs (global
    ratios must see the whole curated corpus, so they are never frozen
    at ingest)."""
    decon = stage_sets(spark, state_dir)["_decon_flags"]
    t = decon.select("doc_id", "source", "est_tokens", "_u16").localCheckpoint(
        eager=True
    )
    return temperature_sample_and_shard(t, n_shards)


def forget_docs(
    spark: SparkSession,
    state_dir: str,
    doc_ids: list,
    vectors: DataFrame | None = None,
    physical: bool = True,
) -> dict[str, int]:
    """GDPR right-to-be-forgotten across ALL derived curation state —
    the erasure twin of `ingest_shard`. Erasing a document from the
    source table is not enough once a pipeline has built indexes over
    it: fingerprints, MinHash signatures, postings, PQ codes and score
    rows are all DERIVED personal data and must go with it. One call
    removes the ids from every persisted surface:

    * d45 fingerprint registry — the doc's fingerprint rows are deleted
      entirely (content-derived identifier; a later ingest of identical
      content classifies ``new`` again — the rebuilt-registry answer).
    * d46 MinHash index — per-doc band + signature rows deleted.
    * d42 lexical index — postings/doclen rows deleted + a negative
      stats delta, so BM25 afterwards is bit-identical to an index
      rebuilt from the survivors.
    * s8 IVF-PQ index — the doc's PQ code rows deleted (FAISS
      remove_ids semantics; pass ``vectors`` to also decrement the
      routing sums exactly).
    * ``_vectors`` / ``_semantic`` (the semantic rung's state) — the
      doc's stored quantized embedding and every semantic edge naming
      it on EITHER side are deleted; a survivor whose only semantic
      twin is erased serves again (rebuild-over-survivors semantics —
      see the inline note for why this differs from near-dup members).
    * ``_clusters`` / ``_curated`` / ``_train_scores`` — the doc's
      membership, flag and score rows deleted. Cluster members that
      were deduplicated AGAINST an erased keeper stay suppressed
      (conservative: near-duplicates of erased content are quasi-copies
      of it; a fresh ingest of such content is judged on its own) — but
      their rows are RE-ROOTED to a -1 tombstone so the erased id (and
      its quality score) disappears from the ``root``/``root_q``
      columns too, not just from ``doc_id``.
    * ``_ingest_log`` — untouched: aggregate funnel counts carry no
      per-document data.
    * ``_erasure_log`` — gains ONE summary row per call (the GDPR
      Art. 30 record of processing: the requested ids, per-surface
      erased-row counts, whether physical — no document content). The
      ``erasure_id`` is the row's CAS-committed manifest version, so
      concurrent erasures always mint distinct ids.

    Idempotent: forgetting already-forgotten ids erases zero rows and
    appends a zero-count audit entry. Rectification (a content EDIT)
    composes as forget(old ids) + `ingest_shard` of the corrected docs
    under fresh monotone ids — the monotone-id invariant means an id,
    once erased, is never reused.

    ``physical=True`` (default — erasure is the one caller that wants
    it) compacts, expires and vacuums every touched table, so no
    parquet file under the state dir still contains a forgotten row.
    Cost: stats-pruned in-list deletes + O(state) single-pass rewrites
    of the touched files — the corpus is never re-read, nothing is
    retrained. Returns per-surface deleted-row counts (the erasure
    audit record)."""
    from ..operators.ann_index import _CODES, forget_from_ivfpq_index
    from ..operators.dedup import (
        forget_fingerprint_registry,
        forget_from_minhash_index,
    )
    from ..operators.retrieval import forget_from_lexical_index

    p = _paths(state_dir)
    ids = sorted(set(doc_ids))
    if not ids:
        return {}

    # only ids with a live cluster row were ever INDEXED (the ladder
    # indexes exact-unique docs only; dups were classified and dropped
    # without touching the four indexes) — and an already-forgotten id
    # has no row left. Filtering here is what makes the plan-level
    # forget IDEMPOTENT and dup-id-safe: the lexical stats decrement
    # in particular must count only docs currently in the index.
    clusters_t = ManifestTable(p["clusters"])
    present = (
        sorted(
            int(r.doc_id)
            for r in clusters_t.read(spark)
            .filter(F.col("doc_id").isin(ids))
            .select("doc_id")
            .distinct()
            .collect()
        )
        if clusters_t.versions()
        else []
    )

    audit: dict[str, int] = {}

    def _count(t: ManifestTable, col: str, vals: list) -> int:
        if not os.path.isdir(os.path.join(t.path, "_manifests")) or not t.versions():
            return 0
        return t.read(spark).filter(F.col(col).isin(vals)).count()

    # audit BEFORE deleting (the counts are the erasure receipt)
    fp_t = ManifestTable(os.path.join(p["exact"], "_fingerprints"))
    doomed_fp = sorted(
        r["fingerprint"]
        for r in ManifestTable(os.path.join(p["exact"], "_fingerprints"))
        .read(spark)
        .groupBy("fingerprint")
        .agg(F.min("keeper").alias("keeper"))
        .filter(F.col("keeper").isin(ids))
        .collect()
    )
    audit["fingerprints"] = _count(fp_t, "fingerprint", doomed_fp) if doomed_fp else 0
    audit["minhash_bands"] = _count(
        ManifestTable(os.path.join(p["minhash"], "_bands")), "doc_id", ids
    )
    audit["postings"] = _count(
        ManifestTable(os.path.join(p["lexical"], "postings")), "doc_id", ids
    )
    audit["ann_codes"] = _count(
        ManifestTable(os.path.join(p["ann"], _CODES)), "vec_id", ids
    )

    if present:
        forget_fingerprint_registry(spark, p["exact"], present, physical=physical)
        forget_from_minhash_index(spark, p["minhash"], present, physical=physical)
        # strict=False: `present` is exact membership knowledge from the
        # cluster registry (every exact-unique doc was lexically indexed
        # exactly once, including zero-token docs the doclen relation
        # lawfully lacks a row for) — the documented strict-mode escape
        forget_from_lexical_index(
            spark, p["lexical"], present, physical=physical, strict=False
        )
        # versions(), not isdir: the audit counter's ManifestTable
        # constructor mkdirs the manifest dir even when no ANN index
        # was ever built (embedding-less ingests)
        if ManifestTable(os.path.join(p["ann"], _CODES)).versions():
            forget_from_ivfpq_index(
                spark, p["ann"], present, vectors=vectors, physical=physical
            )

    # semantic-rung state: the doc's stored quantized embedding row and
    # every semantic edge NAMING it (either side) are deleted. Unlike
    # near-dup members (lexical quasi-copies, kept suppressed), a doc
    # whose only semantic twin is erased SERVES AGAIN afterwards:
    # semantic twins are independent expressions of similar meaning, so
    # the read view equals a batch rebuild over the survivors (the
    # d52/s18 rebuild identity — `stage_sets` re-evaluates twin
    # liveness at read time, no rewrite of surviving rows needed).
    vec_t = ManifestTable(p["vectors"])
    if vec_t.versions():
        audit["vectors"] = _count(vec_t, "vec_id", ids)
        vec_t.delete_where(spark, [("vec_id", "in", ids)], merge_on_read=True)
        if physical:
            vec_t.compact(spark, cluster_by=["cell"])
            vec_t.expire(keep_last=1)
            vec_t.vacuum(older_than_s=0.0)
    sem_t = ManifestTable(p["semantic"])
    if sem_t.versions():
        audit["semantic"] = (
            sem_t.read(spark)
            .filter(F.col("doc_id").isin(ids) | F.col("twin").isin(ids))
            .count()
        )
        sem_t.delete_where(spark, [("doc_id", "in", ids)], merge_on_read=True)
        sem_t.delete_where(spark, [("twin", "in", ids)], merge_on_read=True)
        if physical:
            sem_t.compact(spark, cluster_by=["doc_id"])
            sem_t.expire(keep_last=1)
            sem_t.vacuum(older_than_s=0.0)

    # clusters: the erased doc's OWN rows go, and every row that names
    # an erased keeper through its `root` column goes too — surviving
    # members of an erased keeper are re-rooted to the -1 TOMBSTONE
    # (root_q = +inf, so the semilattice max keeps the tombstone current
    # forever). Members stay suppressed — near-duplicates of erased
    # content are quasi-copies of it — but after the rewrite no parquet
    # file under the state dir retains the erased id in ANY column,
    # root included, nor the erased keeper's quality score (the
    # tombstone's +inf carries nothing derived from the document).
    # Tombstoned members are retired evidence: `ingest_shard` excludes
    # root=-1 rows from probe edges and root election.
    if clusters_t.versions():
        audit["clusters"] = (
            clusters_t.read(spark)
            .filter(F.col("doc_id").isin(ids) | F.col("root").isin(ids))
            .count()
        )
        tombstones = (
            clusters_current(spark, state_dir)
            .filter(F.col("root").isin(ids) & ~F.col("doc_id").isin(ids))
            .select(
                "doc_id",
                F.lit(-1).cast("long").alias("root"),
                F.lit(float("inf")).alias("root_q"),
            )
            # materialize BEFORE the delete/vacuum below rewrites the
            # very files this lazy plan would read
            .localCheckpoint(eager=True)
        )
        clusters_t.delete_where(spark, [("doc_id", "in", ids)], merge_on_read=True)
        clusters_t.delete_where(spark, [("root", "in", ids)], merge_on_read=True)
        if tombstones.limit(1).count() > 0:
            clusters_t.append_with_retry(tombstones, cluster_by=["doc_id"])
        if physical:
            clusters_t.compact(spark)
            clusters_t.expire(keep_last=1)
            clusters_t.vacuum(older_than_s=0.0)

    for key, col in (("curated", "doc_id"), ("train_scores", "doc_id")):
        t = ManifestTable(p[key])
        if not t.versions():
            continue
        audit[key] = _count(t, col, ids)
        t.delete_where(spark, [(col, "in", ids)], merge_on_read=True)
        if physical:
            t.compact(spark)
            t.expire(keep_last=1)
            t.vacuum(older_than_s=0.0)

    # erasure audit trail (GDPR Art. 30 record of processing): ONE
    # summary row per call — the requested ids, per-surface erased-row
    # counts, and whether the erasure was physical. The ids being
    # erased are themselves lawful audit content (the record of WHAT
    # was erased is the compliance artifact; it carries no document
    # content).
    _append_erasure_log(spark, p["erasure_log"], ids, audit, physical)
    return audit


#: one summary row per forget_docs call; per-surface columns mirror the
#: audit dict's keys (0 when a surface had no table / no rows)
_ERASURE_LOG_SCHEMA = (
    "erasure_id long, doc_ids array<long>, n_ids long, physical boolean, "
    "fingerprints long, minhash_bands long, postings long, ann_codes long, "
    "vectors long, semantic long, clusters long, curated long, "
    "train_scores long, rows_erased_total long"
)


def _append_erasure_log(
    spark: SparkSession,
    log_path: str,
    ids: list,
    audit: dict[str, int],
    physical: bool,
    max_attempts: int = 5,
) -> int:
    """CAS-append one erasure summary row; returns its ``erasure_id``.

    The id IS the manifest version the row commits as, enforced by a
    TRUE CAS: the append passes ``expected_base_version = seq - 1``, so
    the commit either lands at exactly ``seq`` or raises
    `CommitConflict` — a plain append would re-snapshot after staging
    and happily commit the stale ``seq`` stamp at a later version,
    minting a duplicate id whenever a concurrent erasure won the
    window between the snapshot read and the commit. A loser of the
    CAS rebases on the winner's snapshot, restamps, and retries.
    Bootstrap commits an EMPTY v1 through the SAME CAS (expected base
    0): a racer whose ``versions()`` check raced a winner's data
    commit gets `CommitConflict` instead of landing a blind overwrite
    that would truncate already-committed audit rows — GDPR audit-row
    loss. Both conflict arms fall through to the append rebase."""
    from ..operators.manifest import CommitConflict

    log_t = ManifestTable(log_path)
    if not log_t.versions():
        try:
            log_t.write(
                spark.createDataFrame([], _ERASURE_LOG_SCHEMA).coalesce(1),
                expected_base_version=0,
            )
        except CommitConflict:
            pass  # a concurrent commit won; append below rebases on it
    total = int(sum(audit.values()))
    last: Exception | None = None
    for _ in range(max_attempts):
        seq = log_t.snapshot().version + 1  # the version THIS commit lands as
        row = spark.createDataFrame(
            [
                (
                    seq,
                    [int(i) for i in ids],
                    len(ids),
                    bool(physical),
                    int(audit.get("fingerprints", 0)),
                    int(audit.get("minhash_bands", 0)),
                    int(audit.get("postings", 0)),
                    int(audit.get("ann_codes", 0)),
                    int(audit.get("vectors", 0)),
                    int(audit.get("semantic", 0)),
                    int(audit.get("clusters", 0)),
                    int(audit.get("curated", 0)),
                    int(audit.get("train_scores", 0)),
                    total,
                )
            ],
            _ERASURE_LOG_SCHEMA,
        )
        try:
            log_t.write(row.coalesce(1), mode="append", expected_base_version=seq - 1)
            return seq
        except CommitConflict as exc:
            last = exc  # rebase on the winner's snapshot and restamp
    raise CommitConflict(
        f"erasure log append lost the version race {max_attempts} times: {last}"
    )
