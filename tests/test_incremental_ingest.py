"""Incremental-ingest curation plan (r7 verdict item 1): two shard
passes over persisted state must equal ONE batch d35 pass over the
union — per-doc set equality at every ladder stage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_data_engineering_spark.plans import incremental_ingest as I
from real_time_data_engineering_spark.plans.curation_pipeline import curate_corpus
from real_time_data_engineering_spark.sources.readers import load_table

from conftest import SF_DIR

PHRASES = I.DEFAULT_PHRASES


def _ids(df):
    return {int(r.doc_id) for r in df.select("doc_id").collect()}


@pytest.fixture(scope="module")
def state(spark, tmp_path_factory):
    """Ingest the sf0.001 documents as two consecutive id-ordered
    shards (the monotone-ingestion production shape)."""
    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    mm = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = (int(mm[0]) + int(mm[1])) // 2
    state_dir = str(tmp_path_factory.mktemp("ingest") / "state")
    r1 = I.ingest_shard(
        spark, state_dir,
        docs.filter(F.col("doc_id") <= mid),
        emb.withColumnRenamed("vec_id", "vec_id").filter(F.col("vec_id") <= mid),
        phrases=PHRASES,
    )
    r2 = I.ingest_shard(
        spark, state_dir,
        docs.filter(F.col("doc_id") > mid),
        emb.filter(F.col("vec_id") > mid),
        phrases=PHRASES,
    )
    return state_dir, r1, r2, mid


def test_two_pass_ingest_equals_batch_ladder(spark, state):
    """THE equivalence gate: every stage's surviving doc-id set from
    the incremental state read equals the batch curate_corpus over the
    union — SEMANTIC STAGE INCLUDED (r8 verdict item 1: the batch side
    runs semantic_dedup=True) — with the batch ladder aligned to the
    same frozen probe weights, frozen coarse quantizer and phrase
    list."""
    from real_time_data_engineering_spark.operators.quality import load_probe

    state_dir, _r1, _r2, _mid = state
    weights = load_probe(spark, I._paths(state_dir)["probe"])
    batch = curate_corpus(
        spark, SF_DIR, probe_weights=weights, decontam_phrases=PHRASES,
        semantic_dedup=True,
        semantic_centroids=I.frozen_centroids(spark, state_dir),
    )
    inc = I.stage_sets(spark, state_dir)
    for stage, batch_df in (
        ("exact_unique", batch.exact_unique),
        ("neardup_keep", batch.neardup_keep),
        ("semantic_keep", batch.semantic_keep),
        ("quality_pass", batch.quality_pass),
        ("probe_keep", batch.probe_keep),
        ("decontaminated", batch.decontaminated),
    ):
        got, want = _ids(inc[stage]), _ids(batch_df)
        assert got == want, (
            f"{stage}: inc-only={sorted(got - want)[:10]} "
            f"batch-only={sorted(want - got)[:10]}"
        )
    # the stage is LIVE at this corpus: it must actually drop something
    assert _ids(inc["semantic_keep"]) < _ids(inc["neardup_keep"])


def test_final_outputs_match_batch(spark, state):
    """Sampled/sharded/accounting (the read-time global-ratio tail)
    must match the batch run row for row."""
    from real_time_data_engineering_spark.operators.quality import load_probe

    state_dir = state[0]
    weights = load_probe(spark, I._paths(state_dir)["probe"])
    batch = curate_corpus(
        spark, SF_DIR, probe_weights=weights, decontam_phrases=PHRASES,
        semantic_dedup=True,
        semantic_centroids=I.frozen_centroids(spark, state_dir),
    )
    sampled, sharded, accounting = I.curated_outputs(spark, state_dir, n_shards=8)
    want = {(r.doc_id, r.source, r.est_tokens, r.shard) for r in batch.sharded.collect()}
    got = {(r.doc_id, r.source, r.est_tokens, r.shard) for r in sharded.collect()}
    assert got == want and got
    want_acc = {tuple(r) for r in batch.shard_accounting.collect()}
    got_acc = {tuple(r) for r in accounting.collect()}
    assert got_acc == want_acc


def test_funnel_rows_are_persisted_and_monotone(spark, state):
    """The _ingest_log carries one audit row per pass; within each pass
    the funnel is monotone non-increasing down the ladder."""
    from real_time_data_engineering_spark.operators.manifest import ManifestTable

    state_dir, r1, r2, _ = state
    rows = {
        int(r.pass_id): r
        for r in ManifestTable(I._paths(state_dir)["log"]).read(spark).collect()
    }
    assert set(rows) == {0, 1}
    for rep in (r1, r2):
        row = rows[rep.pass_id]
        assert int(row.n_raw) == rep.n_raw
        seq = [
            rep.n_raw, rep.n_new, rep.n_kept, rep.n_sem_kept,
            rep.n_gate_pass, rep.n_probe_pass,
        ]
        assert all(a >= b for a, b in zip(seq, seq[1:])), seq
        # the eval bypass can only ever shrink further stages
        assert rep.n_decontam_pass <= rep.n_probe_pass


def test_monotone_id_violation_raises(spark, state, tmp_path):
    state_dir = state[0]
    docs = load_table(spark, SF_DIR, "documents").limit(5)
    with pytest.raises(ValueError, match="monotone-id"):
        I.ingest_shard(spark, state_dir, docs, phrases=PHRASES)


def test_recrawl_dups_are_caught_across_passes(spark, tmp_path):
    """A pass-2 re-crawl of pass-1 docs under shifted ids must classify
    dup_of_corpus (zero new), and the curated read must not change."""
    docs = load_table(spark, SF_DIR, "documents").limit(40)
    state_dir = str(tmp_path / "state")
    I.ingest_shard(spark, state_dir, docs, phrases=PHRASES)
    before = _ids(I.stage_sets(spark, state_dir)["decontaminated"])
    recrawl = docs.withColumn("doc_id", F.col("doc_id") + 10_000_000)
    rep = I.ingest_shard(spark, state_dir, recrawl, phrases=PHRASES)
    assert rep.n_new == 0 and rep.n_dup_of_corpus == rep.n_raw
    assert _ids(I.stage_sets(spark, state_dir)["decontaminated"]) == before


def test_bridge_merge_retires_previous_keeper(spark, tmp_path, monkeypatch):
    """A shard-2 doc near-dup of a kept shard-1 doc with HIGHER quality
    must take over the cluster (the previously-kept keeper is retired),
    matching the batch keeper choice — the case a naive
    first-ingested-wins incremental dedup gets wrong.

    Both passes also sign the shard ONCE: the edge plan connected
    components receives reads the cached shard signatures, not a
    re-shingle of the shard."""
    from real_time_data_engineering_spark.operators import dedup as D

    edge_plans = []
    real_cc = D.connected_components

    def spy(pairs, *args, **kwargs):
        edge_plans.append(pairs._jdf.queryExecution().executedPlan().toString())
        return real_cc(pairs, *args, **kwargs)

    monkeypatch.setattr(D, "connected_components", spy)
    base_text = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the quiet green field before it rests for a while"
    )
    rows1 = [(1, "a", base_text + " zz qq"), (2, "a", "completely unrelated words here")]
    rows2 = [(10, "a", base_text + " and with many more carefully chosen common words "
              "that the stopword and token ratios reward in the quality score")]
    schema = "doc_id long, source string, text string"
    s1 = spark.createDataFrame(rows1, schema)
    s2 = spark.createDataFrame(rows2, schema)
    state_dir = str(tmp_path / "state")
    I.ingest_shard(spark, state_dir, s1, phrases=PHRASES)
    kept1 = _ids(I.stage_sets(spark, state_dir)["neardup_keep"])
    assert kept1 == {1, 2}
    rep = I.ingest_shard(spark, state_dir, s2, phrases=PHRASES)
    assert len(edge_plans) == 2
    assert all("InMemoryTableScan" in plan for plan in edge_plans), edge_plans
    kept2 = _ids(I.stage_sets(spark, state_dir)["neardup_keep"])
    # doc 10 only wins if it actually collides AND scores higher; either
    # way incremental must equal the batch ladder over the union
    union = s1.unionByName(s2)
    union.write.mode("overwrite").parquet(str(tmp_path / "u" / "documents.parquet"))
    from real_time_data_engineering_spark.operators.quality import load_probe

    weights = load_probe(spark, I._paths(state_dir)["probe"])
    batch = curate_corpus(
        spark, str(tmp_path / "u"), probe_weights=weights, decontam_phrases=PHRASES
    )
    assert kept2 == _ids(batch.neardup_keep)
    if 10 in kept2 and 1 not in kept2:
        assert rep.n_retired == 1


def test_semantic_twin_across_passes_suppresses_then_erasure_reopens(
    spark, tmp_path
):
    """A pass-2 doc that is SEMANTICALLY close to a pass-1 keeper (same
    frozen cell, cos >= 0.35) but lexically unrelated must be caught by
    the semantic rung — the case every n-gram rung misses — and erasing
    the twin must re-open it (rebuild-over-survivors semantics),
    scrubbing the erased id from every on-disk column including
    `twin`."""
    import os

    import pyarrow.parquet as pq

    docs8 = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 8)
    # synthetic near-orthogonal embeddings: doc i -> basis vector e_i
    dim = 8
    emb_rows = [(i, [1.0 if j == i else 0.0 for j in range(dim)]) for i in range(8)]
    emb8 = spark.createDataFrame(emb_rows, "vec_id long, embedding array<float>")
    state = str(tmp_path / "state")
    I.ingest_shard(spark, state, docs8, emb8, phrases=PHRASES)

    # pass 2: lexically UNRELATED text (custom vocabulary — the synthetic
    # corpus shares token pools, so a corpus text would near-dup collide),
    # embedding ~ e_0 (doc 0's semantic twin)
    fresh = spark.createDataFrame(
        [(
            100,
            "granite rivers wander beneath amber cliffs while distant "
            "glaciers carve silent valleys toward the waiting sea",
            "a",
            "en",
        )],
        "doc_id long, text string, source string, lang string",
    )
    femb = spark.createDataFrame(
        [(100, [0.95 if j == 0 else 0.02 for j in range(dim)])],
        "vec_id long, embedding array<float>",
    )
    rep = I.ingest_shard(spark, state, fresh, femb, phrases=PHRASES)
    assert rep.n_kept == 1 and rep.n_sem_kept == 0  # lexically new, semantically dup
    ss = I.stage_sets(spark, state)
    assert 100 in _ids(ss["neardup_keep"])
    assert 100 not in _ids(ss["semantic_keep"])

    # erase the twin: the survivor serves again (a batch rebuild over
    # the survivors would keep it — semantic twins are independent
    # expressions, unlike near-dup quasi-copies)
    I.forget_docs(spark, state, [0], physical=True)
    ss2 = I.stage_sets(spark, state)
    assert 0 not in _ids(ss2["exact_unique"])
    assert 100 in _ids(ss2["semantic_keep"])
    # forensics: no parquet file carries id 0 in ANY id column
    leaked = set()
    for dirpath, _dirs, files in os.walk(state):
        if "_erasure_log" in dirpath:
            continue
        for f in files:
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(dirpath, f))
            for col in ("doc_id", "vec_id", "keeper", "root", "twin"):
                if col in t.column_names:
                    leaked |= {x for x in t.column(col).to_pylist() if x == 0}
    assert not leaked


def test_drift_triggered_retrain_backfills_and_realigns(spark, tmp_path):
    """The full d50 loop closed: drift fires on a degraded shard →
    `retrain_probe` retrains on the current curated population,
    re-versions the registry, replaces the _train_scores baseline and
    backfills every flag row — and the state read still equals one
    batch pass under the NEW weights (the incremental≡batch contract
    survives a retrain)."""
    from real_time_data_engineering_spark.operators.manifest import ManifestTable
    from real_time_data_engineering_spark.operators.quality import load_probe

    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    state = str(tmp_path / "state")
    I.ingest_shard(
        spark, state, docs.filter("doc_id < 250"),
        emb.filter("vec_id < 250"), phrases=PHRASES,
    )
    # shard 2 arrives DISTRIBUTION-SHIFTED (a boilerplate tail on every
    # doc — still gate-passing, so the population the probe serves
    # actually changes): the monitor fires...
    degraded = docs.filter("doc_id >= 250").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" extended commentary section number "),
            F.col("doc_id").cast("string"),
            F.lit(" provides additional context for the reader today"),
        ),
    )
    assert bool(I.probe_drift_vs_training(spark, state, degraded).first().drift)
    # ...the shard still lands (curation is not admission control)...
    I.ingest_shard(
        spark, state, degraded, emb.filter("vec_id >= 250"), phrases=PHRASES
    )
    old_w = load_probe(spark, I._paths(state)["probe"])

    # ...and the scheduled retrain covers the grown population
    union_docs = docs.filter("doc_id < 250").unionByName(degraded)
    rep = I.retrain_probe(spark, state, union_docs)
    assert rep["n_train"] > 0
    new_w = load_probe(spark, I._paths(state)["probe"])
    assert new_w != old_w  # the degraded half moved the model
    # every flag row re-scored under the new model
    n_flags = ManifestTable(I._paths(state)["curated"]).read(spark).count()
    assert rep["n_rescored"] == n_flags

    # the monitor is recalibrated: the stored baseline re-scored is D=0
    train_ids = (
        ManifestTable(I._paths(state)["train_scores"]).read(spark).select("doc_id")
    )
    calm = I.probe_drift_vs_training(
        spark, state, union_docs.join(train_ids, "doc_id")
    ).first()
    assert int(calm.d_num) == 0 and not bool(calm.drift)

    # full realignment: the state read equals a batch pass over the
    # union under the NEW weights, semantic stage included
    union_docs.write.mode("overwrite").parquet(
        str(tmp_path / "u" / "documents.parquet")
    )
    emb.write.mode("overwrite").parquet(str(tmp_path / "u" / "embeddings.parquet"))
    batch = curate_corpus(
        spark, str(tmp_path / "u"), probe_weights=new_w,
        decontam_phrases=PHRASES, semantic_dedup=True,
        semantic_centroids=I.frozen_centroids(spark, state),
    )
    inc = I.stage_sets(spark, state)
    for stage, bdf in (
        ("quality_pass", batch.quality_pass),
        ("probe_keep", batch.probe_keep),
        ("decontaminated", batch.decontaminated),
    ):
        assert _ids(inc[stage]) == _ids(bdf), stage

    # the backfill FAILS LOUDLY when the text relation misses a flagged
    # doc — a silent inner join would freeze that doc's decision under
    # the retired model
    with pytest.raises(Exception, match="has no row in `docs`"):
        I.retrain_probe(spark, state, union_docs.filter("doc_id % 2 = 0"))


def test_probe_drift_monitor_trips_on_shifted_shard(spark, state):
    """A degraded shard (truncated texts) must trip the KS drift flag
    against the persisted training scores; a same-distribution shard
    must not."""
    state_dir = state[0]
    docs = load_table(spark, SF_DIR, "documents")
    degraded = docs.filter(F.col("doc_id") % 4 == 1).withColumn(
        "text", F.substring(F.col("text"), 1, 40)
    )
    hit = I.probe_drift_vs_training(spark, state_dir, degraded).first()
    assert bool(hit.drift) is True and hit.d_num > 0
    # the training population re-scored is the identical distribution
    # (stored scores came from these very docs): D must be 0
    from real_time_data_engineering_spark.operators.manifest import ManifestTable

    train_ids = (
        ManifestTable(I._paths(state_dir)["train_scores"]).read(spark).select("doc_id")
    )
    calm = I.probe_drift_vs_training(spark, state_dir, docs.join(train_ids, "doc_id")).first()
    assert int(calm.d_num) == 0 and bool(calm.drift) is False


_SHIFT_TAIL = (
    " extended commentary section provides additional context for the reader"
)


def _shift(df):
    """Distribution-shift a doc frame (boilerplate tail, still
    gate-passing) so a retrain on it provably moves the weights."""
    return df.withColumn("text", F.concat(F.col("text"), F.lit(_SHIFT_TAIL)))


def _assert_flags_match_served_weights(spark, state_dir, docs):
    """THE terminal invariant of the retrain⇄ingest concurrency
    contract: every `_curated` flag row's (score_micro, probe_accepted)
    equals a fresh scoring of `docs` under the weights the registry
    CURRENTLY serves — no row anywhere carries retired-weight scores —
    and doc_ids are unique (no partial/duplicated end state)."""
    from real_time_data_engineering_spark.operators.manifest import ManifestTable
    from real_time_data_engineering_spark.operators.quality import (
        load_probe,
        probe_banded_decision,
        score_with_probe,
    )

    w = load_probe(spark, I._paths(state_dir)["probe"])
    expected = probe_banded_decision(
        score_with_probe(docs, w, keep_cols=("source",))
    ).select(
        "doc_id",
        F.col("score_micro").alias("e_score"),
        F.col("accepted").alias("e_acc"),
    )
    flags = ManifestTable(I._paths(state_dir)["curated"]).read(spark)
    n = flags.count()
    assert n == flags.select("doc_id").distinct().count()
    matched = flags.join(expected, "doc_id").filter(
        (F.col("score_micro") == F.col("e_score"))
        & (F.col("probe_accepted") == F.col("e_acc"))
    )
    assert matched.count() == n, (
        flags.join(expected, "doc_id")
        .filter(F.col("score_micro") != F.col("e_score"))
        .select("doc_id", "score_micro", "e_score")
        .limit(5)
        .collect()
    )


def test_retrain_rebases_over_concurrent_flag_append(spark, tmp_path, monkeypatch):
    """Forced interleaving (a) of the retrain race: an in-flight ingest
    that loaded the RETIRED weights lands its flag rows in the exact
    window between the backfill's flags read and its overwrite. The
    CAS-pinned overwrite must conflict, rebase, re-score ONLY the delta
    rows with the NEW weights and retry — no flag row ends up serving
    retired-weight scores."""
    from real_time_data_engineering_spark.operators.manifest import ManifestTable
    from real_time_data_engineering_spark.operators.quality import (
        load_probe,
        probe_banded_decision,
        score_with_probe,
    )

    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    state = str(tmp_path / "state")
    I.ingest_shard(
        spark, state, docs.filter("doc_id < 250"),
        emb.filter("vec_id < 250"), phrases=PHRASES,
    )
    old_w = load_probe(spark, I._paths(state)["probe"])
    curated = I._paths(state)["curated"]
    # the retrain runs over SHIFTED text so the new weights differ and a
    # missed delta re-score would be a visible value mismatch
    retrain_docs = _shift(docs)
    schema = ManifestTable(curated).read(spark).schema
    orig = ManifestTable.write
    armed = {"on": True}

    def interpose(self, df, mode="overwrite", **kw):
        if (
            armed["on"]
            and mode == "overwrite"
            and kw.get("expected_base_version") is not None
            and self.path == curated
        ):
            armed["on"] = False
            stale = probe_banded_decision(
                score_with_probe(
                    docs.filter("doc_id >= 250"), old_w, keep_cols=("source",)
                )
            ).select(
                "doc_id",
                "source",
                F.lit(100).alias("est_tokens"),
                F.lit(0).alias("_u16"),
                F.lit(True).alias("passes_gates"),
                F.col("accepted").alias("probe_accepted"),
                "score_micro",
                F.lit(False).alias("is_eval"),
                F.lit(False).alias("is_contaminated"),
                F.lit(1).alias("pass_id"),
            )
            aligned = stale.select(
                *[F.col(f.name).cast(f.dataType) for f in schema.fields]
            )
            ManifestTable(curated).append_with_retry(aligned)
        return orig(self, df, mode=mode, **kw)

    monkeypatch.setattr(ManifestTable, "write", interpose)
    rep = I.retrain_probe(spark, state, retrain_docs)
    assert not armed["on"]  # the race actually fired
    new_w = load_probe(spark, I._paths(state)["probe"])
    assert new_w != old_w
    n_flags = ManifestTable(curated).read(spark).count()
    assert rep["n_rescored"] == n_flags  # delta rows were re-scored too
    _assert_flags_match_served_weights(spark, state, retrain_docs)


def test_ingest_fence_heals_rows_scored_with_retired_weights(spark, tmp_path, monkeypatch):
    """Forced interleaving (b) — the one the retrainer CANNOT see: a
    retrain completes between an ingest's weight load and its flag
    append, so the appended rows land AFTER the backfill, scored with
    retired weights. `ingest_shard`'s post-commit freshness fence must
    detect the registry re-version and re-score its own rows."""
    from real_time_data_engineering_spark.operators import quality as Q

    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    state = str(tmp_path / "state")
    I.ingest_shard(
        spark, state, docs.filter("doc_id < 250"),
        emb.filter("vec_id < 250"), phrases=PHRASES,
    )
    shard1_shifted = _shift(docs.filter("doc_id < 250"))
    orig_load = Q.load_probe
    armed = {"on": True}

    def racing_load(spark_, path):
        w = orig_load(spark_, path)  # the soon-to-be-retired weights
        if armed["on"] and path == I._paths(state)["probe"]:
            armed["on"] = False
            I.retrain_probe(spark, state, shard1_shifted)
        return w

    monkeypatch.setattr(Q, "load_probe", racing_load)
    I.ingest_shard(
        spark, state, docs.filter("doc_id >= 250"),
        emb.filter("vec_id >= 250"), phrases=PHRASES,
    )
    assert not armed["on"]  # the retrain really raced the load
    all_docs = shard1_shifted.unionByName(docs.filter("doc_id >= 250"))
    _assert_flags_match_served_weights(spark, state, all_docs)


def test_semantic_rung_enabled_after_disabled_bootstrap_raises(spark, tmp_path):
    """Enabling the semantic rung on a later pass when the bootstrap
    ran with it DISABLED (quantizer exists, `_vectors` never committed)
    must raise instead of silently creating a fresh survivor store in
    which the bootstrap's kept docs are never semantic candidates — the
    missing-quantizer ValueError's mirror."""
    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    state = str(tmp_path / "state")
    I.ingest_shard(
        spark, state, docs.filter("doc_id < 250"),
        emb.filter("vec_id < 250"), phrases=PHRASES, semantic=False,
    )
    with pytest.raises(ValueError, match="ran with it disabled"):
        I.ingest_shard(
            spark, state, docs.filter("doc_id >= 250"),
            emb.filter("vec_id >= 250"), phrases=PHRASES,
        )


def test_streaming_ingest_twin_equals_batch_ladder(spark, tmp_path):
    """ST2 applied to the curation ladder (r9 verdict item 4): driving
    the SAME corpus through `run_ingest_shard_stream` (foreachBatch
    over an availableNow file stream, one file per micro-batch) must
    leave per-doc state equal to two batch `ingest_shard` passes — and
    a full checkpoint-style replay of the stream must be a no-op (the
    `_ingest_log` high-water skip)."""
    import glob
    import shutil
    import time as _time

    from real_time_data_engineering_spark.streaming.ingest import (
        run_ingest_shard_stream,
    )

    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    mm = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = (int(mm[0]) + int(mm[1])) // 2
    stream_dir = tmp_path / "shards"
    stream_dir.mkdir()
    for i, pred in enumerate((f"doc_id <= {mid}", f"doc_id > {mid}")):
        w = str(tmp_path / f"w{i}")
        docs.filter(pred).coalesce(1).write.parquet(w)
        shutil.copy(
            glob.glob(w + "/part-*.parquet")[0],
            str(stream_dir / f"shard-{i:04d}.parquet"),
        )
        _time.sleep(1.1)  # distinct mtimes: discovery order == shard order

    s_state = str(tmp_path / "stream_state")
    reports = run_ingest_shard_stream(
        spark, str(stream_dir), s_state, str(tmp_path / "ckpt1"),
        embeddings=emb, phrases=PHRASES,
    )
    assert len(reports) == 2  # one micro-batch per shard file
    assert [r.pass_id for r in reports] == [0, 1]

    b_state = str(tmp_path / "batch_state")
    I.ingest_shard(
        spark, b_state, docs.filter(f"doc_id <= {mid}"),
        emb.filter(f"vec_id <= {mid}"), phrases=PHRASES,
    )
    I.ingest_shard(
        spark, b_state, docs.filter(f"doc_id > {mid}"),
        emb.filter(f"vec_id > {mid}"), phrases=PHRASES,
    )
    s_inc, b_inc = I.stage_sets(spark, s_state), I.stage_sets(spark, b_state)
    for stage in (
        "exact_unique", "neardup_keep", "semantic_keep",
        "quality_pass", "probe_keep", "decontaminated",
    ):
        assert _ids(s_inc[stage]) == _ids(b_inc[stage]), stage

    # replay: a fresh checkpoint re-delivers every file; the ladder's
    # own high-water mark must skip them all without touching state
    from real_time_data_engineering_spark.operators.manifest import ManifestTable

    v_before = ManifestTable(I._paths(s_state)["curated"]).snapshot().version
    replayed = run_ingest_shard_stream(
        spark, str(stream_dir), s_state, str(tmp_path / "ckpt2"),
        embeddings=emb, phrases=PHRASES,
    )
    assert replayed == []
    assert ManifestTable(I._paths(s_state)["curated"]).snapshot().version == v_before
