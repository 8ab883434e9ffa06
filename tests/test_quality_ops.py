"""Golden-fixture tests for the corpus-quality operators (d12/d13).

Hand-computed expectations on tiny inputs — the oracle-parity suite
covers the corpus-scale path; these pin the per-document semantics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_data_engineering_spark.operators.quality import redact_pii, repetition_stats


def test_repetition_stats_golden(spark):
    docs = spark.createDataFrame(
        [
            # 2-grams: "a b"×3, "b a"×2 → n=5, distinct=2, max=3
            (1, "a b a b a b"),
            # all three 2-grams unique → short doc, never flagged
            (2, "w x y z"),
            # single token → zero 2-grams → excluded
            (3, "solo"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert set(out) == {1, 2}
    r1 = out[1]
    assert (r1.n_grams, r1.distinct_grams, r1.max_gram_count) == (5, 2, 3)
    assert r1.top_gram_frac == 3 / 5 and r1.dup_gram_frac == 1.0
    assert not r1.is_repetitive  # only 5 grams — under the length gate
    r2 = out[2]
    assert (r2.n_grams, r2.distinct_grams, r2.max_gram_count) == (3, 3, 1)
    assert r2.dup_gram_frac == 0.0 and not r2.is_repetitive


def test_repetition_flag_requires_length_and_concentration(spark):
    repetitive = " ".join(["spam ham"] * 20)  # 39 2-grams, "ham spam"×19, "spam ham"×20
    diverse = " ".join(f"w{i}" for i in range(40))  # 39 unique 2-grams
    docs = spark.createDataFrame([(1, repetitive), (2, diverse)], "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert out[1].is_repetitive
    assert out[2].top_gram_frac == 1 / 39 and not out[2].is_repetitive


def test_pii_redaction_golden(spark):
    df = spark.createDataFrame(
        [(1, "mail bob.smith@corp.io or 10.0.42.1 call 555-867-5309 end")],
        "doc_id long, s string",
    )
    cols = redact_pii("s")
    row = df.select(
        cols["n_emails"].alias("e"),
        cols["n_ips"].alias("i"),
        cols["n_phones"].alias("p"),
        cols["redacted"].alias("r"),
    ).collect()[0]
    assert (row.e, row.i, row.p) == (1, 1, 1)
    assert row.r == "mail <EMAIL> or <IP> call <PHONE> end"


def test_pii_redaction_clean_text_untouched(spark):
    df = spark.createDataFrame([(1, "no contact info here at all")], "doc_id long, s string")
    cols = redact_pii("s")
    row = df.select(
        (cols["n_emails"] + cols["n_ips"] + cols["n_phones"]).alias("n"),
        cols["redacted"].alias("r"),
        F.col("s"),
    ).collect()[0]
    assert row.n == 0 and row.r == row.s


def test_contamination_stats_golden(spark):
    from real_time_data_engineering_spark.operators.quality import contamination_stats

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f"),        # eval doc (id%2==0 marks eval here)
            (1, "a b c d e xx yy"),    # shares "a b c d e" → 1/3 grams hit
            (3, "p q r s t u"),        # disjoint → 0 overlap
            (5, "a b c d e f"),        # exact copy of eval doc → frac 1.0
        ],
        "doc_id long, text string",
    )
    from pyspark.sql import functions as F

    out = {
        r.doc_id: r
        for r in contamination_stats(docs, F.col("doc_id") % 2 == 0, n=5, threshold=0.5).collect()
    }
    assert set(out) == {1, 3, 5}  # eval doc excluded
    assert (out[1].n_grams, out[1].n_overlap) == (3, 1)
    assert out[1].overlap_frac == 1 / 3 and not out[1].is_contaminated
    assert out[3].n_overlap == 0 and not out[3].is_contaminated
    assert out[5].overlap_frac == 1.0 and out[5].is_contaminated


def test_leakage_safe_split_invariants(spark):
    """Every doc exactly once; no near-dup cluster straddles splits;
    all three splits populated at corpus scale."""
    from conftest import SF_DIR
    from real_time_data_engineering_spark.registry import all_specs

    out = all_specs()["d17_leakage_safe_split"].spark(spark, SF_DIR).collect()
    docs = {r.doc_id for r in out}
    assert len(docs) == len(out)  # one row per doc
    by_key: dict[int, set] = {}
    for r in out:
        by_key.setdefault(r.cluster_key, set()).add(r.split)
    assert all(len(s) == 1 for s in by_key.values())  # no cluster straddles
    assert {r.split for r in out} == {"train", "val", "test"}


def test_dup_span_coverage_planted_semantics(spark):
    """d22 semantics on a constructed corpus: a doc fully copied into a
    larger doc is 100% covered; the host doc is covered exactly over
    the copied span (plus its 8-gram bridge windows); a unique doc is
    0% covered and unflagged."""
    from real_time_data_engineering_spark.registry import get

    import real_time_data_engineering_spark.registry.dedup_text as R

    copied = "alpha beta gamma delta epsilon zeta eta theta"
    host = "unique prefix words here " + copied
    loner = "completely different standalone content with zero overlap"
    docs = spark.createDataFrame(
        [(1, copied), (2, host), (3, loner)], "doc_id long, text string"
    )
    import duckdb

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = {
        int(r[0]): (int(r[1]), int(r[2]), bool(r[4]))
        for r in con.sql(R._D22_ORACLE).fetchall()
    }
    # Spark side over the same frame (bypass load_table: in-memory corpus)
    import unittest.mock as mock

    with mock.patch.object(R, "load_table", lambda *_a, **_k: docs):
        got_df = get("d22_dup_span_coverage").spark(spark, "ignored")
    got = {r.doc_id: (r.n_chars, r.covered_chars, r.is_flagged) for r in got_df.collect()}
    assert got == want
    assert got[1][1] == got[1][0], "fully-copied doc must be 100% covered"
    assert got[1][2] is True
    assert got[3] == (len(loner), 0, False)
    assert 0 < got[2][1] < got[2][0], "host doc is partially covered"


def test_dup_span_coverage_short_docs_emit_no_grams(spark):
    """Docs whose normalized text is shorter than the 8-char window can
    contain no complete gram: Spark's sequence(1, 0) DESCENDS ([1, 0]),
    so without the length guard two identical 3-char docs would collide
    on phantom grams and report covered_chars > n_chars. Guarded code
    must match the oracle: zero coverage, never flagged, coverage <= 1
    for every doc."""
    import unittest.mock as mock

    import duckdb

    import real_time_data_engineering_spark.registry.dedup_text as R
    from real_time_data_engineering_spark.registry import get

    dup = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(1, "abc"), (2, "abc"), (3, "a b"), (4, dup), (5, dup)],
        "doc_id long, text string",
    )
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = {
        int(r[0]): (int(r[1]), int(r[2]), bool(r[4]))
        for r in con.sql(R._D22_ORACLE).fetchall()
    }
    with mock.patch.object(R, "load_table", lambda *_a, **_k: docs):
        got_df = get("d22_dup_span_coverage").spark(spark, "ignored")
    got = {r.doc_id: (r.n_chars, r.covered_chars, r.is_flagged) for r in got_df.collect()}
    assert got == want
    for doc_id in (1, 2, 3):
        n_chars, covered, flagged = got[doc_id]
        assert covered == 0 and not flagged
        assert covered <= n_chars
    assert got[4][1] == got[4][0] and got[4][2]  # real dups still flag


def test_temperature_sampling_rate_semantics(spark):
    """d25: the smallest source is never downsampled (rate 1.0), rates
    fall as source token mass grows (alpha=0.5 law), and realized
    per-source selection tracks rate * n_docs."""
    from conftest import SF_DIR
    from real_time_data_engineering_spark.registry.mixing import d25_temperature_sampling

    out = d25_temperature_sampling(spark, SF_DIR).toPandas()
    per_src = out.groupby("source").agg(
        rate=("accept_rate", "first"), toks=("source_tokens", "first")
    )
    # rates respect the sqrt law: ordering by tokens reverses ordering by rate
    ordered = per_src.sort_values("toks")
    rates = list(ordered["rate"])
    assert abs(rates[0] - 1.0) < 1e-12  # T_min anchor
    assert all(a >= b - 1e-12 for a, b in zip(rates, rates[1:]))
    # exact law: rate = min(1, sqrt(t_min / t_s))
    t_min = int(ordered["toks"].iloc[0])
    import math

    for toks, rate in zip(ordered["toks"], ordered["rate"]):
        assert abs(rate - min(1.0, math.sqrt(t_min / toks))) < 1e-12


def test_rag_chunks_tile_documents_exactly(spark):
    """d27: per doc, chunks start at 1, stride 48, end at n, stay within
    bounds, and consecutive chunks overlap by exactly 16 tokens (except
    a shorter final chunk)."""
    from conftest import SF_DIR
    from real_time_data_engineering_spark.registry.dedup_text import d27_rag_chunking

    pdf = d27_rag_chunking(spark, SF_DIR).toPandas()
    assert (pdf.start_tok == pdf.chunk_idx * 48 + 1).all()
    assert (pdf.n_tokens == pdf.end_tok - pdf.start_tok + 1).all()
    assert (pdf.n_tokens >= 1).all() and (pdf.n_tokens <= 64).all()
    for doc_id, g in pdf.groupby("doc_id"):
        g = g.sort_values("chunk_idx")
        assert list(g.chunk_idx) == list(range(len(g)))
        # every token position is covered: next chunk starts inside the
        # previous one (overlap 16) until the final chunk reaches n
        ends = list(g.end_tok)
        starts = list(g.start_tok)
        for s_next, e_prev in zip(starts[1:], ends[:-1]):
            assert s_next <= e_prev + 1
        assert ends[-1] == max(ends)


# ---------------------------------------------------------------------------
# d47 — trained quality probe (fixed-point GD)
# ---------------------------------------------------------------------------


def test_tdiv_truncates_toward_zero_like_both_engines(spark):
    """The driver-side weight update must use the SAME integer-division
    semantics as Spark `div` and DuckDB `//` (truncate toward zero);
    Python's `//` floors, which differs for negative numerators."""
    import duckdb

    from real_time_data_engineering_spark.operators.quality import _tdiv

    cases = [(-7, 2), (7, 2), (-7, -2), (7, -2), (-1, 3), (0, 5), (-10, 10)]
    got_spark = spark.createDataFrame(cases, "a long, b long").selectExpr(
        "a", "b", "a div b as q"
    ).collect()
    con = duckdb.connect()
    for r in got_spark:
        assert _tdiv(r.a, r.b) == r.q, (r.a, r.b)
        assert con.execute(f"select {r.a} // {r.b}").fetchone()[0] == r.q, (r.a, r.b)


def test_quality_probe_loss_is_monotone_under_more_rounds(spark):
    """More GD rounds must not increase the squared loss on the
    training corpus at the registered learning rate — the convergence
    evidence behind d47's 'trained' claim."""
    from real_time_data_engineering_spark.operators.quality import (
        quality_probe_features,
        train_quality_probe,
    )
    from real_time_data_engineering_spark.sources.readers import load_table

    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    feats = quality_probe_features(docs).cache()

    def mse(w):
        z = " + ".join(f"cast({w[j]} as bigint) * x{j}" for j in range(5))
        return feats.selectExpr(
            f"avg(pow((({z}) div 1000000000)/1e6 - y/1e6, 2)) as l"
        ).first().l

    losses = [mse([0] * 5)]
    for iters in (5, 10, 20):
        w, _ = train_quality_probe(docs, iters=iters, lr_den=1)
        losses.append(mse(w))
    feats.unpersist(blocking=False)
    assert all(b <= a for a, b in zip(losses, losses[1:])), losses
    assert losses[-1] < losses[0]


def test_quality_probe_weights_partitioning_invariant(spark):
    """Decimal-exact gradient sums make training independent of the
    physical partitioning — the bit-determinism the unrolled-SQL
    oracle relies on."""
    from real_time_data_engineering_spark.operators.quality import train_quality_probe
    from real_time_data_engineering_spark.sources.readers import load_table

    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    w1, _ = train_quality_probe(docs.repartition(7), iters=4, lr_den=1)
    w3, _ = train_quality_probe(docs.repartition(3), iters=4, lr_den=1)
    assert w1 == w3
    assert any(x != 0 for x in w1)


def test_quality_probe_beats_majority_baseline(spark):
    """The registered 20-round configuration must classify the teacher
    label strictly better than always predicting the majority class —
    otherwise 'trained' would be an empty claim."""
    from real_time_data_engineering_spark.operators.quality import train_quality_probe
    from real_time_data_engineering_spark.sources.readers import load_table

    from conftest import SF_DIR_T2

    docs = load_table(spark, SF_DIR_T2, "documents")
    _w, out = train_quality_probe(docs, iters=20, lr_den=1)
    rows = out.collect()
    acc = sum(r.predicted == r.label for r in rows) / len(rows)
    share = sum(r.label for r in rows) / len(rows)
    assert acc > max(share, 1 - share), (acc, share)


def test_probe_gated_sampling_band_semantics(spark):
    """keep → all accepted, drop → none, lottery → a real lottery
    (strictly between 0% and 100% acceptance) whose accept rate is
    monotone in the score band."""
    from real_time_data_engineering_spark.operators.quality import (
        probe_scored_sampling,
    )
    from real_time_data_engineering_spark.sources.readers import load_table

    from conftest import SF_DIR_T2

    docs = load_table(spark, SF_DIR_T2, "documents")
    rows = probe_scored_sampling(docs).collect()
    by_band: dict[str, list] = {}
    for r in rows:
        by_band.setdefault(r.band, []).append(r)
    assert all(r.accepted for r in by_band.get("keep", []))
    assert not any(r.accepted for r in by_band.get("drop", []))
    lot = by_band["lottery"]
    n_acc = sum(r.accepted for r in lot)
    assert 0 < n_acc < len(lot)
    # bands respect the cuts
    assert all(r.score_micro >= 600_000 for r in by_band.get("keep", []))
    assert all(r.score_micro < 350_000 for r in by_band.get("drop", []))
    # acceptance rate in the upper half of the lottery band exceeds the
    # lower half (the linear-in-score property, coarsely)
    mid = 475_000
    hi = [r for r in lot if r.score_micro >= mid]
    lo = [r for r in lot if r.score_micro < mid]
    if hi and lo:
        assert (sum(r.accepted for r in hi) / len(hi)) >= (
            sum(r.accepted for r in lo) / len(lo)
        )


def test_quality_probe_train_n_bounds_training_and_degenerates_to_full(spark):
    """train_n >= N must train bit-identically to train_n=None (the
    kmeans sample_n contract), and a small train_n must still produce
    a scored row for EVERY document (training bounded, scoring full)."""
    from real_time_data_engineering_spark.operators.quality import train_quality_probe
    from real_time_data_engineering_spark.sources.readers import load_table

    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    n = docs.count()
    w_full, _ = train_quality_probe(docs, iters=3, lr_den=1)
    w_cap, _ = train_quality_probe(docs, iters=3, lr_den=1, train_n=n + 10)
    assert w_full == w_cap
    w_small, scored = train_quality_probe(docs, iters=3, lr_den=1, train_n=50)
    assert scored.count() == n  # scoring covers the whole corpus
    assert any(x != 0 for x in w_small)


def test_probe_registry_roundtrip_and_shard_scoring(spark, tmp_path):
    """Model-registry contract: save_probe/load_probe roundtrips the
    weight vector through the manifest table, and scoring fresh shards
    with the STORED weights is bit-identical to the trainer's own
    scoring tail — train once, serve forever without retraining."""
    from real_time_data_engineering_spark.operators.quality import (
        load_probe,
        save_probe,
        score_with_probe,
        train_quality_probe,
    )
    from real_time_data_engineering_spark.sources.readers import load_table

    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    w, scored = train_quality_probe(docs, iters=5, lr_den=1)
    path = str(tmp_path / "probe")
    save_probe(spark, path, w, meta={"iters": 5, "lr_den": 1})
    assert load_probe(spark, path) == w
    got = {
        (r.doc_id, r.score_micro, r.predicted)
        for r in score_with_probe(docs, load_probe(spark, path)).collect()
    }
    want = {(r.doc_id, r.score_micro, r.predicted) for r in scored.collect()}
    assert got == want and got


def test_probe_streaming_scoring_equals_batch(spark, tmp_path):
    """`score_with_probe` is a stateless narrow projection, so the SAME
    call scores a file-source STREAM exactly like the batch frame —
    the streaming quality gate serving batch-trained weights."""
    from real_time_data_engineering_spark.operators.quality import (
        score_with_probe,
        train_quality_probe,
    )
    from real_time_data_engineering_spark.sources.readers import load_table

    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").limit(100)
    w, _ = train_quality_probe(docs, iters=3, lr_den=1)
    src = str(tmp_path / "incoming")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        score_with_probe(stream, w)
        .writeStream.format("memory")
        .queryName("probe_stream_scores")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_id, r.score_micro, r.predicted)
        for r in spark.sql("select * from probe_stream_scores").collect()
    }
    want = {
        (r.doc_id, r.score_micro, r.predicted)
        for r in score_with_probe(spark.read.parquet(src), w).collect()
    }
    assert got == want and len(got) == 100


def test_d49_zero_token_source_yields_finite_epochs(spark, tmp_path):
    """An all-whitespace source has source_tokens=0; both engines must
    agree on the clamped (div by greatest(tokens,1)) repeat factor
    instead of NULL-vs-raise divergence."""
    import duckdb

    from real_time_data_engineering_spark.registry import all_specs
    from real_time_data_engineering_spark.sources.readers import load_table

    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").limit(20)
    empty = docs.limit(3).withColumn("text", F.lit("   ")).withColumn(
        "source", F.lit("empty_src")
    )
    sf_dir = str(tmp_path)
    docs.unionByName(empty).write.parquet(f"{sf_dir}/documents.parquet")

    spec = all_specs()["d49_epoch_budget"]
    got = {
        (r.source, r.n_docs, r.source_tokens, r.budget_tokens, r.epochs_x100, r.over_repeat)
        for r in spec.spark(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    want = {tuple(r) for r in con.execute(spec.oracle).fetchall()}
    assert got == want
    by_src = {t[0]: t for t in got}
    assert by_src["empty_src"][2] == 0  # zero tokens...
    assert by_src["empty_src"][4] is not None  # ...finite epochs_x100
    assert by_src["empty_src"][5] is True  # and flagged over the knee
