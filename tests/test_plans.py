"""Physical-plan assertions — the 100 TB design gates.

Correctness says *what* is computed; these tests pin *how*: filters
reach the parquet scan, small dims broadcast, the hot path stays in
whole-stage codegen, and partitioned writes prune. A plan regression
here is a scale bug even when results stay right."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_data_engineering_spark.registry import all_specs  # noqa: F401 (single-plan helpers)

from conftest import SF_DIR


def _physical(spark, name: str) -> str:
    return all_specs()[name].spark(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def test_silver_filters_push_to_scan(spark):
    """q13's quality filter must appear as PushedFilters on the parquet
    scan — at 100 TB this is the difference between scanning a partition
    and scanning the lake."""
    plan = _physical(spark, "q13_silver_lineitem")
    scan_lines = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert scan_lines, plan
    pushed = scan_lines[0]
    assert "IsNotNull" in pushed or "GreaterThanOrEqual" in pushed, pushed


def test_projection_prunes_scan_columns(spark):
    """q1 touches 2 of 6 order columns; ReadSchema must show only those."""
    plan = _physical(spark, "q1_daily_revenue")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "o_orderdate" in read and "o_totalprice" in read
    assert "o_orderpriority" not in read and "o_custkey" not in read


def test_dim_joins_broadcast(spark):
    """q2's nation/region joins must be broadcast, not shuffled."""
    plan = _physical(spark, "q2_top_nations")
    assert "BroadcastHashJoin" in plan
    # the big orders⋈customer side must NOT have been forced broadcast by us;
    # AQE may choose it at toy scale, but a SortMergeJoin/ShuffledHashJoin
    # or broadcast decision must come from the planner, not a hint on orders
    assert plan.count("BroadcastExchange") >= 2


def test_whole_stage_codegen_on_hot_path(spark):
    """The silver projection must run inside WholeStageCodegen spans."""
    plan = _physical(spark, "q13_silver_lineitem")
    # '*(n)' prefixes mark WholeStageCodegen stages in executedPlan text
    assert "*(1)" in plan, plan


def test_topk_plans_take_ordered(spark):
    """ORDER BY + LIMIT must plan TakeOrderedAndProject, not a full sort."""
    plan = _physical(spark, "q2_top_nations")
    assert "TakeOrderedAndProject" in plan


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    """pickup_date-partitioned silver: a date filter must prune partitions
    (reference partition-layout choice, 06-silver.sql:32)."""
    from real_time_data_engineering_spark.plans.taxi_pipeline import run_pipeline
    from real_time_data_engineering_spark.testing.taxi_datagen import generate_raw_trips

    raw = generate_raw_trips(spark, n_valid=300)
    wh = str(tmp_path / "wh")
    run_pipeline(spark, raw, warehouse_dir=wh)
    silver = spark.read.parquet(f"{wh}/stg_yellow_trips")
    q = silver.filter("pickup_date = DATE '2024-01-05'")
    plan = q._jdf.queryExecution().executedPlan().toString()
    # partition filters line must carry the pickup_date predicate
    assert "PartitionFilters" in plan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "pickup_date" in pf


@pytest.mark.parametrize("name", ["q3_hourly_demand", "q7_user_features", "q16_hourly_demand_summary"])
def test_aggregates_partial_then_final(spark, name):
    """Group-bys must plan map-side partial aggregation (HashAggregate
    appears at least twice: partial + final) — the shuffle carries
    pre-combined state, not raw rows."""
    plan = _physical(spark, name)
    assert plan.count("HashAggregate") >= 2, plan


def test_salted_join_equals_plain_join(spark):
    """Salting is routing-only: result sets must be identical, and the
    big side's rows for one hot key must spread across salt buckets."""
    from real_time_data_engineering_spark.operators.skew import salted_join
    from real_time_data_engineering_spark.sources.readers import load_table

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    # manufacture skew: map half the keys onto one hot key
    skewed = li.withColumn(
        "l_partkey", F.when(F.col("l_partkey") % 2 == 0, F.lit(1)).otherwise(F.col("l_partkey"))
    )
    part = load_table(spark, SF_DIR, "part").select("p_partkey", "p_brand")
    dim = part.withColumnRenamed("p_partkey", "l_partkey")
    plain = skewed.join(dim, "l_partkey").groupBy("p_brand").count()
    salted = salted_join(skewed, dim, "l_partkey", salts=8).groupBy("p_brand").count()
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}
    # left join parity too (null-extended big rows appear exactly once)
    plain_l = skewed.join(dim, "l_partkey", "left").groupBy("p_brand").count()
    salted_l = salted_join(skewed, dim, "l_partkey", salts=8, how="left").groupBy("p_brand").count()
    assert {tuple(r) for r in plain_l.collect()} == {tuple(r) for r in salted_l.collect()}
    # small-side outer semantics are inexpressible under replication —
    # refused, not silently wrong (unmatched small rows would emit ×salts)
    for bad in ("right", "full", "left_semi", "left_anti"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(skewed, dim, "l_partkey", how=bad)


def test_bucketed_join_has_no_shuffle(spark):
    """Two tables bucketed on the join key must SortMergeJoin with zero
    Exchange — the co-located-join contract."""
    from real_time_data_engineering_spark.operators.skew import write_bucketed
    from real_time_data_engineering_spark.sources.readers import load_table

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    od = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "b_lineitem", "l_orderkey", buckets=4, sort_by="l_orderkey")
    write_bucketed(
        od.withColumnRenamed("o_orderkey", "l_orderkey"), "b_orders", "l_orderkey", buckets=4,
        sort_by="l_orderkey",
    )
    try:
        j = spark.table("b_lineitem").join(spark.table("b_orders"), "l_orderkey")
        # disable auto-broadcast so the co-location (not a broadcast) is
        # what removes the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        n = j.count()
        assert n == spark.table("b_lineitem").count()  # FK: every line has an order
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_benchmark_protocol_shape(spark, tmp_path):
    """The p50/p95/p99 protocol (reference queries/README.md:41-74) must
    produce results.csv-compatible rows with warmups discarded."""
    from real_time_data_engineering_spark.benchmark import run_protocol, write_results_csv

    rows = run_protocol(spark, SF_DIR, names=["q1_daily_revenue"], iterations=3, warmups=1)
    assert len(rows) == 1
    r = rows[0]
    assert r["query"] == "q1_daily_revenue" and r["rows"] > 0
    assert r["min_sec"] <= r["p50_sec"] <= r["p95_sec"] <= r["p99_sec"]
    out = str(tmp_path / "results.csv")
    write_results_csv(rows, out)
    import csv

    with open(out) as f:
        got = list(csv.DictReader(f))
    assert got[0]["query"] == "q1_daily_revenue"


def test_lifecycle_runner_retries_and_metrics(tmp_path):
    """Stage contract: retry-once-then-succeed is recorded; a stage that
    exhausts retries halts downstream stages; metrics JSON is emitted."""
    from real_time_data_engineering_spark.plans.lifecycle import Stage, run_lifecycle

    calls = {"flaky": 0}

    def flaky(ctx):
        calls["flaky"] += 1
        if calls["flaky"] == 1:
            raise RuntimeError("transient")
        return "ok"

    res = run_lifecycle(
        [
            Stage("generate", lambda ctx: 42, retries=0),
            Stage("process", flaky, retries=2, backoff_sec=0.01),
            Stage("gold", lambda ctx: ctx["generate"] + 1, retries=0),
        ]
    )
    assert res.ok
    assert [s["attempts"] for s in res.stages] == [1, 2, 1]
    assert res.context["gold"] == 43
    out = str(tmp_path / "metrics.json")
    res.write_metrics(out)
    import json

    m = json.load(open(out))
    assert m["ok"] and set(m["stages"]) == {"generate", "process", "gold"}

    # exhausted retries halt the run
    res2 = run_lifecycle(
        [
            Stage("boom", lambda ctx: 1 / 0, retries=1, backoff_sec=0.01),
            Stage("never", lambda ctx: 1, retries=0),
        ]
    )
    assert not res2.ok
    assert [s["stage"] for s in res2.stages] == ["boom"]
    assert res2.stages[0]["attempts"] == 2


def test_pii_redaction_is_shuffle_free(spark):
    """d13 is a pure narrow projection: zero exchanges at any scale."""
    plan = _physical(spark, "d13_pii_redaction")
    assert "Exchange" not in plan, plan


def test_decontamination_probe_broadcasts(spark):
    """d14's eval-gram probe must be a broadcast hash join — the train
    side streams through map tasks; a sort-merge join here would
    shuffle the whole corpus at 100 TB."""
    plan = _physical(spark, "d14_decontamination")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_registered_embedding_paths_never_collect_corpus(spark, monkeypatch):
    """d7/d15's registered lineage must not collect corpus data to the
    driver (the 100 TB stance: the BLAS all-pairs kernel that collects
    the embedding table is a rerank helper, not the capability).
    Connected components may collect O(1) convergence probes plus AT
    MOST ONE byte-bounded edge-set collect (the r11 driver union-find
    tier: the gate measures the materialized edge relation against
    ``DIRECT_EDGE_BOUND`` before collecting, and the distributed
    star fallback past the bound stays probe-only — forced below
    by shrinking the bound)."""
    from pyspark.sql import DataFrame

    from real_time_data_engineering_spark.operators import dedup as D
    from real_time_data_engineering_spark.registry import get

    sizes = []
    orig = DataFrame.collect

    def spy(self):
        out = orig(self)
        sizes.append(len(out))
        return out

    monkeypatch.setattr(DataFrame, "collect", spy)
    get("d7_embedding_neardup").spark(spark, SF_DIR)
    assert sizes == []  # pure plan construction: zero driver collects
    get("d19_embedding_neardup_lsh").spark(spark, SF_DIR)
    assert sizes == []  # the LSH scale path is collect-free too
    get("d15_dup_clusters").spark(spark, SF_DIR)
    big = [n for n in sizes if n > 1]
    assert len(big) <= 1, sizes  # one sanctioned bounded edge collect
    # UNBOUNDED case: with the driver tier forced off, the lineage must
    # degrade to O(1) probes only — the 100 TB stance is the fallback
    sizes.clear()
    monkeypatch.setattr(D, "DIRECT_EDGE_BOUND", -1)
    get("d15_dup_clusters").spark(spark, SF_DIR)
    assert all(n <= 1 for n in sizes), sizes


def test_d15_lineage_is_lsh_not_allpairs(spark, monkeypatch):
    """d15's registered pair feed must be the sub-quadratic LSH
    candidate→rerank path, never an O(N²) all-pairs kernel. The CC
    rounds eagerly localCheckpoint, which truncates the physical plan —
    so the gate spies on the similarity module instead: every quadratic
    pair generator trips, and the LSH path must be what runs."""
    from real_time_data_engineering_spark.operators import similarity as S
    from real_time_data_engineering_spark.registry import get

    lsh_calls = []
    real_lsh = S.embedding_neardup_lsh
    monkeypatch.setattr(
        S, "embedding_neardup_lsh", lambda *a, **k: lsh_calls.append(1) or real_lsh(*a, **k)
    )
    for quad in (
        "embedding_neardup_pairs",
        "embedding_neardup_pairs_blas",
        "embedding_neardup_pairs_blocked",
    ):
        monkeypatch.setattr(
            S,
            quad,
            lambda *a, _q=quad, **k: (_ for _ in ()).throw(
                AssertionError(f"d15 called quadratic kernel {_q}")
            ),
        )
    out = get("d15_dup_clusters").spark(spark, SF_DIR)
    assert lsh_calls, "d15 did not route through embedding_neardup_lsh"
    assert out.count() > 0


def test_blocked_allpairs_matches_blas(spark):
    """The distributed block-matmul all-pairs must produce exactly the
    BLAS kernel's pair set and bit-identical cosines."""
    from real_time_data_engineering_spark.operators import similarity as S
    from real_time_data_engineering_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    blas = {
        (r.v1, r.v2): r.cosine
        for r in S.embedding_neardup_pairs_blas(emb, threshold=0.35).collect()
    }
    for n_blocks in (1, 3, 8):
        blocked = {
            (r.v1, r.v2): r.cosine
            for r in S.embedding_neardup_pairs_blocked(
                emb, threshold=0.35, n_blocks=n_blocks
            ).collect()
        }
        assert blocked == blas, f"n_blocks={n_blocks}"


def test_sequence_packing_single_window_no_extra_shuffle(spark):
    """d18 must plan exactly one Exchange (the shard-keyed window) over
    a pruned scan — packing is a cumsum, not a join."""
    # cached frames from other tests can substitute an InMemoryRelation
    # under this plan and mask the scan-level pruning being asserted
    spark.catalog.clearCache()
    plan = _physical(spark, "d18_sequence_packing")
    assert plan.count("Exchange") <= 2, plan  # hashpartition + the fan-out guard at most
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" in read and "doc_id" in read
    assert "lang" not in read and "source" not in read, read  # pruned


def test_gopher_rules_is_narrow(spark):
    """d20 is a pure per-row projection + no join/window: zero Exchange
    beyond the optional small-scan fan-out repartition."""
    plan = _physical(spark, "d20_gopher_quality")
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_blocked_allpairs_plans_one_shuffle_no_collectlimit(spark):
    """d7's distributed all-pairs: the only wide operation feeding the
    Arrow kernel is the block-pair groupBy; nothing in the plan pulls
    rows to the driver."""
    plan = _physical(spark, "d7_embedding_neardup")
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsIn" in plan, plan
    assert "CollectLimit" not in plan, plan


def test_no_registered_query_plans_a_cartesian_product(all_plans):
    """Blanket 100 TB gate over the ENTIRE registered surface: no query
    may plan an unbroadcast CartesianProduct — the one join shape that
    is quadratic in cluster traffic no matter the data. The only
    nested-loop joins allowed are broadcast ones, and only in the
    similarity queries whose SEMANTICS are a deliberate fan-out of a
    tiny broadcast side (query block / centroid routing) over the
    corpus — the correct IVF/top-k shape."""
    BROADCAST_FANOUT_OK = {
        "s1_cosine_topk",
        "s2_knn_label_vote",
        "s3_ivf_topk",
        "s5_ivf_topk_kmeans",
        "s7_ann_recall",  # composes s1 + s3, inheriting their fan-out
        "s8_ivfpq_topk",  # IVF routing reuses s3/s5's broadcast fan-out
        "s10_hybrid_rrf",  # dense list is s1's broadcast query fan-out
        "s11_hybrid_rrf_ann",  # dense list routes via the persisted IVF-PQ index (s8's fan-out)
        "s13_hybrid_ann_recall",  # composes s1 + s8 + s10/s11, inheriting their fan-outs
        "s14_ivfpq_refine",  # shortlist comes from the index probe (s8's routing fan-out)
        "s15_triplet_mining",  # anchor block broadcast over the corpus (s1's fan-out)
        "s16_mmr_diversified",  # shortlist from s10's fan-out; MMR rounds are metadata-sized
        "s18_ann_forget",  # persisted-index probe = s8's centroid-routing fan-out
        "s19_range_search",  # threshold scan IS s1's broadcast query fan-out
        "s20_range_search_ivf",  # index radius probe = s8's routing fan-out + bounded refine
        "s21_range_recall",  # composes s19 (s1's fan-out) + s20, inheriting both
        "s22_semantic_cell_census",  # exact pair truth IS s19's broadcast fan-out
    }
    for name, plan in all_plans.items():
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
        if name not in BROADCAST_FANOUT_OK:
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{name} plans a nested-loop join outside the sanctioned broadcast fan-outs"
            )


def test_set_similarity_pair_queries_keep_their_exchange_budget(all_plans):
    """The pair queries built on the shared set-similarity core
    (overlap join, doc-frequency cap, MinHash sign → band → estimate)
    may not plan more Exchanges than before those helpers were shared —
    one more shuffle in the core multiplies across every rung. Budgets
    are the counts the per-call copies planned, compiled over a cleared
    cache like ``all_plans`` is."""
    budget = {
        "d2_ngram_jaccard_topk": 55,
        "d5_minhash_lsh": 12,
        "d8_fingerprint_neardup": 14,
        "d21_simhash_neardup": 5,
        "d24_incremental_neardup": 12,
        "d29_editdist_verify": 16,
    }
    over = {
        name: (all_plans[name].count("Exchange"), cap)
        for name, cap in budget.items()
        if all_plans[name].count("Exchange") > cap
    }
    assert not over, f"(exchanges, budget) over budget: {over}"


def test_bench_contention_guard_detects_live_jvm(spark):
    """bench.py's contention guard must see the live JVM this test
    session is running — if it can't detect THIS process's Spark, it
    cannot protect a real bench run from a contended measurement."""
    import bench

    sibs = bench._sibling_jvms()
    assert sibs, "guard found no JVM while a SparkSession is active"
    assert any("java" in s or "spark" in s.lower() for s in sibs), sibs


def test_driver_tail_names_are_registered_and_last():
    """_DRIVER_TAIL must reference real registry entries and all_specs()
    must order them last — a renamed query would silently fall out of
    the driver-budget ordering otherwise."""
    from real_time_data_engineering_spark import registry

    specs = registry.all_specs()
    missing = [n for n in registry._DRIVER_TAIL if n not in specs]
    assert not missing, f"_DRIVER_TAIL names not in registry: {missing}"
    assert list(specs)[-len(registry._DRIVER_TAIL):] == list(registry._DRIVER_TAIL)


def test_r3_green_head_keeps_its_positions():
    """The 50 queries CORRECTNESS_r03 recorded green must occupy the
    first 50 all_specs() positions in the exact r3 order — new
    additions must never evict a previously-green row from a budgeted
    driver artifact (they slot between this head and _DRIVER_TAIL)."""
    from real_time_data_engineering_spark import registry

    specs = list(registry.all_specs())
    head = list(registry._R3_GREEN_HEAD)
    assert specs[: len(head)] == head


def test_r5_artifact_key_order_is_pinned_verbatim():
    """Append-only pin extension (r5 verdict item 4, extended through
    r9 per the r6 item 5 / r7 item 6 / r8 item 6 / r9 item 5 chain):
    the driver's round-5 through round-9 artifacts each went 50/50
    green on exactly the _R3_GREEN_HEAD keys in that order, so the
    committed CORRECTNESS_r0{5..9}.json key lists ARE the contract —
    assert them verbatim against the registry head so no future
    registration change can silently reshuffle a budgeted artifact
    away from its last all-green composition."""
    import json
    import pathlib

    from real_time_data_engineering_spark import registry

    root = pathlib.Path(__file__).resolve().parents[1]
    for artifact in (
        "CORRECTNESS_r05.json",
        "CORRECTNESS_r06.json",
        "CORRECTNESS_r07.json",
        "CORRECTNESS_r08.json",
        "CORRECTNESS_r09.json",
    ):
        keys = list(json.loads((root / artifact).read_text()).keys())
        assert keys == list(registry._R3_GREEN_HEAD), artifact
        assert list(registry.all_specs())[: len(keys)] == keys, artifact


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark):
    """The 100 TB sketch-pruning path: Spark's runtime Bloom filter
    (on by default in the session) injects a might_contain probe into
    the fact side of a shuffle join whose other side is selective —
    the same Bloom prescreen a hand-built decontamination filter would
    add, for free, with exact results. Size thresholds keep it dormant
    at test scale, so the test lowers them to prove the plan shape."""
    from real_time_data_engineering_spark.sources.readers import load_table
    from conftest import SF_DIR_T2

    keys = [
        ("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"),
        ("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"),
        ("spark.sql.autoBroadcastJoinThreshold", "-1"),
    ]
    old = {k: spark.conf.get(k) for k, _ in keys}
    try:
        for k, v in keys:
            spark.conf.set(k, v)
        li = load_table(spark, SF_DIR_T2, "lineitem")
        o = load_table(spark, SF_DIR_T2, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        phys = j._jdf.queryExecution().executedPlan().toString().lower()
        assert "might_contain" in phys or "bloomfilter" in phys
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _windowspec_args(plan: str):
    """Yield the top-level argument lists of every windowspecdefinition
    in a physical-plan string (balanced-paren scan — the frame spec
    nests parens, so a regex can't split the args)."""
    i = 0
    key = "windowspecdefinition("
    while True:
        j = plan.find(key, i)
        if j < 0:
            return
        k = j + len(key)
        depth, args, cur = 1, [], []
        while k < len(plan) and depth:
            ch = plan[k]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            if ch == "," and depth == 1:
                args.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
            k += 1
        args.append("".join(cur).strip())
        yield args
        i = k


def _has_partitionless_window(plan: str) -> bool:
    """True when any window spec carries no partition columns: its
    first argument is already the ordering (ASC/DESC) or the frame
    itself — the 'Moving all data to a single partition' shape."""
    for args in _windowspec_args(plan):
        first = args[0]
        if (
            first.startswith("specifiedwindowframe")
            or " ASC" in first
            or " DESC" in first
        ):
            return True
    return False


def test_no_registered_query_plans_an_unsanctioned_global_window(all_plans):
    """Blanket gate (r5 verdict item 6, the BNLJ-gate precedent): a
    partition-less Window moves ALL rows to one partition — the one
    window shape that cannot scale out — so every registered query's
    plan may contain one only if the query is on the sanctioned list
    below, each entry carrying a one-line justification for why its
    global-window input is BOUNDED (already aggregated to a small,
    data-independent row count) rather than corpus-sized."""
    GLOBAL_WINDOW_BOUNDED_OK = {
        # per-day aggregates: input is one row per calendar day (~2.4k
        # rows at any corpus size); q29 is the measured 100x stitched twin
        "q5_running_revenue": "cumulative sum over one row per day",
        "q9_daily_anomaly": "z-score over one row per day",
        "q28_trailing_window": "trailing frame over one row per day",
        "q29_running_revenue_stitched": "per-shard windows; the global pass sees one summary row per shard (the 100x twin itself)",
        "q32_gap_fill_interpolation": "ffill/interp over one row per calendar day",
        "q4_priority_share": "percent-of-total over 5 priority rows",
        "q43_spend_deciles": "exact NTILE is the documented exact twin; q48 is the shipped sketch path",
        "q46_ks_drift": "CDF over pre-aggregated counts, bounded by the cent-value domain",
        "d50_probe_drift": "q46 kernel: CDF over pre-aggregated score counts, bounded by the score-micro domain",
        "q47_chi_square_independence": "contingency cells: |event types| x |buckets| rows",
        "d26_corpus_bigrams": "rank over the LIMIT-50 survivors only",
        "d31_zipf_fit": "OLS over <=100 quantized log-rank rows",
    }
    offenders = {}
    for name, plan in all_plans.items():
        if _has_partitionless_window(plan):
            offenders[name] = True
    unsanctioned = sorted(set(offenders) - set(GLOBAL_WINDOW_BOUNDED_OK))
    assert not unsanctioned, (
        f"global (partition-less) windows outside the sanctioned bounded list: "
        f"{unsanctioned} — partition the window or justify it here"
    )
    # the sanctioned list must not rot: entries that no longer plan a
    # global window should be pruned (keeps the list <= today's sites)
    stale = sorted(set(GLOBAL_WINDOW_BOUNDED_OK) - set(offenders))
    assert not stale, f"sanctioned entries no longer plan a global window: {stale}"
