from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_T2 = os.environ.get("SPARK_GRAFT_T2_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from real_time_data_engineering_spark.session import get_spark

    # Tests run sf0.001 data where the job-scheduling floor, not
    # compute, dominates: the r10 scaling block measured most of the
    # suite FLAT-TO-FASTER on 8 cores than 32 even at sf0.1, and the
    # full pytest run outgrew the driver's verification window
    # (VERIFY_r10 tests_ok=false, truncated at 16%). 8 workers cut the
    # per-stage task churn (32 tiny tasks → 8) without changing any
    # plan shape the gates assert on. Override with SPARK_GRAFT_TEST_CPUS.
    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")
    extra = {}
    if os.environ.get("SPARK_GRAFT_TEST_AQE", "") == "off":
        # A/B knob: AQE re-plans per materialized stage, which at
        # sf0.001 is pure per-query latency; flip off to measure.
        extra = {"spark.sql.adaptive.enabled": "false"}
    s = get_spark(
        app_name="tests", master=f"local[{cpus}]", shuffle_partitions=8, extra_conf=extra
    )
    yield s


@pytest.fixture(scope="session")
def differ(spark):
    from real_time_data_engineering_spark.checks.oracle import OracleDiffer

    return OracleDiffer(spark, SF_DIR)


#: Registered queries whose lineage WRITES a persisted per-(kind,
#: corpus) work_dir (AST-traced through the registry call graph:
#: direct `work_dir` calls + helpers). The CAS manifests inside assume
#: a single writer (the driver, bench and sweep all run sequentially),
#: so these must never run concurrently with anything.
STATEFUL_QUERIES = frozenset(
    {
        "q49_gdpr_delete_mor",
        "d42_bm25_index",
        "d43_countmin_union",
        "d44_index_decontam",
        "d45_incremental_dedup",
        "d46_minhash_index",
        "d51_incremental_ingest",
        "d52_bm25_forget",
        "d53_drift_retrain",
        "s11_hybrid_rrf_ann",
        "s13_hybrid_ann_recall",
        "s14_ivfpq_refine",
        "s18_ann_forget",
        "s20_range_search_ivf",
        "s21_range_recall",
    }
)


@pytest.fixture(scope="session")
def all_plans(spark):
    """{query name: executedPlan string} over the whole registry,
    compiled ONCE per session — the blanket plan gates each swept all
    127 queries themselves (plan CONSTRUCTION executes the eager parts
    of the iterative lineages, so one sweep costs minutes), and two
    sweeps doubled it. Stateless queries compile through a small thread
    pool (guide §2.6 — construction wall is the job-scheduling floor);
    work_dir-writing queries compile sequentially afterwards."""
    from concurrent.futures import ThreadPoolExecutor

    from real_time_data_engineering_spark.registry import all_specs

    specs = all_specs()
    # an InMemoryRelation another test already materialized prints its
    # final plan and re-costs the joins above it, so plan shapes (and
    # Exchange counts) would depend on which tests ran first
    spark.catalog.clearCache()

    def plan_of(item):
        name, spec = item
        return name, spec.spark(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()

    plans = {}
    stateless = [(n, s) for n, s in specs.items() if n not in STATEFUL_QUERIES]
    with ThreadPoolExecutor(max_workers=4) as pool:
        for name, plan in pool.map(plan_of, stateless, timeout=3600):
            plans[name] = plan
    for item in ((n, s) for n, s in specs.items() if n in STATEFUL_QUERIES):
        name, plan = plan_of(item)
        plans[name] = plan
    return plans


@pytest.fixture(scope="session")
def load(spark):
    """Corpus table loader bound to the unit-test scale factor."""
    from real_time_data_engineering_spark.sources.readers import load_table

    return lambda name: load_table(spark, SF_DIR, name)
