"""Full-pipeline run over synthetic dirty data + the reference's
invariant suite (FIXTURES.md §F7, validate.py + Soda checks) and the
dbt-style check accounting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_time_data_engineering_spark.checks import asserts as A
from real_time_data_engineering_spark.plans.taxi_pipeline import run_pipeline
from real_time_data_engineering_spark.testing.taxi_datagen import generate_raw_trips


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    raw = generate_raw_trips(spark, n_valid=2000)
    wh = str(tmp_path_factory.mktemp("warehouse"))
    return run_pipeline(spark, raw, warehouse_dir=wh).built


def test_rowcount_monotonicity(built):
    """validate.py:106-116 — count(stg) ≥ count(int) = count(fct)."""
    stg = built["stg_yellow_trips"].count()
    itm = built["int_trip_metrics"].count()
    fct = built["fct_trips"].count()
    assert stg >= itm
    assert itm == fct


def test_daily_rows_and_dims(built):
    """validate.py:119-134 — daily grain ≤ 31 rows; 265 unique zones."""
    daily = built["int_daily_summary"].count()
    assert 1 <= daily <= 31
    assert built["mart_daily_revenue"].count() == daily
    dim = built["dim_locations"]
    assert dim.count() == 265
    assert dim.select("location_id").distinct().count() == 265


def test_trip_id_unique(built):
    assert A.evaluate(built["stg_yellow_trips"], [A.unique("trip_id", "silver")])[0].passed


def test_money_invariants(built):
    """silver_checks.yml:9-12 — min(fare) ≥ 0 after cleaning."""
    row = built["stg_yellow_trips"].agg(F.min("fare_amount").alias("m")).first()
    assert row["m"] >= 0


def test_idempotent_rebuild(spark, built, tmp_path):
    """validate.py:43-78 — rebuilding from the same input yields identical
    counts (3-run idempotency collapsed to 2 here)."""
    raw = generate_raw_trips(spark, n_valid=2000)
    again = run_pipeline(spark, raw, warehouse_dir=str(tmp_path / "wh2")).built
    for m in ("stg_yellow_trips", "fct_trips", "mart_daily_revenue"):
        assert built[m].count() == again[m].count()


def test_dbt_style_check_suite(built):
    """The 94-test analogue: generic + singular + contract + Soda metric
    checks (the shared full-DAG suite bench.py also runs), with
    dbt-style PASS/WARN/ERROR accounting — must have zero errors."""
    from real_time_data_engineering_spark.checks.taxi_suite import taxi_check_suite

    summary, flat = taxi_check_suite(built)
    errors = [r for r in flat if not r.passed and r.severity == "error"]
    assert not errors, f"{summary}: {[(r.name, r.detail) for r in errors]}"
    # the generator plants one unknown pickup zone: the relationships warn
    assert summary == "PASS=25 WARN=1 ERROR=0 TOTAL=26", summary
    # the suite must exercise every check class, Soda metrics included
    assert any(r.name.startswith("metric:") for r in flat)
    assert any(r.name.startswith("contract:") for r in flat)


def _inject(df, *variants):
    """``df`` plus one copy of its first row per variant, with the
    variant's columns overwritten (cast to the column's type)."""
    first = df.first().asDict()
    types = dict(df.dtypes)
    for cols in variants:
        row = {**first, **cols}
        df = df.unionByName(
            df.sparkSession.range(1).select(*[F.lit(v).cast(types[c]).alias(c) for c, v in row.items()])
        )
    return df


def test_check_suite_fails_on_violations(built):
    """Each check class turns red on the violation it exists to catch."""
    import datetime

    from real_time_data_engineering_spark.checks.taxi_suite import taxi_check_suite

    stg = built["stg_yellow_trips"]
    pickup = stg.first()["pickup_datetime"]
    bad = dict(built)
    bad["stg_yellow_trips"] = _inject(
        stg,
        {"trip_id": None},
        {},  # an exact copy: a duplicate trip_id
        {"trip_id": "bad-vendor", "vendor_id": 9},
        {"trip_id": "bad-neg", "fare_amount": -5, "total_amount": -5},
        {"trip_id": "bad-fare", "fare_amount": 50, "total_amount": 10},
        {"trip_id": "bad-back", "dropoff_datetime": pickup - datetime.timedelta(hours=1)},
        {"trip_id": "bad-pax", "passenger_count": 20},
    )
    bad["int_trip_metrics"] = _inject(
        built["int_trip_metrics"],
        {"trip_id": "bad-hour", "pickup_hour": 30},
        {"trip_id": "bad-zero", "trip_duration_minutes": 0},
    )
    bad["fct_trips"] = _inject(
        built["fct_trips"],
        {"trip_id": "bad-orphan", "pickup_location_id": 999},
        {},
        {"trip_id": "bad-total", "total_amount": -5},
    )
    bad["mart_daily_revenue"] = built["mart_daily_revenue"].limit(0)

    summary, flat = taxi_check_suite(bad)
    failed = {r.name: r for r in flat if not r.passed}
    expected = {
        "not_null:stg.trip_id": "error",
        "unique:stg.trip_id": "error",
        "accepted_values:stg.vendor_id": "warn",
        "positive_value:stg.fare_amount": "error",
        "positive_value:stg.total_amount": "error",
        "singular:fare_not_exceeds_total": "error",
        "singular:trip_duration_positive": "error",
        "metric:stg.duplicate_count(trip_id)∈[-inf,0]": "error",
        "metric:stg.min(fare_amount)∈[0,inf]": "error",
        "metric:stg.max(passenger_count)∈[-inf,8]": "warn",
        "accepted_range:int.pickup_hour": "error",
        "accepted_range:int.trip_duration_minutes": "error",
        "metric:fct.duplicate_count(trip_id)∈[-inf,0]": "error",
        "metric:fct.min(total_amount)∈[0,inf]": "error",
        "relationships:fct.pickup_location_id": "warn",
        "metric:mart_daily_revenue.row_count∈[1,inf]": "error",
        "metric:mart_daily_revenue.min(total_trips)∈[1,inf]": "error",
    }
    assert {n: r.severity for n, r in failed.items()} == expected, summary
    assert summary == "PASS=9 WARN=3 ERROR=14 TOTAL=26", summary
    # row-level tests report exact violator counts; unique counts extra rows
    assert failed["not_null:stg.trip_id"].failing_rows == 1
    assert failed["unique:stg.trip_id"].failing_rows == 1
    assert failed["relationships:fct.pickup_location_id"].failing_rows == 2


def test_freshness_check(built):
    """S13 source freshness: a lower bound on max(pickup_datetime) that
    warns (never errors) when the newest row is older than the SLA."""
    import datetime

    stg = built["stg_yellow_trips"]
    newest = stg.agg(F.max("pickup_datetime")).first()[0]
    recent = (newest + datetime.timedelta(hours=1)).isoformat()
    stale = (newest + datetime.timedelta(hours=48)).isoformat()
    fresh, old = A.evaluate(
        stg,
        [A.freshness("pickup_datetime", recent, 24, "stg"), A.freshness("pickup_datetime", stale, 24, "stg")],
    )
    assert fresh.passed and fresh.name == "freshness:stg.pickup_datetime"
    assert not old.passed and old.severity == "warn"
    assert A.run_checks([fresh, old])[0] == "PASS=1 WARN=1 ERROR=0 TOTAL=2"


def test_seed_dims_are_jvm_local(spark, built):
    """The seed dims are JVM-side relations (no PythonRDD scan, so no
    Python worker) with the documented rows and SEED_SCHEMAS types."""
    from real_time_data_engineering_spark.schemas import SEED_SCHEMAS
    from real_time_data_engineering_spark.sources import seeds

    plan = built["dim_locations"]._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan
    zones = seeds.taxi_zones(spark)
    assert zones.schema == SEED_SCHEMAS["taxi_zone_lookup"]
    rows = sorted(zones.collect())
    assert [r.LocationID for r in rows] == list(range(1, 266))
    assert tuple(rows[0]) == (1, "Brooklyn", "Zone 001", "Boro Zone")
    assert tuple(rows[-1]) == (265, seeds.BOROUGHS[265 % 7], "Zone 265", seeds.SERVICE_ZONES[265 % 4])
    for fn, name, want in (
        (seeds.payment_type_lookup, "payment_type_lookup", seeds.PAYMENT_TYPES),
        (seeds.rate_code_lookup, "rate_code_lookup", seeds.RATE_CODES),
        (seeds.vendor_lookup, "vendor_lookup", seeds.VENDORS),
    ):
        df = fn(spark)
        assert df.schema == SEED_SCHEMAS[name]
        assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()
        assert sorted(map(tuple, df.collect())) == sorted(want)
    assert (len(seeds.PAYMENT_TYPES), len(seeds.RATE_CODES), len(seeds.VENDORS)) == (6, 7, 2)


def test_dag_failure_propagates(spark):
    """A model that raises fails the whole run with that same exception,
    and no model downstream of it is built."""
    from real_time_data_engineering_spark.plans.dag import DagRunner, Model

    err = ValueError("model a failed")
    seen: dict = {}
    called: list[str] = []

    def boom(b):
        seen["built"] = b
        raise err

    def child(b):
        called.append("b")
        return b["a"]

    runner = DagRunner(spark)
    runner.add(Model("a", boom))
    runner.add(Model("b", child, ("a",)))
    with pytest.raises(ValueError) as caught:
        runner.run()
    assert caught.value is err
    assert not called and "b" not in seen["built"] and "a" not in seen["built"]


def test_contract_enforcement(built):
    """core.yml contracts: silver schema must match exactly."""
    from real_time_data_engineering_spark.schemas import SILVER_TRIP

    res = A.expect_schema(built["stg_yellow_trips"], SILVER_TRIP, "stg_yellow_trips")
    assert res.passed, res.detail


def test_anomaly_model_shape(built):
    an = built["anomaly_daily_trips"]
    assert an.count() == built["int_daily_summary"].count()
    assert set(an.columns) >= {"z_score", "is_anomaly_zscore", "is_anomaly_iqr", "is_anomaly"}


def test_mart_location_performance_modes(built):
    mlp = built["mart_location_performance"]
    row = mlp.first()
    assert row.most_common_dropoff is not None
    assert 0 <= row.most_common_hour <= 23


def test_incremental_fct_equals_full_recompute(spark, tmp_path):
    """run_incremental over day-partitioned batches must converge to the
    same fct_trips as one full run over the union — and each increment
    rewrites only its own pickup_date partitions."""
    import os

    from real_time_data_engineering_spark.operators.gold import (
        dim_locations,
        fct_trips,
        int_trip_metrics,
        stg_taxi_zones,
    )
    from real_time_data_engineering_spark.operators.silver import silver_transform
    from real_time_data_engineering_spark.plans.taxi_pipeline import run_incremental
    from real_time_data_engineering_spark.sources import seeds

    raw = generate_raw_trips(spark, n_valid=600).cache()
    days = [r[0] for r in
            silver_transform(raw).select("pickup_date").distinct().orderBy("pickup_date").collect()]
    assert len(days) >= 2
    split = days[len(days) // 2]
    wh = str(tmp_path / "wh")
    first = raw.filter(F.to_date("tpep_pickup_datetime") < F.lit(split))
    second = raw.filter(F.to_date("tpep_pickup_datetime") >= F.lit(split))

    run_incremental(spark, first, wh)
    d0 = f"{wh}/fct_trips/pickup_date={days[0]}"
    before = {f: os.path.getmtime(os.path.join(d0, f)) for f in os.listdir(d0)}
    touched = run_incremental(spark, second, wh)
    assert str(split) in touched and str(days[0]) not in touched
    after = {f: os.path.getmtime(os.path.join(d0, f)) for f in os.listdir(d0)}
    assert before == after  # first day's files untouched by the second increment

    got = spark.read.parquet(f"{wh}/fct_trips")
    want = fct_trips(
        int_trip_metrics(silver_transform(raw)),
        dim_locations(stg_taxi_zones(seeds.taxi_zones(spark))),
    )
    cols = sorted(set(got.columns) & set(want.columns))
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )
