"""The full-DAG check accounting: every dbt-class and Soda-class check
over the built taxi medallion, one callable, one N/N summary.

This is the analogue of the reference's published "91/91 PASS" build
accounting (docs/BENCHMARK_RESULTS.md:42): the dbt test classes
(not_null / unique / accepted_values / relationships / range / custom
generic / singular / contract) from nyc_taxi_dbt's schema ymls, plus
the Soda table-level metric bounds
(pipelines/11-observability-stack/soda/checks/silver_checks.yml:4-12,
gold_checks.yml:2-14). Used by tests AND by bench.py's taxi E2E stage,
so the accounting ships with every benchmark record.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import SILVER_TRIP
from . import asserts as A


def taxi_check_suite(
    built: dict[str, DataFrame], min_rows: int = 1000
) -> tuple[str, list[A.CheckResult]]:
    """Run every check class over a built pipeline; returns the
    dbt-style ``PASS=n WARN=n ERROR=n TOTAL=n`` summary + results.

    Each table's checks run as one aggregation (``A.evaluate``), so the
    suite is five Spark actions: four tables plus the relationships
    anti-join. ``min_rows`` scales the Soda row_count floor to the
    corpus (the reference's 5000 assumes its 10k-event generator).
    """
    stg, fct = built["stg_yellow_trips"], built["fct_trips"]
    stg_checks = [
        # dbt generic tests (schema ymls)
        *A.not_null(["trip_id", "pickup_datetime", "dropoff_datetime", "pickup_date"], "stg"),
        A.unique("trip_id", "stg"),
        A.accepted_values("vendor_id", [1, 2, 6], "stg"),
        A.accepted_values("rate_code_id", [1, 2, 3, 4, 5, 6, 99], "stg"),
        A.accepted_values("payment_type_id", [0, 1, 2, 3, 4, 5, 6], "stg"),
        # custom generic (macros/test_positive_value.sql)
        A.positive_value("fare_amount", "stg"),
        A.positive_value("total_amount", "stg"),
        # singular tests
        A.singular(
            (F.col("fare_amount") > F.col("total_amount") + 0.01) & (F.col("total_amount") > 0),
            "fare_not_exceeds_total",
        ),
        A.singular(F.col("dropoff_datetime") < F.col("pickup_datetime"), "trip_duration_positive"),
        # Soda-class table metric bounds
        A.metric("row_count", None, min_rows, None, "stg"),
        A.metric("duplicate_count", "trip_id", None, 0, "stg"),
        A.metric("min", "fare_amount", 0, None, "stg"),
        A.metric("avg", "fare_amount", 1, 100, "stg"),
        A.metric("max", "passenger_count", None, 8, "stg", severity="warn"),
    ]
    int_checks = [
        A.accepted_range("trip_duration_minutes", 1, 720, "int"),
        A.accepted_range("pickup_hour", 0, 23, "int"),
    ]
    fct_checks = [
        A.metric("row_count", None, min_rows, None, "fct"),
        A.metric("duplicate_count", "trip_id", None, 0, "fct"),
        A.metric("min", "total_amount", 0, None, "fct"),
    ]
    mart_checks = [
        A.metric("row_count", None, 1, None, "mart_daily_revenue"),
        A.metric("min", "total_trips", 1, None, "mart_daily_revenue"),
    ]
    return A.run_checks([
        *A.evaluate(stg, stg_checks),
        A.expect_schema(stg, SILVER_TRIP, "stg_yellow_trips"),
        *A.evaluate(built["int_trip_metrics"], int_checks),
        *A.evaluate(fct, fct_checks),
        A.relationships(fct, "pickup_location_id", built["dim_locations"], "location_id", "fct"),
        *A.evaluate(built["mart_daily_revenue"], mart_checks),
    ])
