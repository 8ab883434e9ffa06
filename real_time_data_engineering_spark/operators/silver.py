"""Bronze → Silver transform: the reference's most-replicated logic.

Implements the canonical Silver contract (SURVEY.md §2.2) in one place —
the reference re-implements this 8+ times (Flink SQL 06-silver.sql,
Spark silver_transform.py, RisingWave/Materialize MVs, Bytewax, Kafka
Streams, dbt staging); here it is a single composable DataFrame
function reused identically by the batch path and the streaming
foreachBatch path (micro-batch = batch is Spark's whole advantage).

Semantics (reference citations):
* P1 rename/cast/round — stg_yellow_trips.sql:26-50
* P2 quality filter     — stg_yellow_trips.sql:53-59
* P3 md5 surrogate key  — stg_yellow_trips.sql:15-23 (dbt
  generate_surrogate_key coalesces NULL→'' before concat; Spark's
  concat_ws *skips* nulls, so the coalesce is explicit here)
* W1 keep-latest dedup  — flink/sql/06-silver.sql:42-58
* pickup_date partition — 06-silver.sql:32
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# The 7-column natural key used for both the surrogate key and dedup
# (06-silver.sql:60-68).
NATURAL_KEY = (
    "VendorID",
    "tpep_pickup_datetime",
    "tpep_dropoff_datetime",
    "PULocationID",
    "DOLocationID",
    "fare_amount",
    "total_amount",
)

# Raw money column → silver name (stg_yellow_trips.sql:38-48; extra →
# extra_amount, Airport_fee → airport_fee).
MONEY_RENAMES = {
    "fare_amount": "fare_amount",
    "extra": "extra_amount",
    "mta_tax": "mta_tax",
    "tip_amount": "tip_amount",
    "tolls_amount": "tolls_amount",
    "improvement_surcharge": "improvement_surcharge",
    "total_amount": "total_amount",
    "congestion_surcharge": "congestion_surcharge",
    "Airport_fee": "airport_fee",
}

VALID_FROM = "2024-01-01"
VALID_UNTIL = "2024-02-01"  # exclusive


def surrogate_trip_id(df_cols_prefix: str = "") -> Column:
    """md5 over the natural key, dbt-style (NULL → '' per component)."""
    parts = [
        F.coalesce(F.col(f"{df_cols_prefix}{c}").cast("string"), F.lit(""))
        for c in NATURAL_KEY
    ]
    return F.md5(F.concat_ws("|", *parts))


def quality_filter(raw: DataFrame) -> DataFrame:
    """P2: non-null timestamps, non-negative distance/fare, January 2024."""
    pickup_date = F.to_date("tpep_pickup_datetime")
    return raw.filter(
        F.col("tpep_pickup_datetime").isNotNull()
        & F.col("tpep_dropoff_datetime").isNotNull()
        & (F.col("trip_distance") >= 0)
        & (F.col("fare_amount") >= 0)
        & (pickup_date >= F.lit(VALID_FROM).cast("date"))
        & (pickup_date < F.lit(VALID_UNTIL).cast("date"))
    )


def dedup_latest(raw: DataFrame, ingestion_col: str = "ingestion_ts") -> DataFrame:
    """W1: keep the latest copy of each natural key.

    Batch form of the streaming `dropDuplicatesWithinWatermark` — both
    paths keep exactly one row per natural key; the stream bound is the
    watermark TTL (see streaming.ingest).
    """
    order = [F.desc(ingestion_col)] if ingestion_col in raw.columns else []
    w = Window.partitionBy(*[F.col(c) for c in NATURAL_KEY]).orderBy(
        *order, F.desc("tpep_pickup_datetime")
    )
    return raw.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def rename_cast(raw: DataFrame) -> DataFrame:
    """P1 + P3: the silver projection (snake_case, typed, decimal money)."""
    money_cols = [
        F.round(F.col(src), 2).cast("decimal(10,2)").alias(dst)
        for src, dst in MONEY_RENAMES.items()
    ]
    return raw.select(
        surrogate_trip_id().alias("trip_id"),
        F.col("VendorID").cast("int").alias("vendor_id"),
        F.col("tpep_pickup_datetime").alias("pickup_datetime"),
        F.col("tpep_dropoff_datetime").alias("dropoff_datetime"),
        F.col("passenger_count").cast("int").alias("passenger_count"),
        F.col("trip_distance").alias("trip_distance_miles"),
        F.col("RatecodeID").cast("int").alias("rate_code_id"),
        F.col("store_and_fwd_flag"),
        F.col("PULocationID").cast("int").alias("pickup_location_id"),
        F.col("DOLocationID").cast("int").alias("dropoff_location_id"),
        F.col("payment_type").cast("int").alias("payment_type_id"),
        *money_cols,
        F.to_date("tpep_pickup_datetime").alias("pickup_date"),
    )


def silver_transform(raw: DataFrame) -> DataFrame:
    """The full Bronze→Silver pipeline: filter → dedup → project.

    At scale: the filter is pushed into the scan; dedup is the only
    shuffle (keyed on the natural key, AQE-skew-safe); the projection is
    narrow. Downstream writes partition by ``pickup_date``.
    """
    return rename_cast(dedup_latest(quality_filter(raw)))
