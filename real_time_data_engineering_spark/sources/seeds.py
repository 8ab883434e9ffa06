"""Dimension seed data (reference: dbt seeds, FIXTURES.md §F2).

The reference ships these as CSV seeds (taxi_zone_lookup 265 rows,
payment/rate/vendor lookups); here they're generated deterministically
with the documented domains — same shape and key space, synthetic zone
names (we don't copy the reference's data files).

Every seed is a JVM-side relation (a ``spark.range`` or an inline array
of literal structs): no Python list is shipped through a PythonRDD, so
reading a seed starts no Python worker in the otherwise JVM-only DAG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import SEED_SCHEMAS

BOROUGHS = ("Manhattan", "Brooklyn", "Queens", "Bronx", "Staten Island", "EWR", "Unknown")

PAYMENT_TYPES = (
    (1, "Credit card"),
    (2, "Cash"),
    (3, "No charge"),
    (4, "Dispute"),
    (5, "Unknown"),
    (6, "Voided trip"),
)

RATE_CODES = (
    (1, "Standard rate"),
    (2, "JFK"),
    (3, "Newark"),
    (4, "Nassau or Westchester"),
    (5, "Negotiated fare"),
    (6, "Group ride"),
    (99, "Unknown"),
)

VENDORS = ((1, "Creative Mobile Technologies", "CMT"), (2, "VeriFone Inc.", "VFI"))

SERVICE_ZONES = ("Yellow Zone", "Boro Zone", "Airports", "EWR")


def _local(spark: SparkSession, rows, name: str) -> DataFrame:
    """``rows`` as an inline array of literal structs, cast to
    ``SEED_SCHEMAS[name]`` (names, types and nullability) and exploded."""
    structs = F.array(*[F.struct(*map(F.lit, row)) for row in rows])
    schema = T.ArrayType(SEED_SCHEMAS[name], containsNull=False)
    return spark.range(1, numPartitions=1).select(F.inline(structs.cast(schema)))


def taxi_zones(spark: SparkSession, n: int = 265) -> DataFrame:
    """265 zones, ids 1..265, boroughs cycled deterministically."""
    i = F.col("id")

    def cycle(values: tuple[str, ...]):
        return F.array(*map(F.lit, values))[i % len(values)]

    zone = F.struct(i.cast("int"), cycle(BOROUGHS), F.format_string("Zone %03d", i), cycle(SERVICE_ZONES))
    return (
        spark.range(1, n + 1, numPartitions=1)
        .select(zone.cast(SEED_SCHEMAS["taxi_zone_lookup"]).alias("zone"))
        .select("zone.*")
    )


def payment_type_lookup(spark: SparkSession) -> DataFrame:
    return _local(spark, PAYMENT_TYPES, "payment_type_lookup")


def rate_code_lookup(spark: SparkSession) -> DataFrame:
    return _local(spark, RATE_CODES, "rate_code_lookup")


def vendor_lookup(spark: SparkSession) -> DataFrame:
    return _local(spark, VENDORS, "vendor_lookup")
