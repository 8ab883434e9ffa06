"""Batch readers for the engine.

Parquet is the canonical columnar store (reference stores Iceberg/Delta/
Hudi-backed zstd parquet; we read/write plain parquet + metadata). All
readers take explicit schemas — schema inference never runs in a
production path.

At 100 TB the scan layer is where efficiency is won: `spark.read
.parquet` gives Catalyst a relation it can push filters into and prune
columns from, so every downstream `select`/`filter` reaches the parquet
footer as PushedFilters/ReadSchema. Nothing here materializes data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TABLE_NAMES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table (lazy parquet relation, pushdown-capable).

    ``events.ts`` is TIMESTAMP(NANOS) on disk; with the session's
    ``nanosAsLong`` conf it scans as int64 nanos, which we truncate to
    microsecond timestamps — the same floor DuckDB applies — so both
    engines observe identical instants.
    """
    if name == "events":
        # Set on the *caller's* session (the driver passes its own, which
        # won't have our session-factory conf) — runtime-settable SQLConf.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Corpus-format tolerance: parquet written by other engines (e.g.
    # DuckDB) carries isAdjustedToUTC=false → TIMESTAMP_NTZ in Spark,
    # which unix_micros()/window() reject. The engine's session runs in
    # UTC, where NTZ→LTZ is instant-preserving, so normalize at the scan
    # (a zero-cost cast — pushdown/pruning are unaffected).
    ntz = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> None:
    """Register every corpus table as a temp view for the SQL API."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def ensure_min_partitions(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition IFF the input is under-parallel.

    Small compact parquet files scan as one partition (one row group =
    one task), which serializes CPU-heavy narrow operators (per-doc
    hashing, shingling, LSH bit computation). Shuffling a few MB of
    rows to ``defaultParallelism`` partitions buys full-core fan-out.
    Conditional on the *current* partition count, so on a real cluster
    reading thousands of splits this is a no-op — it never becomes a
    100 TB shuffle.
    """
    sc = df.sparkSession.sparkContext
    n = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def read_evolving(
    spark: SparkSession,
    path: str,
    target: "T.StructType",
    defaults: dict[str, object] | None = None,
) -> DataFrame:
    """Schema-evolution-tolerant scan: read a parquet directory whose
    older files predate newer columns, and present the full ``target``
    schema — missing columns filled with ``defaults`` (or typed NULLs)
    and cast to the contract types.

    ``mergeSchema`` makes the footer union visible to Catalyst; columns
    absent from every file are synthesized. Extra on-disk columns not in
    the contract are dropped (never silently passed through). Pruning
    and pushdown survive: the synthesized columns are literals, and the
    contract columns still resolve to the parquet scan.
    """
    from pyspark.sql import types as T  # noqa: F401  (annotation aid)

    raw = spark.read.option("mergeSchema", "true").parquet(path)
    have = {f.name for f in raw.schema.fields}
    d = defaults or {}
    cols = []
    for f in target.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(d.get(f.name)).cast(f.dataType).alias(f.name))
    return raw.select(*cols)
