"""SparkSession factory tuned for this engine.

Local mode is the test harness; the config split below keeps every knob
that matters at cluster scale explicit so the same builder works on a
1000-executor deployment (AQE, adaptive skew join, partition sizing),
while the local overrides (driver memory, shuffle partitions ~ cores)
only apply when master=local.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Settings that are correct at ANY scale: declarative plans + AQE let
# Catalyst re-plan at runtime (coalesce small shuffles, split skewed
# partitions, convert to broadcast when a side turns out small).
_SCALE_INVARIANT = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-optimize INSIDE cached plans (off by default): the
    # dedup ladder persists its exploded working relations DISK_ONLY,
    # and with this off the persisted subtree keeps the static
    # shuffle-partition count — tiny partitions at bench scale (the
    # measured source of d8's 8-core-beats-32 anti-scaling: r11 A/B
    # d8 1.84→1.13 s, d15 3.18→2.04, d5 1.18→0.92 at c32), unsized
    # partitions at any scale. AQE decides by bytes
    # (advisoryPartitionSizeInBytes), so this is scale-adaptive, not a
    # local tune; results are unaffected (execution layout only).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    # 128 MB input splits — the reference's Iceberg target file size;
    # keeps scan tasks right-sized at 100 TB (≈ 800k tasks, amortized).
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # The driver corpus stores TIMESTAMP(NANOS) parquet, which Spark's
    # vectorized reader rejects; read as int64 nanos and convert at the
    # source (sources.readers normalizes to microsecond timestamps).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _driver_mem() -> str:
    """Local driver heap: a third of physical RAM, 2–48 GiB. In local
    mode the driver JVM also runs every task, and a fixed large heap
    lets it grow past a small machine's RAM until the kernel kills it."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(2, ram // 3 // 1024**3))}g"


def get_spark(
    app_name: str = "real_time_data_engineering_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so tests and the bench harness share one code path. On a real
    cluster, pass ``master=None`` with ``SPARK_MASTER`` unset externally
    via spark-submit and none of the local-only settings are applied.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _SCALE_INVARIANT.items():
        builder = builder.config(k, v)
    if shuffle_partitions is None:
        # Local single-JVM: shuffle width ~ cores. On a cluster this is
        # overridden (or left to AQE's initialPartitionNum).
        shuffle_partitions = cpus if master.startswith("local") else 200
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if master.startswith("local"):
        builder = (
            builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _driver_mem()))
            .config("spark.ui.enabled", "false")
            .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
