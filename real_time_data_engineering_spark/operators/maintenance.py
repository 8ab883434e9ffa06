"""Storage maintenance: compaction, file sizing, sort-on-write.

The reference runs nightly Iceberg maintenance (rewrite_data_files
binpack + sort by pickup_date, snapshot expiry, orphan cleanup —
Makefile:186-221, iceberg_maintenance_dag.py:30-80). On plain parquet
the same capability is: measure the file-size histogram, rewrite
undersized layouts to ~target-size files (optionally clustered on a
key for min/max pruning), and swap atomically.

Scale note: compaction is itself a big job at 100 TB — the rewrite
reads and rewrites only the partitions whose small-file count crosses
the threshold (pass `partition_filter`), never the whole lake.

Table-format note: these are the plain-parquet emulations of Delta
MERGE / OPTIMIZE / dynamic overwrite (and Iceberg rewrite_data_files /
snapshot expiry). delta-spark is NOT available in this environment
(verified: no package, no jars, no network); the operator semantics
are written so a Delta backend can replace the staging-swap bodies
without touching any caller (merge_upsert ≙ MERGE INTO,
incremental_overwrite ≙ replaceWhere/dynamic overwrite,
compact_parquet ≙ OPTIMIZE). For the COMMIT-PROTOCOL side the formats
provide — snapshot isolation, atomic metadata swap, time travel,
optimistic concurrency, expire/vacuum retention — see
`operators.manifest.ManifestTable`, which implements it directly on
the filesystem (no library needed).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession


# The characters Hive/Spark escape in partition dir names
# (Hive FileUtils.escapePathName / Spark ExternalCatalogUtils — verified
# empirically on Spark 4.1.2: 'a=b/c%d e' renders as 'a%3Db%2Fc%25d e';
# '{' is in Spark's charToEscape set and renders as %7B).
_HIVE_UNSAFE = set('"#%\'*/:=?\\\x7f[]^{')


def _hive_escape(value: str) -> str:
    """Render a partition VALUE the way Spark renders it into the
    ``key=value`` dir name: %XX-escape Hive's unsafe set + control
    chars, pass everything else (incl. space) through."""
    return "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_UNSAFE or ord(ch) < 0x20 else ch
        for ch in value
    )


def _hive_part_value(v) -> str:
    """Partition value → its exact on-disk dir rendering (NULL becomes
    Hive's default-partition sentinel)."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    return _hive_escape(str(v))


def _partition_columns(path: str) -> list[str]:
    """Hive-style partition columns inferred from ``key=value`` dir names,
    outermost first (follows one branch — layout is uniform by contract)."""
    cols: list[str] = []
    cur = path
    while True:
        subdirs = [
            d
            for d in sorted(os.listdir(cur))
            if "=" in d and os.path.isdir(os.path.join(cur, d))
        ]
        if not subdirs:
            return cols
        cols.append(subdirs[0].split("=", 1)[0])
        cur = os.path.join(cur, subdirs[0])


def _hive_leaf_dirs(path: str, part_cols: list[str]) -> dict[str, int]:
    """rel_dir -> parquet bytes for every hive leaf partition directory
    (depth == len(part_cols), every segment key=value)."""
    out: dict[str, int] = {}
    for root, _dirs, names in os.walk(path):
        rel = os.path.relpath(root, path)
        if rel == ".":
            continue
        segs = rel.split(os.sep)
        if len(segs) != len(part_cols) or not all("=" in s for s in segs):
            continue
        size = sum(
            os.path.getsize(os.path.join(root, n)) for n in names if n.endswith(".parquet")
        )
        if size or any(n.endswith(".parquet") for n in names):
            out[rel] = size
    return out


def table_stats(path: str) -> dict:
    """File-level health of a parquet directory (the compaction input)."""
    files = []
    for root, _dirs, names in os.walk(path):
        files.extend(
            os.path.getsize(os.path.join(root, n))
            for n in names
            if n.endswith(".parquet")
        )
    total = sum(files)
    return {
        "n_files": len(files),
        "total_bytes": total,
        "avg_file_bytes": total // len(files) if files else 0,
        "min_file_bytes": min(files) if files else 0,
    }


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    sort_by: list[str] | None = None,
    partition_filter: str | None = None,
) -> dict:
    """Binpack-rewrite a parquet dir to ~target_mb files, atomically.

    Repartitions to ceil(bytes/target) output files (clustered with
    sortWithinPartitions when ``sort_by`` is given — the ZORDER-lite
    that makes parquet min/max stats prune), writes to a staging dir,
    then swaps. A hive-partitioned layout is preserved (rewritten with
    ``partitionBy`` on the discovered columns, rows clustered by
    partition key so each partition lands in ~target-size files).

    ``partition_filter`` (an expression over the PARTITION columns only
    — enforced) compacts just the matching partition directories and
    swaps each one individually; every non-matching partition's files
    are left byte-untouched. This is what keeps compaction incremental
    at 100 TB: the rewrite touches the partitions whose small-file
    count crossed the threshold, never the whole lake.
    """
    from pyspark.sql import functions as F

    mb = target_mb * 1024 * 1024
    before = table_stats(path)
    part_cols = _partition_columns(path)
    df = spark.read.parquet(path)
    staging = f"{path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"

    if partition_filter is not None:
        if not part_cols:
            raise ValueError(
                f"partition_filter requires a hive-partitioned table; no key=value dirs under {path}"
            )
        # Guard: the filter must reference partition columns only — a
        # row-level predicate would silently drop the non-matching rows
        # of every swapped partition. Analyze it against a standalone
        # frame holding just the partition columns (a projection of `df`
        # wouldn't do: the analyzer resolves missing filter references
        # through a Project).
        from pyspark.sql import types as T

        probe_schema = T.StructType([df.schema[c] for c in part_cols])
        try:
            spark.createDataFrame([], probe_schema).filter(partition_filter).schema
        except Exception as exc:
            raise ValueError(
                f"partition_filter may reference only partition columns {part_cols}: {exc}"
            ) from exc
        subset = df.filter(partition_filter)
        # inputFiles() is NOT partition-pruned for path-based parquet
        # reads (verified on Spark 4.1.2: a filtered read lists ALL
        # table files), so the matching directories must come from the
        # data: evaluate the filter's distinct partition-key tuples
        # (partition pruning applies at execution, so this scans only
        # matching partitions' footers) and match them against the hive
        # leaf dirs on disk by their written value strings — rendered
        # through the SAME %XX escaping Spark applies when writing the
        # dirs (`_hive_part_value`), so string partitions containing
        # '='/'/'/'%' match their directories instead of silently
        # missing them.
        wanted = {
            tuple(_hive_part_value(r[c]) for c in part_cols)
            for r in subset.select(*part_cols).distinct().collect()
        }
        leaf = _hive_leaf_dirs(path, part_cols)
        rel_dirs = sorted(
            rel
            for rel in leaf
            if tuple(s.split("=", 1)[1] for s in rel.split(os.sep)) in wanted
        )
        subset_bytes = sum(leaf[rel] for rel in rel_dirs)
        per_part = max(1, round(subset_bytes / (max(len(rel_dirs), 1) * mb)))
        n_out = max(1, len(rel_dirs) * per_part)
        salt = F.pmod(F.xxhash64(*subset.columns), F.lit(per_part))
        out = subset.repartition(n_out, *[F.col(c) for c in part_cols], salt)
        if sort_by:
            out = out.sortWithinPartitions(*sort_by)
        out.write.mode("overwrite").partitionBy(*part_cols).parquet(staging)
        swapped = []
        for rel in rel_dirs:
            src, dst = os.path.join(staging, rel), os.path.join(path, rel)
            if not os.path.isdir(src):
                continue  # pruned-empty partition: nothing staged, leave as-is
            old = f"{dst}__old_{uuid.uuid4().hex[:8]}"
            os.rename(dst, old)
            os.rename(src, dst)
            shutil.rmtree(old)
            swapped.append(rel)
        shutil.rmtree(staging)
        after = table_stats(path)
        return {
            "before": before,
            "after": after,
            "target_files": n_out,
            "rewritten_partitions": swapped,
        }

    n_out = max(1, round(before["total_bytes"] / mb))
    if part_cols:
        # Cluster by partition key + a PER-PARTITION salt so each hive
        # partition lands in ~n_out/n_partitions files. The salt range
        # must be per_part, not n_out: salting over [0, n_out) scatters
        # every hive partition across up to n_out tasks and the
        # partitionBy write then emits up to n_partitions x n_out files
        # — compaction would MULTIPLY file count instead of reducing it.
        n_partitions = max(1, len(_hive_leaf_dirs(path, part_cols)))
        per_part = max(1, round(n_out / n_partitions))
        salt = F.pmod(F.xxhash64(*df.columns), F.lit(per_part))
        out = df.repartition(n_out, *[F.col(c) for c in part_cols], salt)
    else:
        out = df.repartition(n_out)
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    writer = out.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(staging)
    old = f"{path.rstrip('/')}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)
    after = table_stats(path)
    return {"before": before, "after": after, "target_files": n_out}


def incremental_overwrite(
    df,
    path: str,
    partition_col: str,
) -> list[str]:
    """Incremental model maintenance: rewrite ONLY the partitions the
    new batch touches (dbt `incremental` + `insert_overwrite` strategy,
    the reference's fct_trips materialization — fct_trips.sql config +
    nyc_taxi_dbt incremental models).

    Uses dynamic partition-overwrite: `overwrite` + `partitionBy` under
    `partitionOverwriteMode=dynamic` replaces exactly the partitions
    present in `df` and leaves every other partition's files untouched
    — at 100 TB a daily increment rewrites one date, not the table.
    Returns the list of partition values rewritten.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    from pyspark.sql import functions as F

    return [str(r[0]) for r in df.select(F.col(partition_col)).distinct().collect()]


def merge_upsert(
    existing,
    updates,
    key_cols: list[str],
    precombine_col: str,
):
    """Keyed upsert (reference S9: Hudi COPY_ON_WRITE upsert, record key
    + precombine field, pipelines/22-hudi-cdc-storage silver_transform
    .py:101-114; Delta `MERGE INTO` analogue on plain DataFrames).

    Result = one row per key: the row with the greatest precombine
    value, updates beating existing on exact ties. Storage-agnostic —
    callers pair it with `incremental_overwrite` to persist; on Delta
    the same semantics would be a MERGE INTO statement.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    tagged = existing.withColumn("_src", F.lit(0)).unionByName(
        updates.withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(precombine_col).desc(), F.col("_src").desc()
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
