"""Structured-Streaming ingest: Bronze → Silver with DLQ, watermark
dedup, and tumbling rollups.

Reference semantics re-expressed Spark-first (SURVEY.md §2.8):

* ST1 watermark          — ``withWatermark(event_time, bound)``
* ST2 bounded/continuous — one code path; ``availableNow`` vs default
  micro-batch trigger (the reference runs the same SQL in Flink batch
  and streaming modes)
* ST3 exactly-once       — checkpoint + idempotent file sink commits
* ST4 DLQ                — filter split on parse result; invalid rows
  carry the raw payload + error context to a dead-letter sink
* ST5 streaming dedup    — ``dropDuplicatesWithinWatermark`` on the
  natural key (batch path uses the identical key via ROW_NUMBER)
* ST6 maintained MV      — a streaming aggregation continuously
  updating a table ≡ RisingWave/Materialize MVs; contract is
  "MV contents equal batch recompute", which the tests assert
* ST8 one-stream fan-out — ``foreachBatch`` writing bronze + silver
  from a single micro-batch (re-using the *batch* silver transform:
  micro-batch = batch is the point of Structured Streaming)

No Kafka broker exists in this container, so sources are file streams
with explicit schemas; the Kafka reader is gated and takes the same
downstream path (`value` string column in, table out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.silver import NATURAL_KEY, silver_transform
from ..schemas import RAW_TRIP_WIRE, TS_PATTERN


def read_file_stream(spark: SparkSession, path: str, schema: T.StructType, fmt: str = "parquet") -> DataFrame:
    """File-source stream (the test stand-in for a Kafka topic)."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream twin of ``sources.readers.load_table('events')``:
    timestamp-resolution agnostic.

    The corpus's ``ts`` has shipped as both TIMESTAMP(NANOS) (scans as
    int64 under ``nanosAsLong``, needs the ÷1000 truncation to micros)
    and TIMESTAMP(MICROS) (scans as a native timestamp). A batch probe
    of the footer decides which normalization the stream needs, so
    regenerated testdata can't silently shift event time by 1000×
    (symptom: every watermark lands in 1970 and no window ever closes).
    """
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    stream = (
        spark.readStream.schema(probe.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(probe.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz = [f.name for f in stream.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    for c in ntz:
        stream = stream.withColumn(c, F.col(c).cast("timestamp"))
    return stream


def read_kafka_stream(
    spark: SparkSession, bootstrap: str, topic: str, starting_offsets: str = "earliest"
) -> DataFrame:
    """Kafka source (reference S3/S4 options). Requires the Kafka
    connector jars on the classpath — gated so file-based tests never
    touch it."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
        .load()
    )


# ---------------------------------------------------------------------------
# Bronze: JSON value → typed columns + ingestion metadata, DLQ split
# (bronze_ingest.py:134-168 + create-topics.sh DLQ topic).
# ---------------------------------------------------------------------------


def to_kafka_records(df: DataFrame, key_col: str) -> DataFrame:
    """S2: shape rows as Kafka producer records — key = partition key as
    string (reference keys on PULocationID, generator.py:82), value =
    the full row as JSON with ISO-8601 timestamps (the wire format,
    generator.py:52-57). Pure projection: the record shaping is
    broker-independent and round-trips through `parse_bronze`
    (producer⇄consumer contract closed in tests). Keying by location id
    preserves the reference's per-key ordering guarantee — all events
    of one zone land in one partition, in order.
    """
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(
            F.struct(*[F.col(c) for c in df.columns]),
            {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss"},
        ).alias("value"),
    )


def write_kafka_batch(records: DataFrame, bootstrap: str, topic: str) -> None:
    """S2 batch publish (idempotence/acks are producer-lib concerns the
    Spark connector sets via kafka.* options). Requires connector jars —
    gated like `read_kafka_stream`; tests exercise `to_kafka_records`."""
    (
        records.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("kafka.enable.idempotence", "true")
        .option("kafka.acks", "all")
        .option("kafka.compression.type", "lz4")
        .option("topic", topic)
        .save()
    )


def write_kafka_stream(
    records: DataFrame, bootstrap: str, topic: str, checkpoint_dir: str
):
    """S10 topic-to-topic sink: re-publish a processed stream as JSON
    records (Bytewax dataflow.py:82-87 / Kafka Streams analogue)."""
    return (
        records.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def parse_bronze(values: DataFrame, value_col: str = "value") -> tuple[DataFrame, DataFrame]:
    """Split a raw JSON-string stream into (bronze, dead_letters).

    A row is dead when the JSON fails to parse (both required timestamps
    NULL after from_json) — mirroring the reference's DLQ contract that
    only unparseable events divert.
    """
    parsed = values.withColumn("_data", F.from_json(F.col(value_col), RAW_TRIP_WIRE))
    is_dead = F.col("_data").isNull() | (
        F.col("_data.tpep_pickup_datetime").isNull() & F.col("_data.tpep_dropoff_datetime").isNull()
    )
    dead = parsed.filter(is_dead).select(
        F.col(value_col).alias("raw_payload"),
        F.lit("unparseable_event").alias("error_class"),
        F.current_timestamp().alias("dlq_ts"),
    )
    bronze = (
        parsed.filter(~is_dead)
        .select(
            F.col("_data.*"),
            F.current_timestamp().alias("ingestion_ts"),
        )
        # try_to_timestamp, NOT to_timestamp: under ANSI (the default in
        # vanilla Spark 4 sessions) a single off-format timestamp string
        # would kill the whole job — and only when a query actually
        # evaluates the column, since count()-style plans prune it.
        # Off-format rows keep NULL timestamps and die at the silver
        # quality filter (reference P2), not by crashing the stream.
        .withColumn("tpep_pickup_datetime", F.try_to_timestamp("tpep_pickup_datetime", F.lit(TS_PATTERN)))
        .withColumn("tpep_dropoff_datetime", F.try_to_timestamp("tpep_dropoff_datetime", F.lit(TS_PATTERN)))
    )
    return bronze, dead


REPAIR_TS_PATTERNS = (TS_PATTERN, "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss.SSS")


def repair_dead_letters(
    dead: DataFrame, patterns: tuple[str, ...] = REPAIR_TS_PATTERNS
) -> tuple[DataFrame, DataFrame]:
    """DLQ replay: attempt deterministic repairs on dead letters and
    split into (recovered_bronze, still_dead).

    Two repairs cover the classic producer bugs behind a DLQ backlog:
    double-encoded JSON (a JSON *string* containing the record — outer
    quotes stripped, ``\\"`` / ``\\\\`` unescaped before re-parsing)
    and off-contract timestamp formats (first match from ``patterns``
    wins, via try_to_timestamp — null on mismatch, never an ANSI
    error). Unrecoverable rows keep flowing as dead letters so the
    replay job is idempotent over its own output.
    """
    inner = F.expr("substring(raw_payload, 2, length(raw_payload) - 2)")
    unescaped = F.replace(F.replace(inner, F.lit('\\"'), F.lit('"')), F.lit("\\\\"), F.lit("\\"))
    fixed = F.when(F.col("raw_payload").rlike('^".*"$'), unescaped).otherwise(F.col("raw_payload"))
    reparsed = dead.withColumn("_data", F.from_json(fixed, RAW_TRIP_WIRE))

    def best_ts(col: str):
        return F.coalesce(*[F.try_to_timestamp(F.col(f"_data.{col}"), F.lit(p)) for p in patterns])

    pickup, dropoff = best_ts("tpep_pickup_datetime"), best_ts("tpep_dropoff_datetime")
    ok = F.col("_data").isNotNull() & (pickup.isNotNull() | dropoff.isNotNull())
    ts_cols = {"tpep_pickup_datetime": pickup, "tpep_dropoff_datetime": dropoff}
    recovered = reparsed.filter(ok).select(
        *[
            ts_cols[f.name].alias(f.name) if f.name in ts_cols else F.col(f"_data.{f.name}")
            for f in RAW_TRIP_WIRE.fields
        ],
        F.current_timestamp().alias("ingestion_ts"),
        F.lit(True).alias("repaired"),
    )
    still_dead = reparsed.filter(~ok).select(
        "raw_payload",
        F.lit("unrecoverable").alias("error_class"),
        F.current_timestamp().alias("dlq_ts"),
    )
    return recovered, still_dead


def stream_dedup(bronze: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """ST5: watermarked keep-one-per-natural-key.

    The reference bounds late data at 10 *seconds* (00-init.sql:40-43)
    — far too tight for real late data, so the bound is a parameter.
    State size is keys-within-watermark only; at 100 TB/day the key
    cardinality inside the TTL window is what sizes the state store.
    """
    return bronze.withWatermark("tpep_pickup_datetime", watermark).dropDuplicatesWithinWatermark(
        list(NATURAL_KEY)
    )


def run_bronze_to_silver(
    spark: SparkSession,
    source: DataFrame,
    bronze_path: str,
    silver_path: str,
    dlq_path: str,
    checkpoint_dir: str,
) -> None:
    """ST8 fan-out: one stream → bronze + DLQ + silver, availableNow.

    ``foreachBatch`` re-uses the exact batch `silver_transform` — the
    engine has ONE silver implementation for both execution modes
    (unlike the reference's 8 copies). Checkpointing + deterministic
    batch ids give effectively-once file commits.
    """
    bronze, dead = parse_bronze(source)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        b, d = parse_bronze(batch_df) if "value" in batch_df.columns else (batch_df, None)
        b.persist()
        b.write.mode("append").parquet(bronze_path)
        silver = silver_transform(b)
        silver.write.mode("append").partitionBy("pickup_date").parquet(silver_path)
        b.unpersist()

    q_dead = (
        dead.writeStream.format("parquet")
        .option("path", dlq_path)
        .option("checkpointLocation", f"{checkpoint_dir}/dlq")
        .trigger(availableNow=True)
        .start()
    )
    q_main = (
        source.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", f"{checkpoint_dir}/main")
        .trigger(availableNow=True)
        .start()
    )
    q_dead.awaitTermination()
    q_main.awaitTermination()


# ---------------------------------------------------------------------------
# ST6/A6: streaming tumbling-window rollup (the Druid hourly cube).
# ---------------------------------------------------------------------------


def hourly_rollup_stream(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    slide: str | None = None,
) -> DataFrame:
    """Hourly count + sums keyed by window × event_type; append-mode safe
    because the watermark closes windows.

    ``slide`` < window makes it a sliding (hopping) rollup: each event
    contributes to window/slide overlapping windows — state grows by
    that same factor, so the watermark bound matters more, not less.
    """
    win = F.window(ts_col, "1 hour", slide) if slide else F.window(ts_col, "1 hour")
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            F.col("total_value").cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming point-in-time enrichment: as-of join inside foreachBatch.
# Reference analogue: the feature-store serve path (pipelines/21-feast,
# features.py:25-62) made event-time-correct — each micro-batch of
# events is enriched with the most recent dimension row at or before
# the event's own timestamp, never a future one. Micro-batch = batch,
# so the SAME operators/asof.asof_join runs in both modes; the static
# side is re-planned per batch (stream-static semantics), so a dim
# maintained by SCD2/CDC upstream is picked up without restarts.
# ---------------------------------------------------------------------------


def run_asof_enrich(
    stream: DataFrame,
    dim: DataFrame,
    sink_path: str,
    checkpoint_dir: str,
    **asof_kwargs,
) -> None:
    """Drive `stream` to parquet at `sink_path`, each batch as-of-joined
    against `dim` (kwargs forwarded to operators.asof.asof_join)."""
    from ..operators.asof import asof_join

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        asof_join(batch_df, dim, **asof_kwargs).write.mode("append").parquet(sink_path)

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# ---------------------------------------------------------------------------
# Streaming distribution-drift monitor (the deequ/evidently drift class
# in-stream): the live value distribution, accumulated as per-cent
# counts by a streaming aggregation, is KS-tested against a static
# reference distribution after every micro-batch. foreachBatch in
# complete mode hands the monitor the FULL updated count relation, so
# the verdict after batch k is definitionally the batch q46 verdict
# over everything streamed so far — asserted in
# tests/test_streaming.py. State is bounded by the value domain
# (distinct cent values), not by stream length — the same bound that
# makes the batch CDF window safe at 100 TB.
# ---------------------------------------------------------------------------
def drift_monitor_stream(
    values: DataFrame,
    reference_counts: DataFrame,
    out_dir: str,
    value_col: str = "v",
):
    """Monitor a streaming value column for drift against a reference.

    ``values``: streaming frame with an integer value column (cents).
    ``reference_counts``: static (v, cnt) distribution to test against.
    Appends one (batch_id, n_a, n_b, d_num, ks_d, ks_crit, drift) row
    per micro-batch to ``out_dir`` (parquet). Returns the writeStream
    builder (caller starts it).
    """
    from ..operators.quality import exact_ks_counts

    counts = values.groupBy(F.col(value_col).alias("v")).agg(F.count("*").alias("cnt"))

    def _emit(batch_counts: DataFrame, batch_id: int) -> None:
        (
            exact_ks_counts(batch_counts, reference_counts)
            .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
            .write.mode("append")
            .parquet(out_dir)
        )

    return counts.writeStream.foreachBatch(_emit).outputMode("complete")


# ---------------------------------------------------------------------------
# Streaming twin of the incremental curation ladder (r9 verdict item
# 4): a micro-batch IS a shard. The reference's incremental half is the
# Kafka→bronze→silver streaming path
# (pipelines/02-kafka-spark-iceberg/spark/jobs/bronze_ingest.py:113-183)
# this module mirrors for taxi events; `ingest_shard` is the batch-
# shard production shape of the SAME ladder — so the streaming twin is
# ST2's one-code-path stance applied to curation: wrap `ingest_shard`
# in a foreachBatch sink over an availableNow file stream, and the
# stream-ingested state equals the batch passes per doc (tested the
# same way ST8 asserts silver-stream ≡ silver-batch).
# ---------------------------------------------------------------------------
def run_ingest_shard_stream(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    embeddings: DataFrame | None = None,
    schema: T.StructType | None = None,
    **ingest_kw,
) -> list:
    """Drive the incremental ingest ladder from a document FILE STREAM:
    each micro-batch (one file, ``maxFilesPerTrigger=1`` — shard files
    must arrive in monotone doc-id order, the ladder's own contract)
    goes through the full `plans.incremental_ingest.ingest_shard`
    pipeline — dedup registries, semantic rung, gates, frozen probe,
    decontam, atomic state appends. ``embeddings`` is a STATIC relation
    (the stream-static pattern J6 uses): ingest_shard joins it down to
    each batch's doc ids internally, so the same call serves every
    micro-batch.

    Exactly-once effect across checkpoint replays WITHOUT coupling the
    state commit to the sink checkpoint: the ladder's own `_ingest_log`
    already records each pass's [min_doc_id, max_doc_id], so a replayed
    batch (its max ≤ the logged high-water mark) is skipped — the
    durable-marker idempotence recipe ST3's `_batches` sink uses,
    served here from state the plan persists anyway. Returns the
    per-batch `IngestReport`s (skipped replays excluded)."""
    from ..operators.manifest import ManifestTable
    from ..plans.incremental_ingest import _paths, ingest_shard

    if schema is None:
        schema = spark.read.parquet(docs_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )
    reports: list = []

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        log_t = ManifestTable(_paths(state_dir)["log"])
        if log_t.versions():
            hi = log_t.read(spark).agg(F.max("max_doc_id")).first()[0]
            batch_max = batch_df.agg(F.max("doc_id")).first()[0]
            if hi is not None and int(batch_max) <= int(hi):
                return  # checkpoint replay of an already-ingested shard
        reports.append(
            ingest_shard(spark, state_dir, batch_df, embeddings, **ingest_kw)
        )

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return reports
