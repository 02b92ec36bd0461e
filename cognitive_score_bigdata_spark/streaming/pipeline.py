"""The CPMS hot path as ONE Structured Streaming job (SURVEY §3.1).

Reference topology (all collapsed here into a single driver + executors):

- API-GW → ingestion Lambda: parse JSON, enrich with ``event_id``/
  ``timestamp`` when missing (``src/ingestion.py:17-29``) → P9
- fan-out: raw JSON to S3 cold path (``ingestion.py:31-41``) AND Kinesis
  keyed by user_id (``ingestion.py:43-49``) → T7 dual sink
- Kinesis → stream-processor Lambda, batches ≤10 from LATEST
  (``hot_path_processor.tf:79-84``) → T1/T2 micro-batch trigger
- consumer: drop null user_id (``stream_processor.py:28-30``), reduce to
  last-per-user (``:32-40``), upsert DynamoDB (``:45-51``) → A3/S7

Deliberate semantic upgrades over the reference (SURVEY §2.9 T5, §2.4 A3
caveat), each exercised by tests:

- **event-time, not arrival-order**: the reference's dict-overwrite keeps
  whichever record arrived last in the batch; we keep the greatest event
  timestamp (``max_by``), so out-of-order replays converge.
- **duplicate suppression**: at-least-once Lambda retries can duplicate;
  we watermark + drop duplicate event_ids within the watermark.
- **date-partitioned raw lake**: the reference *comments* the intent
  ("Key format: raw/YYYY-MM-DD/...", ``ingestion.py:32-33``) but writes
  flat; we actually partition by ingest_date so cold-path scans prune.

Scale posture: the latest-state table is parquet laid out as
``n_buckets=N/bucket=k/``, where ``k`` is :func:`state_bucket`, a stable
hash bucket of ``user_id``, and ``N`` is the table's bucket count, sized
from its bytes (:data:`STATE_BUCKET_BYTES` a bucket) and doubled as the
table grows. Writes are dynamic partition overwrites — a micro-batch
reads and rewrites only the buckets it touches (~touched_users/total
fraction of the table) instead of the whole table, one file per bucket.
Readers prune by the same function without knowing ``N``: a keyed lookup
adds ``bucket == state_bucket(lit(user_id), col("n_buckets"))`` and scans
one bucket.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Bytes a latest-state bucket may hold before the table doubles its
# bucket count. A snapshot within graph.LOCAL_FINISH_BYTES answers status
# reads from serving's in-memory index and scans no bucket per read. Above
# it, each status read runs a lookup job that scans one bucket, and a
# bucket this size costs it little: on local[2] with C1 JIT only, that
# lookup over one 14.2 MB bucket of 1M users took p50 134 ms (40
# lookups), against 120 ms over one 0.1 MB bucket of 5,000 users. Every
# further bucket adds a file to each write and to each listing of the
# table.
STATE_BUCKET_BYTES = 16 * 1024 * 1024

# One stream, two shapes, discriminated by `schema` (FIXTURES.md §A4);
# union schema-on-read, shape-specific fields null on the other shape.
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType()),
        T.StructField("device_id", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("cognitive_predict", T.BooleanType()),
        # tracking_v1 fields (gen_wearables.py:41-51)
        T.StructField("steps", T.IntegerType()),
        T.StructField("distance", T.DoubleType()),
        T.StructField("heart_rate", T.IntegerType()),
        T.StructField("calories", T.IntegerType()),
        # manual_entry_v1 fields (gen_score_requests.py:35-47)
        T.StructField("sleep_duration", T.DoubleType()),
        T.StructField("stress_level", T.IntegerType()),
        T.StructField("caffeine_intake", T.IntegerType()),
        T.StructField("screen_time", T.DoubleType()),
        # epoch-seconds-as-string, may be absent (ingestion.py:29)
        T.StructField("timestamp", T.StringType()),
        T.StructField("event_id", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = 10,
    source_format: str = "json",
    kafka_bootstrap_servers: str | None = None,
    kafka_topic: str | None = None,
) -> DataFrame:
    """S5: micro-batch stream source. ≤N records per trigger mirrors
    batch_size=10 (hot_path_processor.tf:83).

    ``source_format="json"`` (default) reads a file drop-dir — the
    broker-less stand-in used in tests. ``source_format="kafka"`` reads
    the real broker edge via :mod:`streaming.kafka` (requires the
    connector jar on the cluster classpath); downstream plan shape is
    identical either way.
    """
    if source_format == "kafka":
        from cognitive_score_bigdata_spark.streaming.kafka import (
            read_event_stream_kafka,
        )

        if not (kafka_bootstrap_servers and kafka_topic):
            raise ValueError(
                "source_format='kafka' needs kafka_bootstrap_servers and "
                "kafka_topic"
            )
        return read_event_stream_kafka(
            spark,
            kafka_bootstrap_servers,
            kafka_topic,
            max_offsets_per_trigger=max_files_per_trigger,
        ).drop("__kafka_key")
    reader = (
        spark.readStream.format("json")
        .schema(EVENT_SCHEMA)
        .option("multiLine", "false")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(input_dir)


def enrich(df: DataFrame) -> DataFrame:
    """P9 (ingestion.py:26-29): default event_id / timestamp, typed
    event-time column, ingest_date for the partitioned cold path."""
    ts = F.coalesce(
        F.to_timestamp(F.col("timestamp").cast("double")),
        F.current_timestamp(),
    )
    return (
        df.withColumn(
            "event_id",
            F.coalesce(F.col("event_id"), F.expr("uuid()")),
        )
        .withColumn("ts", ts)
        .withColumn("ingest_date", F.to_date(F.col("ts")))
    )


def route(df: DataFrame) -> dict[str, DataFrame]:
    """P10 schema-tag routing: one DataFrame per event shape."""
    return {
        "tracking_v1": df.filter(F.col("schema") == "tracking_v1"),
        "manual_entry_v1": df.filter(F.col("schema") == "manual_entry_v1"),
    }


def state_bucket(col, n) -> F.Column:
    """Stable state-table bucket of a ``user_id`` column or literal: the
    non-negative hash of the key modulo the bucket count ``n``, an int or
    the table's ``n_buckets`` column. The writer partitions by it and
    keyed readers prune by it, so both must call this one function."""
    return F.pmod(F.xxhash64(col), F.lit(n)).cast("int")


def _hadoop_path(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath  # noqa: SLF001


def state_layouts(spark: SparkSession, state_dir: str) -> dict:
    """The latest-state table's layouts, bucket count → Hadoop path of its
    ``n_buckets=N`` directory, from one listing of the root (no Spark
    job). Empty when there is no table yet. Entries starting with ``_``
    or ``.`` are skipped, as Spark's reader skips them; any other entry,
    such as a ``bucket=``-only layout, raises ``ValueError``, so a table
    that is there but unreadable is never taken for a new one. More than
    one layout means a resize was interrupted: the largest is current.
    """
    fs, root = _hadoop_path(spark, state_dir)
    if not fs.exists(root):
        return {}
    layouts = {}
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        m = re.fullmatch(r"n_buckets=([1-9]\d*)", name)
        if m is None or not status.isDirectory():
            raise ValueError(
                f"{state_dir}: {name!r} is not an n_buckets=N layout of the "
                "latest-state table"
            )
        layouts[int(m.group(1))] = status.getPath()
    return layouts


def upsert_latest_state(
    spark: SparkSession, batch: DataFrame, state_dir: str
) -> None:
    """S7/A3: merge a micro-batch into the keyed latest-state table.

    Event-time max_by per user (semantic fix over the reference's
    arrival-order overwrite, stream_processor.py:32-40), Decimal numerics
    for KV fidelity (stream_processor.py:37-39), dynamic partition
    overwrite so only touched hash buckets rewrite. Overwriting a
    partition is idempotent per epoch → exactly-once effect on replays.

    The bucket count comes from the table's bytes, read with one Hadoop
    ``getContentSummary`` of the current layout: the smallest power of
    two that keeps a bucket within :data:`STATE_BUCKET_BYTES`, never
    fewer buckets than the table has. A new table gets one bucket.

    - Same count: the merge scans only the touched buckets of the
      current layout, and its one shuffle is on ``bucket``, so each
      bucket is aggregated and written by one task: one file per bucket.
    - Larger count: the merge takes every row of the current layout and
      writes the ``n_buckets=`` layout of the new count. Counts double,
      so each row is rewritten O(log size) times over the table's life.

    After the write every other layout is deleted, which also finishes a
    resize that a crash interrupted. A table that cannot be read raises
    (see :func:`state_layouts`); its files are left in place.
    """
    snap_cols = [
        F.col("user_id"),
        F.col("ts"),
        F.col("heart_rate").cast("decimal(18,3)").alias("heart_rate"),
        F.col("steps").cast("decimal(18,3)").alias("steps"),
        F.col("calories").cast("decimal(18,3)").alias("calories"),
    ]
    fresh = (
        batch.filter(F.col("user_id").isNotNull())  # P3 (stream_processor.py:28-30)
        .filter(F.col("schema") == "tracking_v1")
        .select(*snap_cols)
    )
    if fresh.isEmpty():
        return

    layouts = state_layouts(spark, state_dir)
    current = max(layouts, default=0)
    fs, _ = _hadoop_path(spark, state_dir)
    size = fs.getContentSummary(layouts[current]).getLength() if layouts else 0
    n = max(current, 1)
    while size > n * STATE_BUCKET_BYTES:
        n *= 2
    fresh = fresh.withColumn("bucket", state_bucket(F.col("user_id"), n))

    if layouts:
        stored = spark.read.parquet(state_dir).filter(F.col("n_buckets") == current)
        if n == current:
            # Dynamic overwrite replaces each touched bucket whole, so
            # every stored row of those buckets joins the merge, not only
            # the touched users' rows. The buckets go in as a literal
            # partition filter because Spark drops dynamic pruning at run
            # time when the batch is cached, and foreachBatch caches it.
            buckets = [r["bucket"] for r in fresh.select("bucket").distinct().collect()]
            stored = stored.filter(F.col("bucket").isin(buckets))
        else:
            stored = stored.withColumn("bucket", state_bucket(F.col("user_id"), n))
        fresh = fresh.unionByName(stored.drop("n_buckets"))

    merged = (
        fresh.repartition("bucket")
        .groupBy("bucket", "user_id")
        .agg(
            F.max_by(
                F.struct("ts", "heart_rate", "steps", "calories"), F.col("ts")
            ).alias("s")
        )
        .select(
            "user_id", "s.ts", "s.heart_rate", "s.steps", "s.calories",
            F.lit(n).alias("n_buckets"), "bucket",
        )
    )
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("n_buckets", "bucket")
        .parquet(state_dir)
    )
    for count, path in layouts.items():
        if count != n:
            fs.delete(path, True)


def write_raw_batch(batch: DataFrame, batch_id: int, raw_dir: str) -> None:
    """Cold-path raw-lake write for one micro-batch, replay-idempotent.

    ``__batch_id`` is a partition column and the write is a dynamic
    partition OVERWRITE, so a batch replayed after a failure between this
    write and the checkpoint commit rewrites exactly its own
    ``__batch_id=N/`` partitions instead of appending duplicates.
    ``ingest_date`` stays a partition column so cold-path date scans
    still prune.
    """
    (
        batch.withColumn("__batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id", "ingest_date")
        .parquet(raw_dir)
    )


def run_ingest_pipeline(
    spark: SparkSession,
    input_dir: str,
    raw_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    watermark: str = "10 minutes",
):
    """T7 dual-sink job: one source, cold raw append + hot state upsert.

    A single foreachBatch writes both sinks so the source is read once
    (the reference reads once and calls two SDK clients; same shape).
    Watermark + dropDuplicatesWithinWatermark implements T5.
    """
    events = enrich(read_event_stream(spark, input_dir))
    deduped = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )

    def write_both(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            # cold path: raw lake, date-partitioned (implements the
            # ingestion.py:32-33 intent), replay-idempotent like the
            # state upsert
            write_raw_batch(batch, batch_id, raw_dir)
            # hot path: keyed latest-state upsert
            upsert_latest_state(batch.sparkSession, batch, state_dir)
        finally:
            batch.unpersist()

    writer = (
        deduped.writeStream.foreachBatch(write_both)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def parse_events_permissive(raw: DataFrame, json_col: str = "value") -> tuple:
    """Schema-on-read with a dead-letter lane: parse a raw JSON-string
    column against EVENT_SCHEMA in PERMISSIVE mode and split the result
    into (parsed_events, corrupt_records).

    The reference's ingest accepts arbitrary bodies and would 500 on
    garbage (``src/ingestion.py:17-21`` — json.loads with no guard); at
    scale one malformed producer must not poison a batch. Rows that fail
    to parse keep their raw payload in ``_corrupt_record`` and are routed
    to the dead-letter frame (same pattern as the codec dead-letter lane)
    for quarantine + replay; parsed rows continue through ``enrich``.
    Works identically on batch and streaming frames — PERMISSIVE
    from_json never throws, so the split is two filters on one pass.
    """
    schema_with_corrupt = T.StructType(
        EVENT_SCHEMA.fields
        + [T.StructField("_corrupt_record", T.StringType())]
    )
    parsed = raw.withColumn(
        "__p",
        F.from_json(
            F.col(json_col),
            schema_with_corrupt,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    ok = (
        parsed.filter(
            F.col("__p").isNotNull()
            & F.col("__p._corrupt_record").isNull()
            & F.col("__p.user_id").isNotNull()
        )
        .select("__p.*")
        .drop("_corrupt_record")
    )
    dead = parsed.filter(
        F.col("__p").isNull()
        | F.col("__p._corrupt_record").isNotNull()
        | F.col("__p.user_id").isNull()
    ).select(
        F.col(json_col).alias("raw_payload"),
        F.current_timestamp().alias("quarantined_at"),
    )
    return ok, dead
