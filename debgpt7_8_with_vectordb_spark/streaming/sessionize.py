"""Structured Streaming sessionization + incremental index build.

The reference has NO streaming runtime (SURVEY.md §2.13) — this is the
flagged *extension*: its timestamped message feed (`messages` table /
append hooks, frontend.py:200-221) becomes a Structured Streaming
pipeline:

- ``session_window(ts, gap)`` groups events into gap-based sessions
  (the streaming twin of plans/analytics_queries.sessionize_events);
- ``withWatermark`` bounds state: sessions older than the watermark are
  finalized and emitted — late data past it is dropped, exactly the
  contract a 100 TB feed needs to keep state finite;
- ``foreachBatch`` shows the incremental-index-build hook (each
  micro-batch embeds + appends to the vector table — reference dual-write
  app.py:207-227 made transactional per-batch).
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# The testdata stores ts as TIMESTAMP(NANOS), which Spark's reader only
# accepts as long (spark.sql.legacy.parquet.nanosAsLong — see tables.py);
# standard parquet stores micros and reads as a timestamp type directly.
EVENTS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)
EVENTS_SCHEMA_TS = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def stream_events_from_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of the events feed (new files = new batches).
    ``glob`` narrows a directory to matching files (the testdata keeps
    ``events.parquet`` as a single file inside the sf dir).

    A stream source needs an EXPLICIT schema, but the physical ts type
    varies by writer (nanos→long under nanosAsLong vs standard
    micros→timestamp) — hardcoding either silently mis-scales the other
    by 1000×. One batch footer read resolves the actual type up front
    and picks the matching schema + conversion. When ``glob`` names one
    exact file the probe reads through the memoized plan reader
    (tables.read_parquet_plan_cached) — the footer/listing metadata is
    ~95 ms of driver work per query build otherwise (round 15)."""
    import os

    if glob and not any(ch in glob for ch in "*?["):
        from ..tables import read_parquet_plan_cached

        probe_df = read_parquet_plan_cached(spark, os.path.join(path, glob))
    else:
        probe_reader = spark.read
        if glob:
            probe_reader = probe_reader.option("pathGlobFilter", glob)
        probe_df = probe_reader.parquet(path)
    ts_type = dict(
        (f.name, f.dataType.simpleString()) for f in probe_df.schema
    ).get("ts", "bigint")

    reader = spark.readStream.schema(
        EVENTS_SCHEMA if ts_type == "bigint" else EVENTS_SCHEMA_TS
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger:
        # one file per micro-batch (mtime order) — the lateness tests
        # need watermark advancement BETWEEN files, not one big batch
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(path)
    if ts_type == "bigint":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def sessionize_stream(
    events: DataFrame,
    gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session aggregation with bounded state.

    NULL event times are dropped explicitly: a session window cannot
    place them (Spark would silently drop them anyway), and the batch
    oracles filter ts IS NOT NULL — one convention, both engines."""
    return (
        events.filter(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def windowed_counts_stream(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "2 hours",
) -> DataFrame:
    """TUMBLING-window event-type counts with bounded state — the
    watermarked windowed aggregation that completes the streaming
    operator matrix (gap sessions, stream-stream join, stream dedup,
    arbitrary state, and now fixed windows). A window finalizes once
    event time passes end + watermark; per-key state is one count row
    per (window, event_type). NULL event times dropped explicitly —
    same convention as sessionize_stream."""
    return (
        events.filter(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def incremental_index_build(
    events: DataFrame,
    embed_batch: Callable[[DataFrame], DataFrame],
    sink_path: str,
    checkpoint: str,
):
    """foreachBatch incremental vector-index build: embed each micro-batch
    and land it in the index table, idempotent per batch id.

    Spark replays a failed micro-batch under the SAME batch_id, so the
    write must be a per-batch upsert, not a blind append (a replayed
    append would silently duplicate index rows). Shape: each batch
    writes its own ``batch_id=N`` partition with DYNAMIC partition
    overwrite — a replay overwrites exactly its own partition and
    touches nothing else. The batch id rides along as a partition
    column; ``read_index`` strips it for consumers."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        embedded = embed_batch(batch_df)
        (
            embedded.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(sink_path)
        )

    return (
        events.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_index(spark: SparkSession, sink_path: str) -> DataFrame:
    """Consumer view of the incrementally-built index: the batch_id
    bookkeeping partition column is an implementation detail of the
    idempotent sink, not part of the index schema."""
    return spark.read.parquet(sink_path).drop("batch_id")
