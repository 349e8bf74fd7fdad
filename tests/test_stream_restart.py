"""Streaming restart drill: kill a stateful streaming query mid-feed
and restart it from its checkpoint — the recovered run must produce
exactly what an uninterrupted run (or the batch oracle) would. Covers
two stateful mechanisms:

- ``attribution_join`` (stream-stream join buffers),
- ``stream_dedup`` (dropDuplicatesWithinWatermark id state),

each with the session's shuffle-partition conf CHANGED between runs —
Spark pins the state-store partition count in the checkpoint's offset
log, so a restarted query must keep working under a different session
conf (the local stand-in for restarting on a rescaled cluster)."""

from __future__ import annotations

import glob as globmod
import os
import shutil
import tempfile
from datetime import datetime, timedelta

import pyspark.sql.functions as F
import pytest

TS = "timestamp_ntz"
SCHEMA = (
    f"event_id long, ts {TS}, user_id long, event_type string, "
    "value double, props string"
)


def _t(minutes: float) -> datetime:
    return datetime(2024, 1, 1, 0, 0, 0) + timedelta(minutes=minutes)


def _write_batch(spark, rows, out_dir: str, name: str, mtime: int) -> None:
    df = spark.createDataFrame(rows, SCHEMA)
    tmp = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = globmod.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dst = os.path.join(out_dir, name)
    shutil.copyfile(part, dst)
    os.utime(dst, (mtime, mtime))
    shutil.rmtree(tmp)


def _stream(spark, path):
    from debgpt7_8_with_vectordb_spark.streaming.sessionize import (
        stream_events_from_dir,
    )

    return stream_events_from_dir(spark, path)


def _drain_append(df, out_dir: str, ckpt: str):
    """Fault-tolerant append sink (the memory sink cannot recover from a
    checkpoint — restart drills need a real one)."""
    q = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _drain_update(df, out_dir: str, ckpt: str):
    """Update-mode drill sink: foreachBatch appends each micro-batch's
    update rows (tagged with the batch id) to parquet — recoverable, and
    'latest batch id per key' reconstructs the update-mode answer."""

    def write_batch(bdf, batch_id: int):
        bdf.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    q = (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@pytest.fixture()
def two_tranche_dirs(tmp_path):
    feed = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(feed)
    return feed, ckpt


def _with_partitions(spark, n: str):
    class _Ctx:
        def __enter__(self):
            self.old = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", n)

        def __exit__(self, *a):
            spark.conf.set("spark.sql.shuffle.partitions", self.old)

    return _Ctx()


TRANCHE1 = [
    (1, _t(0), 1, "click", 1.0, ""),
    (2, _t(5), 1, "click", 2.0, ""),
    (3, _t(3), 2, "click", 5.0, ""),
    (4, _t(10), 1, "purchase", 5.0, ""),
]
TRANCHE2 = [
    (5, _t(20), 1, "click", 3.0, ""),
    (6, _t(25), 1, "purchase", 7.0, ""),
    (7, _t(25), 3, "click", 7.0, ""),
]


def test_attribution_join_restart_keeps_buffered_side(spark, two_tranche_dirs):
    """Stream-stream join: a purchase arriving AFTER the restart must
    still match clicks buffered BEFORE the crash (join state recovered
    from the checkpoint). Union of both runs' append output == the
    batch time-range join over the full feed."""
    from debgpt7_8_with_vectordb_spark.streaming.joins import attribution_join

    feed, ckpt = two_tranche_dirs
    out = feed + "_out"
    _write_batch(spark, TRANCHE1, feed, "t1.parquet", mtime=1_000_000)

    def attributed(ev):
        return attribution_join(
            ev.filter(F.col("event_type") == "purchase"),
            ev.filter(F.col("event_type") != "purchase"),
        )

    with _with_partitions(spark, "8"):
        _drain_append(attributed(_stream(spark, feed)), out, ckpt)
    got1 = {
        (r["purchase_id"], r["click_id"])
        for r in spark.read.parquet(out).collect()
    }
    assert got1 == {(4, 1), (4, 2)}  # event 3 is user 2's click, no match

    _write_batch(spark, TRANCHE2, feed, "t2.parquet", mtime=2_000_000)
    with _with_partitions(spark, "12"):
        _drain_append(attributed(_stream(spark, feed)), out, ckpt)
    got2 = {
        (r["purchase_id"], r["click_id"])
        for r in spark.read.parquet(out).collect()
    } - got1
    # purchase 6 (t25) matches pre-crash clicks 1 (t0) and 2 (t5) — the
    # cross-restart pairs — plus post-restart click 5 (t20)
    assert got2 == {(6, 1), (6, 2), (6, 5)}

    # and the union equals the batch join over the whole feed
    ev = spark.createDataFrame(TRANCHE1 + TRANCHE2, SCHEMA)
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
    )
    c = ev.filter("event_type != 'purchase'").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("cid"),
        F.col("ts").alias("cts"),
    )
    batch = {
        (r["pid"], r["cid"])
        for r in p.join(
            c,
            (F.col("u") == F.col("cu"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 30 minutes"))
            & (F.col("cts") <= F.col("pts")),
        ).collect()
    }
    assert got1 | got2 == batch


def test_stream_dedup_restart_remembers_seen_ids(spark, two_tranche_dirs):
    """dropDuplicatesWithinWatermark: an id seen before the crash and
    replayed after the restart (within the watermark) must STAY
    deduplicated — the seen-id state survives the checkpoint."""
    from debgpt7_8_with_vectordb_spark.streaming.joins import stream_dedup

    feed, ckpt = two_tranche_dirs
    out = feed + "_out"
    _write_batch(spark, TRANCHE1, feed, "t1.parquet", mtime=1_000_000)
    with _with_partitions(spark, "8"):
        _drain_append(stream_dedup(_stream(spark, feed)), out, ckpt)
    ids1 = {r["event_id"] for r in spark.read.parquet(out).collect()}
    assert ids1 == {1, 2, 3, 4}

    # tranche 2 replays id 2 (a duplicate delivery after recovery) next
    # to genuinely new ids — only the new ones may come out
    replay = [
        (2, _t(21), 1, "click", 2.0, ""),  # dup of pre-crash id 2
        (8, _t(22), 2, "click", 1.0, ""),
    ]
    _write_batch(spark, replay, feed, "t2.parquet", mtime=2_000_000)
    with _with_partitions(spark, "12"):
        _drain_append(stream_dedup(_stream(spark, feed)), out, ckpt)
    ids2 = {r["event_id"] for r in spark.read.parquet(out).collect()} - ids1
    assert ids2 == {8}
