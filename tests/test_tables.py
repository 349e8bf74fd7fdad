"""tables.py: the scale-adaptive fan_out gate and the parquet plan memo
(a rewritten table, or a part file rewritten in place, never serves the
stale plan)."""

from __future__ import annotations

from debgpt7_8_with_vectordb_spark.tables import fan_out


def test_fan_out_spreads_narrow_scans(spark):
    target = spark.sparkContext.defaultParallelism
    narrow = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    narrow = narrow.coalesce(1)
    spread = fan_out(narrow, "doc_id")
    assert spread.rdd.getNumPartitions() == target
    # rows unchanged (hash repartition only moves them)
    assert sorted(r[0] for r in spread.collect()) == list(range(100))


def test_fan_out_is_a_noop_at_scale(spark):
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(target + 4)
    assert fan_out(wide, "id") is wide


def test_load_table_plan_cache_invalidates_on_rewrite(spark, tmp_path):
    """The memoized logical table plan must drop the moment the file
    changes (mtime/size key) — a regenerated corpus may never serve a
    stale schema or stale rows."""
    import os
    import time as _t

    import pyarrow as pa
    import pyarrow.parquet as pq

    from debgpt7_8_with_vectordb_spark.tables import load_table

    sf = str(tmp_path)
    p = os.path.join(sf, "events.parquet")
    pq.write_table(pa.table({"event_id": pa.array([1, 2], pa.int64())}), p)
    first = load_table(spark, sf, "events")
    assert first.count() == 2
    assert load_table(spark, sf, "events") is first  # memo hit
    _t.sleep(0.01)  # ensure a distinct mtime
    pq.write_table(
        pa.table({"event_id": pa.array([7, 8, 9], pa.int64())}), p
    )
    again = load_table(spark, sf, "events")
    assert again is not first
    assert again.count() == 3


def test_load_table_plan_cache_sees_part_file_rewritten_in_place(spark, tmp_path):
    """A directory table whose part file is rewritten in place keeps the
    directory's own mtime and size; the memo must still drop the plan."""
    import os
    import time as _t

    import pyarrow as pa
    import pyarrow.parquet as pq

    from debgpt7_8_with_vectordb_spark.tables import load_table

    sf = str(tmp_path)
    d = os.path.join(sf, "events.parquet")
    os.mkdir(d)
    part = os.path.join(d, "part-0.parquet")
    pq.write_table(pa.table({"event_id": pa.array([1, 2], pa.int64())}), part)
    first = load_table(spark, sf, "events")
    assert first.columns == ["event_id"]
    assert load_table(spark, sf, "events") is first  # memo hit
    _t.sleep(0.01)  # ensure a distinct mtime
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "user_id": pa.array([5, 6], pa.int64()),
            }
        ),
        part,
    )
    again = load_table(spark, sf, "events")
    assert again is not first
    assert again.columns == ["event_id", "user_id"]
