"""Round-15 optimization pins: the restructured driver loops must
restore session confs they scope (AQE + shuffle partitions), and their
loop-control shortcuts must preserve the operators' exact semantics.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from debgpt7_8_with_vectordb_spark.operators.graph import connected_components
from debgpt7_8_with_vectordb_spark.sources.fanout import fetch_paginated


def _confs(spark):
    return (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"),
    )


def _cc_case(spark, tmp_path):
    nodes = spark.range(6).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    sym = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels, _ = connected_components(nodes, sym)
    got = {r["doc_id"]: r["lab"] for r in labels.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5}


def _fetch_case(spark, tmp_path):
    def fetcher(url):
        return 200, "x", None

    seeds = spark.createDataFrame([("p://a",)], "url string")
    out = fetch_paginated(seeds, fetcher).collect()
    assert [(r["url"], r["depth"], r["status"]) for r in out] == [
        ("p://a", 0, 200)
    ]


def _bpe_case(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from debgpt7_8_with_vectordb_spark.plans import QUERIES

    pq.write_table(
        pa.table({"doc_id": pa.array([0], pa.int64()), "text": pa.array(["aaaa"])}),
        str(tmp_path / "documents.parquet"),
    )
    rows = QUERIES["bpe_train_merges"](spark, str(tmp_path)).collect()
    got = sorted((r["merge_rank"], r["merged"], r["pair_count"]) for r in rows)
    assert got == [(1, "aa", 3), (2, "aaaa", 1)]


@pytest.mark.parametrize(
    "case",
    [_cc_case, _fetch_case, _bpe_case],
    ids=["connected_components", "fetch_paginated", "bpe_train_merges"],
)
def test_loop_restores_scoped_confs(spark, tmp_path, case):
    """Every loop that scopes AQE and shuffle partitions hands the
    session back with both confs as they were, and its output intact."""
    before = _confs(spark)
    case(spark, tmp_path)
    assert _confs(spark) == before


def test_connected_components_restores_confs_on_error(spark):
    before = _confs(spark)
    nodes = spark.range(3).select(F.col("id").alias("doc_id"))
    bad_edges = spark.createDataFrame([(0, 1)], "src long, wrong long")
    try:
        connected_components(nodes, bad_edges)
    except Exception:
        pass
    assert _confs(spark) == before


def test_cand_certificate_skips_final_jump_exactly(spark):
    """The pre-jump fixpoint certificate (sum(cand) == sum(labels))
    must terminate with the SAME labeling as running the jump — pinned
    on a chain long enough that pointer doubling does real work."""
    n = 32
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    sym = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels, rounds = connected_components(nodes, sym)
    assert {r["lab"] for r in labels.collect()} == {0}
    assert rounds <= 7  # log2(32)=5 + certificate + slack


def test_fetch_paginated_empty_seeds_schema_and_no_rows(spark):
    def fetcher(url):  # pragma: no cover - never called
        raise AssertionError("must not fetch from empty seeds")

    seeds = spark.createDataFrame([], "url string")
    out = fetch_paginated(seeds, fetcher)
    assert out.columns == ["url", "depth", "status", "content"]
    assert out.count() == 0


def test_fetch_paginated_duplicate_seeds_fetch_once(spark):
    calls = []

    def fetcher(url):
        calls.append(url)  # driver-local fake transport: single process
        return 200, "x", None

    seeds = spark.createDataFrame([("p://a",), ("p://a",)], "url string")
    out = fetch_paginated(seeds, fetcher).collect()
    assert len(out) == 1 and out[0]["depth"] == 0


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
