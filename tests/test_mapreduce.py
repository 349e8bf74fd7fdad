"""Map → tree-reduce dataflow tests (reference test_mapreduce.py model:
deterministic echo fake + exact structural expectations)."""

from __future__ import annotations

import pyspark.sql.functions as F

from debgpt7_8_with_vectordb_spark.operators.mapreduce import (
    echo_lossy,
    map_phase,
    mapreduce_echo,
    tree_reduce,
)


def chunks_df(spark, texts):
    return spark.createDataFrame(
        [(1, i, t) for i, t in enumerate(texts)],
        "doc_id long, start int, content string",
    )


def test_echo_lossy_every_second_char(spark):
    # reference EchoFrontend.lossy_mode semantics (frontend.py:289-293)
    row = spark.range(1).select(echo_lossy(F.lit("abcdef"), 2).alias("v")).head()
    assert row["v"] == "ace"


def test_echo_lossy_rate_three(spark):
    row = spark.range(1).select(echo_lossy(F.lit("abcdefg"), 3).alias("v")).head()
    assert row["v"] == "adg"


def test_echo_lossy_empty(spark):
    row = spark.range(1).select(echo_lossy(F.lit(""), 2).alias("v")).head()
    assert row["v"] == ""


def test_tree_reduce_log2_rounds(spark):
    mapped = chunks_df(spark, ["a", "b", "c", "d"]).select(
        "doc_id", "start", F.col("content").alias("val")
    )
    final, rounds = tree_reduce(mapped)
    assert rounds == 2  # ⌈log₂4⌉
    assert final.count() == 1
    assert final.head()["val"] == "a\nb\nc\nd"


def test_tree_reduce_odd_tail_carried(spark):
    mapped = chunks_df(spark, ["a", "b", "c"]).select(
        "doc_id", "start", F.col("content").alias("val")
    )
    final, rounds = tree_reduce(mapped)
    assert final.count() == 1
    # pairing (a,b) then (ab, c): content preserved in order
    assert final.head()["val"].replace("\n", "") == "abc"


def test_single_chunk_short_circuit(spark):
    # zero reduce rounds on single-chunk input (reference mapreduce.py:489-490)
    mapped = chunks_df(spark, ["only"]).select(
        "doc_id", "start", F.col("content").alias("val")
    )
    final, rounds = tree_reduce(mapped)
    assert rounds == 0
    assert final.head()["val"] == "only"


def test_mapreduce_deterministic(spark):
    chunks = chunks_df(spark, ["abcdef", "ghijkl", "mnopqr"])
    r1 = mapreduce_echo(chunks).head()
    r2 = mapreduce_echo(chunks).head()
    assert r1 == r2
    # echo rate 2 halves (ceil) each chunk; joins add separators
    assert r1["final_len"] == 3 * 3 + 2


def test_mapreduce_parallel_grid(spark):
    """The reference's combinatorial grid (test_mapreduce.py:189-213:
    parallelism × {compact,binary} map/reduce × chunk sizes), collapsed
    per SURVEY §2.10 M4: Spark is always parallel, so the matrix is
    {binary, compact} reduce × chunk counts × echo rates × group
    budgets. Every cell must converge to exactly ONE deterministic row,
    and binary/compact must agree on the final string (both are
    in-order '\\n'-joins)."""
    from debgpt7_8_with_vectordb_spark.operators.mapreduce import (
        mapreduce_echo_compact,
    )

    for n_chunks in (1, 2, 5, 9):
        for rate in (1, 2, 3):
            chunks = chunks_df(spark, [f"chunk-{i}-payload" for i in range(n_chunks)])
            binary = mapreduce_echo(chunks, rate=rate).collect()
            assert len(binary) == 1
            assert binary[0]["digest"] is not None
            for budget in (16, 64):
                compact = mapreduce_echo_compact(
                    chunks, max_group_bytes=budget, rate=rate
                ).collect()
                assert len(compact) == 1
                assert compact[0]["digest"] == binary[0]["digest"]


def test_compact_reduce_converges_and_matches_binary(spark):
    """A5 compact reduce: same final string as binary (both are in-order
    associative '\n'-joins), fewer rounds (fan-in > 2)."""
    from debgpt7_8_with_vectordb_spark.operators.mapreduce import (
        compact_reduce,
        mapreduce_echo_compact,
    )

    texts = [f"chunk-{i}-payload-{'x' * i}" for i in range(9)]
    chunks = chunks_df(spark, texts)
    binary = mapreduce_echo(chunks, rate=2).head()
    compact = mapreduce_echo_compact(chunks, max_group_bytes=64, rate=2).head()
    assert binary["digest"] == compact["digest"]
    assert binary["final_len"] == compact["final_len"]
    assert compact["rounds"] <= binary["rounds"]

    # min-2-per-group convergence guarantee (reference mapreduce.py:308-312):
    # even a budget smaller than any pair still groups >=2 -> must terminate
    mapped = chunks_df(spark, ["aaaa", "bbbb", "cccc"]).select(
        "doc_id", "start", F.col("content").alias("val")
    )
    final, rounds = compact_reduce(mapped, max_group_bytes=1)
    assert final.count() == 1 and rounds >= 1


def test_with_global_rn_matches_sort_order(spark):
    """_with_global_rn must equal the index of each row in the global
    (doc_id, start) sort — across the single-partition fast path and
    the multi-partition offsets path."""
    from debgpt7_8_with_vectordb_spark.operators import mapreduce as mr

    rows = [(i % 37, (i * 7919) % 1009, f"v{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, start int, val string").repartition(13)

    expected = {
        (d, s): i for i, (d, s, _) in enumerate(sorted(rows, key=lambda r: (r[0], r[1])))
    }
    for n_override in (500, 70):  # 70 forces ceil(500/70)=8 range partitions
        old = mr._RN_PARTITION_ROWS
        mr._RN_PARTITION_ROWS = n_override
        try:
            got = {
                (r["doc_id"], r["start"]): r["rn"]
                for r in mr._with_global_rn(df, ["doc_id", "start"], 500).collect()
            }
        finally:
            mr._RN_PARTITION_ROWS = old
        assert got == expected


def test_tree_reduce_endgame_matches_distributed(spark):
    """The single-task end-game must produce byte-identical results and
    round counts to the fully-distributed loop on the same input."""
    from debgpt7_8_with_vectordb_spark.operators import mapreduce as mr

    rows = [(i % 11, i, f"chunk-{i:03d}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, start int, val string").repartition(7)

    results = {}
    for label, block in (("distributed", 1), ("mixed", 50), ("endgame", 10**6)):
        old = mr._PACK_BLOCK_ROWS
        mr._PACK_BLOCK_ROWS = block
        try:
            out, rounds = mr.tree_reduce(df)
            results[label] = (out.collect()[0]["val"], rounds)
        finally:
            mr._PACK_BLOCK_ROWS = old
    assert results["distributed"] == results["mixed"] == results["endgame"]

    # compact: block boundaries legitimately change intermediate
    # grouping (and so round counts), but the FINAL value is the
    # order-preserving join of all inputs — identical for any block
    # size (the associativity claim in compact_reduce's docstring).
    # block=1 is excluded: a one-row block cannot meet min_per_group=2.
    finals = {}
    for label, block in (("mixed", 50), ("endgame", 10**6)):
        old = mr._PACK_BLOCK_ROWS
        mr._PACK_BLOCK_ROWS = block
        try:
            out, _rounds = mr.compact_reduce(df, 400)
            rows_out = out.collect()
            assert len(rows_out) == 1
            finals[label] = rows_out[0]["val"]
        finally:
            mr._PACK_BLOCK_ROWS = old
    assert finals["mixed"] == finals["endgame"]


def test_checkpoint_freeing_is_exact_not_session_global(spark):
    """ADVICE r9: superseded-round checkpoint freeing must attribute
    blocks by the exact RDD id of the round's own DataFrame — a
    concurrent job's persisted/checkpointed blocks on the SAME session
    must survive the reduce loop untouched."""
    from debgpt7_8_with_vectordb_spark.loops import _checkpoint_rdd_id, release

    bystander = spark.range(100).localCheckpoint(eager=True)
    by_id = _checkpoint_rdd_id(bystander)
    assert by_id is not None
    # release frees exactly the checkpoints it is handed; DataFrames that
    # are not checkpoints are ignored
    other = spark.range(10).localCheckpoint(eager=True)
    other_id = _checkpoint_rdd_id(other)
    release(other, spark.range(3))
    live = _live_checkpoint_ids(spark)
    assert other_id not in live and by_id in live

    mapped = chunks_df(spark, [f"t{i}" for i in range(9)]).select(
        "doc_id", "start", F.col("content").alias("val")
    )
    out, rounds = tree_reduce(mapped)
    assert out.count() == 1 and rounds >= 1

    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    live = {int(k) for k in jmap.keySet().toArray()}
    assert by_id in live, "reduce loop freed a concurrent job's blocks"
    assert bystander.count() == 100
    bystander.unpersist()


def _live_checkpoint_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_superseded_round_checkpoints_are_actually_freed(spark):
    """ADVICE r10: the exact-freeing test above proves a bystander
    SURVIVES, but must also prove superseded rounds were UNPERSISTED —
    loops._checkpoint_rdd_id fails open (any exception -> None -> freeing
    no-ops), so a Spark-internal API change in
    queryExecution().analyzed().rdd() would silently reintroduce the
    per-round block pile-up (the 923 MB r9 scale bug) with the old
    test still green. Forcing one distributed pairing round per pass
    (block=2) makes a 9-row reduce run 4 passes, so 3 superseded
    checkpoints MUST have existed — afterwards only the bystander and
    the final pass's checkpoint may remain."""
    import debgpt7_8_with_vectordb_spark.operators.mapreduce as mr
    from debgpt7_8_with_vectordb_spark.loops import _checkpoint_rdd_id

    live_before = _live_checkpoint_ids(spark)
    bystander = spark.range(50).localCheckpoint(eager=True)
    by_id = _checkpoint_rdd_id(bystander)
    assert by_id is not None

    mapped = chunks_df(spark, [f"t{i}" for i in range(9)]).select(
        "doc_id", "start", F.col("content").alias("val")
    )
    old = mr._PACK_BLOCK_ROWS
    mr._PACK_BLOCK_ROWS = 2
    try:
        out, rounds = mr.tree_reduce(mapped)
        assert out.count() == 1
        assert rounds == 4  # 9 -> 5 -> 3 -> 2 -> 1: 3 superseded ckpts
    finally:
        mr._PACK_BLOCK_ROWS = old

    new_ids = _live_checkpoint_ids(spark) - live_before
    assert by_id in new_ids
    # exactly {bystander, final pass}: every intermediate pass's
    # checkpoint id must be gone from the block manager
    assert len(new_ids) == 2, (
        f"superseded round checkpoints leaked: {sorted(new_ids)}"
    )
    bystander.unpersist()
