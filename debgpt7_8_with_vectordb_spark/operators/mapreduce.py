"""Map → tree-reduce dataflow over chunks (reference M1-M5, A4/A5).

Reference (mapreduce.py:434-550): chunk the input, apply an LLM
"extract" prompt per chunk (ThreadPool, default 8 threads), then
pairwise LLM-combine the results in ⌈log₂ n⌉ rounds until one remains;
odd element carried over; single-chunk input short-circuits with zero
calls (mapreduce.py:489-490).

Spark shape:
- the map phase is a column expression (deterministic extractors) or an
  Arrow-batched ``mapInPandas`` (real model calls) — task parallelism
  replaces the ThreadPool;
- each reduce round pairs rows by an exact global index (per-partition
  rank + broadcast partition offsets — never a single-partition window)
  and combines pairs with ``applyInPandas``; the driver loops while
  ``count > 1`` (same shape as ``RDD.treeReduce``) and only ever sees
  the count;
- ``localCheckpoint`` each round truncates the growing lineage
  (SURVEY.md §4.3.2).

The deterministic test "LLM" is echo-lossy: keep every ``rate``-th
character (the reference ships exactly this fake for its own tests —
frontend.py:289-293 EchoFrontend.lossy_mode).
"""

from __future__ import annotations

import math
from collections.abc import Callable
from itertools import groupby
from operator import itemgetter

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..loops import checkpoint_observed, release

#: Rows per range partition when assigning the global pairing index.
#: 64 Ki rows/partition keeps the per-partition window cheap and bounds
#: the broadcast offset table at ~n/65536 rows (10¹¹ chunks → ~1.5 M
#: offset rows ≈ 25 MB — broadcastable; the data itself never funnels).
_RN_PARTITION_ROWS = 65536

#: Rows per contiguous block of the tree/compact reduce loop. Rounds
#: run executor-side WITHIN a block, blocks are exact rn//4096 slices,
#: so results are deterministic under any physical partitioning.
#: Inputs ≤ 4096 rows are one block = the reference's exact global
#: greedy scan (mapreduce.py:287-326).
_PACK_BLOCK_ROWS = 4096


def _with_global_rn(df: DataFrame, order_cols: list[str], n: int) -> DataFrame:
    """Exact 0-based global row number in ``order_cols`` order WITHOUT a
    single-partition window (the round-1 scale-killer): range-partition
    on the order key, rank within each partition, then add per-partition
    offsets (a broadcast table of ≤ ⌈n/65536⌉ rows — the only data that
    leaves the executors is one (partition, count) pair per partition).

    Every stage is parallel; the offset cumulative sum runs over the
    tiny counts table only. Ordering keys are unique per row (chunk
    (doc_id, start)), so the result is deterministic regardless of where
    the range sampler places partition boundaries.
    """
    nparts = max(1, math.ceil(n / _RN_PARTITION_ROWS))
    cols = [F.col(c) for c in order_cols]
    if nparts == 1:
        # shrunken tail (≤ 64 Ki rows): no counts/offsets jobs needed —
        # the constant-key window shuffles ONLY the bounded tail into one
        # task (upstream stages keep their parallelism). This is the only
        # place a single-partition window appears, and it is bounded by
        # _RN_PARTITION_ROWS rows by construction.
        w = Window.partitionBy(F.lit(0)).orderBy(*cols)
        return df.withColumn(
            "rn", (F.row_number().over(w) - F.lit(1)).cast("long")
        )
    keyed = (
        df.repartitionByRange(nparts, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lrn",
            F.row_number().over(Window.partitionBy("_pid").orderBy(*cols)),
        )
    )
    counts = keyed.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    # cumulative offsets over the COUNTS table (≤ nparts rows): the one
    # place a global window is fine — it sees one row per partition, not
    # one row per chunk.
    ow = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_cnt").over(ow), F.lit(0)).alias("_off")
    )
    return (
        keyed.join(F.broadcast(offsets), "_pid")
        .withColumn("rn", (F.col("_off") + F.col("_lrn") - F.lit(1)).cast("long"))
        .drop("_pid", "_lrn", "_off")
    )


def echo_lossy(col: Column, rate: int = 2) -> Column:
    """Deterministic 'extraction': every rate-th char, as a Catalyst
    expression (filter over the char positions — no UDF)."""
    chars = F.split(col, "")
    n = F.size(chars)
    picked = F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.when(((i - 1) % rate) == 0, F.element_at(chars, i)).otherwise(F.lit("")),
    )
    return F.when(n <= 0, F.lit("")).otherwise(F.array_join(picked, ""))


def map_phase(chunks: DataFrame, content_col: str = "content", rate: int = 2) -> DataFrame:
    """M1 deterministic map: one 'extracted' string per chunk, keyed for
    a stable global order (doc_id, start)."""
    return chunks.select(
        F.col("doc_id"),
        F.col("start"),
        echo_lossy(F.col(content_col), rate).alias("val"),
    )


def _blocked_reduce(
    mapped: DataFrame,
    group_ids: Callable[[list], list[int]],
    levels: int,
    combine: str,
) -> tuple[DataFrame, int]:
    """The reduce driver loop shared by tree and compact reduce: repeat
    rounds of "group adjacent rows, join each group's values" until one
    row remains. ``group_ids(rows)`` gives one round's contiguous group
    ids for a block of (doc_id, start, val) rows in (doc_id, start)
    order. Returns (1-row DataFrame, rounds run).

    Each pass slices the surviving rows into exact contiguous
    ``_PACK_BLOCK_ROWS`` blocks of the global order (``rn // block``) and
    replays up to ``levels`` rounds inside each block's task; once the
    rows fit one block, one task runs every remaining round. The round
    count and the row count of a pass ride its checkpoint action; the
    superseded checkpoint is freed as soon as the next one exists.
    """
    ckpt, m = checkpoint_observed(
        mapped.select("doc_id", "start", "val"), n=F.count(F.lit(1))
    )
    n = int(m["n"])
    rounds = 0
    limit = max(1, int(math.log2(max(n, 2))) + 2)
    # a block must hold >= 2 rows to guarantee progress
    block_rows = max(2, _PACK_BLOCK_ROWS)
    while n > 1 and rounds < limit:
        cap = limit - rounds
        if n <= block_rows:
            blocked = ckpt.withColumn("_blk", F.lit(0))
        else:
            cap = min(cap, levels)
            blocked = (
                _with_global_rn(ckpt, ["doc_id", "start"], n)
                .withColumn("_blk", (F.col("rn") / block_rows).cast("long"))
                .drop("rn")
            )

        def reduce_block(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(["doc_id", "start"])
            rows = list(zip(pdf["doc_id"], pdf["start"], pdf["val"]))
            r = 0
            while len(rows) > 1 and r < cap:
                rows = _combine_groups(rows, group_ids(rows), combine)
                r += 1
            return pd.DataFrame(
                [(int(d), int(s), v, r) for d, s, v in rows],
                columns=["doc_id", "start", "val", "_rounds"],
            )

        done, m = checkpoint_observed(
            blocked.groupBy("_blk").applyInPandas(
                reduce_block,
                schema="doc_id long, start int, val string, _rounds int",
            ),
            r=F.max("_rounds"),
            n=F.count(F.lit(1)),
        )
        rounds += int(m["r"])
        n = int(m["n"])
        release(ckpt)
        ckpt = done
    return ckpt.select("doc_id", "start", "val"), rounds


def _combine_groups(rows: list, gids: list, combine: str) -> list:
    """One reduce round: each run of equal group ids becomes one row
    keyed by its first row, values joined in order."""
    out = []
    for _, run in groupby(zip(gids, rows), itemgetter(0)):
        grp = [row for _, row in run]
        out.append((grp[0][0], grp[0][1], combine.join(v for _, _, v in grp)))
    return out


def tree_reduce(mapped: DataFrame, combine: str = "\n") -> tuple[DataFrame, int]:
    """A4 binary tree reduction: pair adjacent rows of the global
    (doc_id, start) order, join each pair, repeat until one row remains
    (the odd tail rides along unmerged, reference mapreduce.py:337-350).
    Returns (1-row DataFrame, rounds run).

    A full 2^12 block halves evenly for 12 rounds, so pairing never
    crosses a block boundary within a pass and only the last partial
    block holds the odd tail: the blocked passes ARE the global
    algorithm, rounds total ceil(log2(n)) and the string is
    byte-identical (tests pin the digests and rounds).
    """
    return _blocked_reduce(
        mapped,
        lambda rows: [i // 2 for i in range(len(rows))],
        int(math.log2(max(2, _PACK_BLOCK_ROWS))),
        combine,
    )


def compact_reduce(
    mapped: DataFrame, max_group_bytes: int, combine: str = "\n"
) -> tuple[DataFrame, int]:
    """A5/C4 compact (n-ary) reduction: greedily bin-pack rows into
    ≤max_group_bytes groups — at least 2 per group so every round
    strictly shrinks (reference mapreduce.py:287-326) — join each group,
    repeat until one row remains. Returns (1-row DataFrame, rounds run).

    The greedy scan is order-dependent, so a full-block pass runs ONE
    round per block; blocks are order-preserving slices and the join is
    associative, so the final string equals a global scan's, and inputs
    that fit one block reproduce the reference's global greedy exactly.
    """
    from .binpack import pack_sizes

    def pack(rows: list) -> list:
        sizes = [len((v or "").encode("utf-8")) for _, _, v in rows]
        return pack_sizes(sizes, max_group_bytes, min_per_group=2)

    return _blocked_reduce(mapped, pack, 1, combine)


def mapreduce_echo(chunks: DataFrame, rate: int = 2) -> DataFrame:
    """Full M4 pipeline with the deterministic echo extractor; returns one
    row (final_len, digest, rounds). Single-chunk inputs short-circuit
    inside tree_reduce (n==1 → zero rounds), like mapreduce.py:489-490."""
    mapped = map_phase(chunks, rate=rate)
    final, rounds = tree_reduce(mapped)
    return final.select(
        F.length("val").cast("long").alias("final_len"),
        F.md5(F.col("val").cast("binary")).alias("digest"),
        F.lit(rounds).cast("long").alias("rounds"),
    )


def mapreduce_echo_compact(
    chunks: DataFrame, max_group_bytes: int, rate: int = 2
) -> DataFrame:
    """M4 pipeline in COMPACT mode (reference mode matrix
    mapreduce.py:494-547: {serial,parallel}×{binary,compact} — Spark is
    always parallel, compact-vs-binary stays a parameter): echo map →
    n-ary bin-packed reduce. Converges in ⌈log_f n⌉ rounds where f =
    average group fan-in (≥2 guaranteed by C4's min-2 rule)."""
    mapped = map_phase(chunks, rate=rate)
    final, rounds = compact_reduce(mapped, max_group_bytes)
    return final.select(
        F.length("val").cast("long").alias("final_len"),
        F.md5(F.col("val").cast("binary")).alias("digest"),
        F.lit(rounds).cast("long").alias("rounds"),
    )
