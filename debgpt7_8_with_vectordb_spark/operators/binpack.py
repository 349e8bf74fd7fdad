"""Greedy first-fit bin packing of chunks (reference C3/C4).

Semantics (reference mapreduce.py:53-91 `group_chunks_by_length`):
sequentially scan chunks in document order, accumulate into the current
group while the byte total stays ≤ ``max_group_bytes``; an element that
would overflow starts a new group. The reduce-side variant
(mapreduce.py:287-326) additionally forces ≥2 items per group so the
tree reduction always makes progress.

This is order-dependent with accumulator RESET — not a window cumulative
sum (SURVEY.md §4.3.1). Spark shape: ``applyInPandas`` per document
(each document's chunk list is bounded by the document size, so a group
fits a task), parallel ACROSS documents. Cross-document packing, when
needed, is the same loop inside ``mapPartitions`` after
``repartitionByRange`` — the ordering contract is then per-partition.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

PACKED_SCHEMA = (
    "doc_id long, group_id int, n_items long, group_bytes long, start int, end int"
)


def pack_sizes(sizes: list[int], max_group_bytes: int, min_per_group: int = 1) -> list[int]:
    """Group ids for an ordered size list — first-fit sequential scan.

    ``min_per_group=2`` reproduces the reduce-side guarantee (a group
    may overflow rather than stay a singleton, ensuring convergence).
    """
    gids: list[int] = []
    gid = 0
    cur_bytes = 0
    cur_count = 0
    for sz in sizes:
        would = cur_bytes + sz
        if cur_count > 0 and would > max_group_bytes and cur_count >= min_per_group:
            gid += 1
            cur_bytes = 0
            cur_count = 0
        gids.append(gid)
        cur_bytes += sz
        cur_count += 1
    return gids


def chunk_and_pack(
    docs: DataFrame,
    max_chunk_bytes: int,
    max_group_bytes: int,
    min_per_group: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """FUSED chunk→pack: both are pure per-document functions, so running
    them in ONE mapInPandas pass eliminates the chunk shuffle AND the
    per-doc applyInPandas group overhead entirely — zero exchanges, scan
    parallelism end-to-end. This is the operator the 100 TB pipeline
    uses."""
    from collections.abc import Iterator

    from .chunker import chunk_text

    cols = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                chunks = chunk_text(text or "", max_chunk_bytes)
                sizes = [nb for (_s, _e, nb, _c) in chunks]
                gids = pack_sizes(sizes, max_group_bytes, min_per_group)
                by_gid: dict[int, list[int]] = {}
                for idx, g in enumerate(gids):
                    by_gid.setdefault(g, []).append(idx)
                for g, idxs in by_gid.items():
                    rows.append(
                        (
                            doc_id,
                            g,
                            len(idxs),
                            sum(sizes[i] for i in idxs),
                            chunks[idxs[0]][0],
                            chunks[idxs[-1]][1],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "group_id", "n_items", "group_bytes", "start", "end"],
            )

    return cols.mapInPandas(run, schema=PACKED_SCHEMA)


CROSSDOC_SCHEMA = (
    "range_id long, group_id int, n_docs long, n_items long, "
    "group_bytes long, first_doc long, last_doc long"
)


def pack_chunks_crossdoc(
    chunks: DataFrame,
    max_group_bytes: int,
    range_width: int,
    min_per_group: int = 1,
) -> DataFrame:
    """CROSS-document packing (SURVEY §4.3.1's second clause): the same
    greedy reset-accumulator scan, but the stream crosses document
    boundaries — small documents pack together instead of each paying a
    group.

    Scale shape — the two-pass recipe: pass 1 assigns each chunk a
    FIXED-WIDTH doc-id range (``range_id = doc_id div range_width``) and
    shuffles on it (contiguous ranges, exactly what
    ``repartitionByRange`` produces, but with DETERMINISTIC boundaries —
    sampled range boundaries would make group membership vary run to
    run, unverifiable cross-engine); pass 2 runs the sequential
    first-fit scan per range in (doc_id, start) order via
    ``applyInPandas``. The ordering contract is per-range: packing
    resets at range boundaries, so the result differs from a global
    single-threaded scan by at most one boundary group per range —
    tests/test_binpack_crossdoc.py pins that bound against a global
    greedy replay. ``range_width`` bounds per-task memory: a range is
    ~range_width documents of chunks, whatever the corpus size."""

    def pack_range(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["doc_id", "start"]).reset_index(drop=True)
        gids = pack_sizes(list(pdf["n_bytes"]), max_group_bytes, min_per_group)
        pdf = pdf.assign(group_id=gids)
        agg = (
            pdf.groupby("group_id")
            .agg(
                range_id=("range_id", "first"),
                n_docs=("doc_id", "nunique"),
                n_items=("n_bytes", "size"),
                group_bytes=("n_bytes", "sum"),
                first_doc=("doc_id", "min"),
                last_doc=("doc_id", "max"),
            )
            .reset_index()
        )
        return agg[
            [
                "range_id",
                "group_id",
                "n_docs",
                "n_items",
                "group_bytes",
                "first_doc",
                "last_doc",
            ]
        ]

    ranged = chunks.select(
        "doc_id",
        "start",
        "n_bytes",
        F.expr(f"doc_id div {int(range_width)}").alias("range_id"),
    )
    # Keyed fan_out BEFORE the group stage (guide §2.5 + §4): the pack
    # scan is CPU-per-group, not bytes, so AQE's byte-based coalescing
    # funnels every range into ONE python task (event-log: a 1538 ms
    # single-task stage for ~157 ranges at sf0.1, ~8 ms of pandas-group
    # overhead each). An explicit hash repartition on range_id is a
    # partitioning applyInPandas reuses (no extra exchange) and AQE
    # honors user-specified partition counts, keeping the group work
    # cluster-wide; at real split counts fan_out is a no-op and the
    # group exchange behaves as before. Measured 2.73 → 1.06 s
    # standalone min on the binpack_crossdoc query.
    from ..tables import fan_out

    return fan_out(ranged, "range_id").groupBy("range_id").applyInPandas(
        pack_range, schema=CROSSDOC_SCHEMA
    )
