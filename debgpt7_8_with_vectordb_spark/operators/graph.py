"""Distributed connected components (duplicate-cluster canonicalization)
as a spanning-forest fold.

``_fold`` is a union-find over one task's edges: it attaches the larger
root under the smaller and emits ``(node, root)`` for every node it
touched — a spanning forest of that task's edges. Level 0 folds each
edge partition; every further level folds pairs of forest partitions,
until one partition is left. Invariants:

- Any split of the edge multiset gives the same components: the union
  of per-partition spanning forests is connectivity-equivalent to the
  union of the edges, so folding forests again loses no connection and
  invents none. Edges may come in one direction only; duplicates and
  self-loops are harmless.
- The root is the component minimum: a set's root is only ever replaced
  by a smaller one, so the one-partition level labels every node with
  the least node of its component.
- Each merge task holds at most the distinct nodes of its ≤ 2 inputs;
  the last level holds every node that has an edge. The level count is
  1 + ⌈log₂ (edge partitions)⌉, whatever the graph's diameter.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..loops import pin, release

_FOREST = "src long, dst long"


def _fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for b in batches:
        for u, v in zip(b.column(0).to_pylist(), b.column(1).to_pylist()):
            ru, rv = find(parent.setdefault(u, u)), find(parent.setdefault(v, v))
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
    nodes = list(parent)
    yield pa.RecordBatch.from_arrays(
        [pa.array(nodes, pa.int64()), pa.array([find(n) for n in nodes], pa.int64())],
        names=["src", "dst"],
    )


def connected_components(nodes: DataFrame, edges: DataFrame) -> tuple[DataFrame, int]:
    """Label every node with its component's min node id.

    ``nodes``: one column ``doc_id`` (long). ``edges``: columns
    ``src``/``dst`` (long), one direction per pair is enough. Returns
    (labels(doc_id, lab), fold levels run); ``labels`` is pinned.
    """
    forest, _ = pin(edges.select("src", "dst").mapInArrow(_fold, _FOREST))
    levels = 1
    # coalesce only pinned input: on a live plan the narrow coalesce
    # would pull the partition-local fold into fewer tasks
    while (p := forest.rdd.getNumPartitions()) > 1:
        merged, _ = pin(forest.coalesce(-(-p // 2)).mapInArrow(_fold, _FOREST))
        release(forest)
        forest, levels = merged, levels + 1
    labels, _ = pin(
        nodes.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(forest.withColumnRenamed("src", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("dst", "doc_id").alias("lab"))
    )
    release(forest)
    return labels, levels
