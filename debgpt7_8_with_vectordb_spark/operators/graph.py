"""Distributed connected components (duplicate-cluster canonicalization).

Min-label propagation PLUS pointer doubling: each round every node takes
the min of (its own label, its neighbors' labels), then JUMPS — replaces
its label with its label's label. Neighbor propagation alone needs
O(diameter) rounds (a 64-doc duplicate chain = 63 rounds); the jump
halves pointer depth every round, so chains converge in O(log diameter)
rounds with the same per-round primitives (two equi-joins + a min
groupBy — no new shuffle shapes, so the 100 TB story is unchanged).

Invariant: a node's label is always the id of some node in its own
component (labels start as self-ids and only move along edges or along
label pointers, both intra-component), and labels are monotone
non-increasing — so the exact decimal label-sum is a convergence
certificate, and the fixpoint (stable under neighbor-min ⇒ constant per
component; component min keeps itself) is the component-min labeling.

Reference has no equivalent (single-node SQLite client); this is pure
engine, same iterative shape as operators/mapreduce.py's reduce loops.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..loops import checkpoint_observed, loop_confs, release

#: Round cap — 2·log₂(n) + slack covers any graph pointer doubling can
#: see; the certificate loop normally exits far earlier (near-clique
#: duplicate classes: 1-2 rounds; planted 64-chain: ≤7, pinned in
#: tests/test_graph_components.py).
_MAX_ROUNDS = 30

#: ~2M 16-byte (doc_id, lab) rows ≈ 32 MB per reduce partition
_ROWS_PER_PART = 2_000_000


def _label_sum():
    # exact: decimal(38,0) cannot overflow on a sum of long ids
    return F.sum(F.col("lab").cast("decimal(38,0)"))


def connected_components(nodes: DataFrame, edges: DataFrame) -> tuple[DataFrame, int]:
    """Label every node with its component's min node id.

    ``nodes``: one column ``doc_id`` (long). ``edges``: columns
    ``src``/``dst`` (long), assumed SYMMETRIC (caller unions both
    directions). Returns (labels(doc_id, lab), rounds_run).

    Monotone decimal-sum certificate: labels never increase, so an
    unchanged exact label sum after neighbor-min means no label moved —
    the loop stops there, before that round's pointer jump. The sums
    and the node/edge counts ride the checkpoint actions.
    """
    sym, m = checkpoint_observed(edges.select("src", "dst"), n=F.count(F.lit(1)))
    n_edges = m["n"]
    labels, m = checkpoint_observed(
        nodes.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("doc_id").cast("long").alias("lab"),
        ),
        n=F.count(F.lit(1)),
        s=_label_sum(),
    )
    n_nodes, prev_sum = m["n"], m["s"]
    rounds = 0
    with loop_confs(labels.sparkSession, max(n_nodes, n_edges), _ROWS_PER_PART):
        for _ in range(_MAX_ROUNDS):
            # 1. neighbor-min: each node sees the labels across its edges
            nbr = sym.join(
                labels.withColumnRenamed("doc_id", "dst"), "dst"
            ).select(F.col("src").alias("doc_id"), "lab")
            # checkpointed BEFORE the jump: cand is read twice there
            cand, m = checkpoint_observed(
                labels.union(nbr).groupBy("doc_id").agg(F.min("lab").alias("lab")),
                s=_label_sum(),
            )
            rounds += 1
            if m["s"] == prev_sum:  # fixpoint: cand ≡ labels
                release(cand)
                break
            # 2. pointer jump: lab ← label OF the label (a self-equi-join;
            #    least keeps monotonicity when the target hasn't caught up)
            jumped = cand.alias("c").join(
                cand.select(
                    F.col("doc_id").alias("lab"), F.col("lab").alias("lab2")
                ).alias("j"),
                "lab",
            )
            nxt, m = checkpoint_observed(
                jumped.select("doc_id", F.least("lab", "lab2").alias("lab")),
                s=_label_sum(),
            )
            # round r reads only labels_{r-1}: free it and this cand
            release(labels, cand)
            labels, prev_sum = nxt, m["s"]
    release(sym)
    return labels, rounds
