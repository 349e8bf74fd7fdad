"""Connected components (operators/graph.py): exact component-min labels
and the fold's level invariant.

The fold's level count is 1 + ⌈log₂ (edge partitions)⌉: it follows how
the edges are split, never the graph's diameter, so a 64-node chain (the
adversarial case for label propagation: 63 rounds) and a clique cost the
same levels. Labels must not depend on the split or on whether each
pair is given in one direction or in both.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from debgpt7_8_with_vectordb_spark.operators.graph import _fold, connected_components
from tests.test_loops import _jobs


def _levels(edge_parts: int) -> int:
    return 1 + (edge_parts - 1).bit_length()


def _union_find(n, pair_list):
    """The textbook sequential answer: node -> its component's min."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pair_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in range(n)}


def _run(spark, n_nodes, pair_list, parts=4, both=False):
    nodes = spark.range(n_nodes).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(pair_list, "src long, dst long")
    if both:
        pairs = pairs.union(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    pairs = pairs.repartition(parts)
    labels, rounds = connected_components(nodes.select("doc_id"), pairs)
    got = {r["doc_id"]: r["lab"] for r in labels.collect()}
    return got, rounds


def test_chain_64_rounds_logarithmic(spark):
    # 0-1-2-...-63: one component, min label must reach the far end
    n = 64
    got, rounds = _run(spark, n, [(i, i + 1) for i in range(n - 1)])
    assert got == {i: 0 for i in range(n)}
    assert rounds == _levels(4) == 3


def test_clique_fast_and_exact(spark):
    clique = [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
    got, rounds = _run(spark, 20, clique)
    for i in range(20):
        assert got[i] == (10 if 10 <= i < 15 else i)
    assert rounds == _levels(4)


def test_cliques_exact_labels(spark):
    # three disjoint cliques whose min is not their first-listed member
    cliques = [range(3, 9), range(12, 20), range(0, 3)]
    pair_list = [(b, a) for c in cliques for a in c for b in c if a < b]
    got, _ = _run(spark, 24, pair_list)
    want = {v: min(c) for c in cliques for v in c}
    assert got == {i: want.get(i, i) for i in range(24)}


def test_two_components_and_isolates(spark):
    got, _ = _run(spark, 12, [(0, 5), (5, 3), (7, 11), (11, 8)])
    assert got[0] == got[5] == got[3] == 0
    assert got[7] == got[11] == got[8] == 7
    for iso in (1, 2, 4, 6, 9, 10):
        assert got[iso] == iso


def test_node_only_in_nodes_keeps_own_id(spark):
    """A node with no edge is labeled by the left join alone, and an
    edge endpoint missing from ``nodes`` adds no row."""
    nodes = spark.createDataFrame([(5,), (9,), (2,)], "doc_id long")
    pairs = spark.createDataFrame([(9, 2), (2, 40)], "src long, dst long")
    labels, _ = connected_components(nodes, pairs)
    assert sorted((r["doc_id"], r["lab"]) for r in labels.collect()) == [
        (2, 2),
        (5, 5),
        (9, 2),
    ]


def test_random_graphs_match_union_find(spark):
    """Randomized cross-check vs a driver-side union-find: same
    component-min labeling on every graph, pairs in either direction."""
    rng = random.Random(0xC0FFEE)
    for trial in range(4):
        n = rng.randint(2, 40)
        m = rng.randint(0, 60)
        pair_list = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        pair_list = [(a, b) for a, b in pair_list if a != b] or [(0, min(1, n - 1))]
        got, _ = _run(spark, n, pair_list)
        assert got == _union_find(n, pair_list), f"trial {trial}: n={n} edges={pair_list}"


_graphs = st.integers(2, 30).flatmap(
    lambda n: st.tuples(
        st.just(n), st.lists(st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)), max_size=40)
    )
)


@given(_graphs, st.lists(st.integers(0, 3)))
@settings(max_examples=200, deadline=None)
def test_fold_of_any_split_matches_union_find(graph, owners):
    """Folding each part of an arbitrary split, then folding the union of
    the forests, labels every touched node with its component minimum."""
    n, pair_list = graph
    parts = [[] for _ in range(4)]
    for i, pair in enumerate(pair_list):
        parts[owners[i] if i < len(owners) else i % 4].append(pair)

    def fold(pairs):
        batch = pa.RecordBatch.from_arrays(
            [pa.array([a for a, _ in pairs], pa.int64()), pa.array([b for _, b in pairs], pa.int64())],
            names=["src", "dst"],
        )
        (out,) = _fold(iter([batch]))
        return list(zip(out.column(0).to_pylist(), out.column(1).to_pylist()))

    forest = fold([row for part in parts for row in fold(part)])
    want = _union_find(n, pair_list)
    touched = {v for pair in pair_list for v in pair}
    assert dict(forest) == {v: want[v] for v in touched}


@given(_graphs, st.sampled_from([1, 4]), st.booleans())
@settings(max_examples=12, deadline=None)
def test_components_match_union_find_property(spark, graph, parts, both):
    n, pair_list = graph
    got, rounds = _run(spark, n, pair_list, parts=parts, both=both)
    assert got == _union_find(n, pair_list)
    assert rounds == _levels(parts)


def test_empty_edges_zero_work(spark):
    nodes = spark.range(5).select(F.col("id").alias("doc_id"))
    empty = spark.createDataFrame([], "src long, dst long").repartition(1)
    labels, rounds = connected_components(nodes, empty)
    assert {r["doc_id"]: r["lab"] for r in labels.collect()} == {i: i for i in range(5)}
    assert rounds == 1


def test_cc_jobs_do_not_grow_with_diameter(spark):
    """A 64-node and a 1024-node chain on the same edge partitions cost
    the same levels and the same jobs."""
    counts = []
    for n in (64, 1024):
        nodes = spark.range(n).select(F.col("id").alias("doc_id"))
        chain = spark.range(n - 1).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        ).repartition(4)
        (labels, rounds), n_jobs = _jobs(
            spark, f"cc-chain-{n}", lambda: connected_components(nodes, chain)
        )
        assert {r["lab"] for r in labels.collect()} == {0}
        assert rounds == 3
        counts.append(n_jobs)
    assert counts[0] == counts[1], counts


def test_mega_component_stress_graph_rounds_and_labels(spark):
    """The planted mega-component graph (near-clique + two long chains +
    pair tail, tools/stress_graph_skew.py scaled down) gets exactly the
    planted components in the levels its edge partitions dictate. The
    full-size task-skew measurement lives in the tool + SCALING.md."""
    import sys as _sys

    _sys.path.insert(0, "tools")
    from stress_graph_skew import build_graph

    clique_n, chain_n = 1000, 256
    nodes, edges = build_graph(spark, clique_n, chain_n, degree=20, bg_n=10_000)
    labels, rounds = connected_components(nodes, edges)
    assert rounds == _levels(edges.rdd.getNumPartitions())
    sizes = {
        r["lab"]: r["n"]
        for r in labels.groupBy("lab")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"))
        .limit(3)
        .collect()
    }
    assert sizes == {0: clique_n, clique_n: chain_n, clique_n + chain_n: chain_n}
