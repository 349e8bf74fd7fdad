"""S15 recursive pagination (sources/fanout.py fetch_paginated):
frontier mechanics the oracle's straight-chain walk can't exercise —
cycles, converging links, the depth bound, failure pages, seeds reachable
from other seeds, walks split across tasks, and streamed output batches.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from debgpt7_8_with_vectordb_spark.loops import scoped_confs
from debgpt7_8_with_vectordb_spark.sources.fanout import fetch_paginated


def _seeds(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def test_three_page_walk_exact_union(spark):
    def fetcher(url):
        graph = {"p://a": "p://b", "p://b": "p://c", "p://c": None}
        return 200, "body-" + url[-1], graph[url]

    out = fetch_paginated(_seeds(spark, ["p://a"]), fetcher).collect()
    got = {(r["url"], r["depth"], r["content"]) for r in out}
    assert got == {
        ("p://a", 0, "body-a"),
        ("p://b", 1, "body-b"),
        ("p://c", 2, "body-c"),
    }


def test_cycle_terminates_and_dedupes(spark):
    def fetcher(url):
        nxt = {"p://a": "p://b", "p://b": "p://a"}[url]
        return 200, "x", nxt

    out = fetch_paginated(_seeds(spark, ["p://a"]), fetcher, max_pages=10).collect()
    # the back-link to the visited page is never re-fetched
    assert sorted((r["url"], r["depth"]) for r in out) == [("p://a", 0), ("p://b", 1)]


def test_converging_chains_fetch_once(spark):
    # two seeds link into the same tail page: one fetch, first depth wins
    def fetcher(url):
        nxt = {"p://a": "p://t", "p://b": "p://t", "p://t": None}[url]
        return 200, "x", nxt

    out = fetch_paginated(_seeds(spark, ["p://a", "p://b"]), fetcher).collect()
    tails = [r for r in out if r["url"] == "p://t"]
    assert len(tails) == 1 and tails[0]["depth"] == 1
    assert len(out) == 3


def test_max_pages_bounds_the_walk(spark):
    def fetcher(url):
        n = int(url.rsplit("/", 1)[1])
        return 200, "x", f"p:/{n + 1}"  # infinite chain

    out = fetch_paginated(_seeds(spark, ["p:/0"]), fetcher, max_pages=5).collect()
    assert len(out) == 5
    assert {r["depth"] for r in out} == set(range(5))


def test_failed_page_stops_its_chain(spark):
    def fetcher(url):
        if url == "p://b":
            raise RuntimeError("boom")
        return 200, "x", {"p://a": "p://b"}.get(url)

    out = {r["url"]: r for r in fetch_paginated(_seeds(spark, ["p://a"]), fetcher).collect()}
    assert out["p://a"]["status"] == 200
    assert out["p://b"]["status"] == 598 and out["p://b"]["content"] == ""
    assert len(out) == 2


# --- task-local walk: exactness against a plain-Python BFS reference ---

_ONE_PART = {"spark.sql.shuffle.partitions": "1"}
_MANY_PARTS = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


def _graph_fetcher(graph, fails=frozenset()):
    def fetcher(url):
        if url in fails:
            raise RuntimeError("boom")
        return 200, "body-" + url, graph.get(url)

    return fetcher


def _bfs(graph, seeds, max_pages, fails=frozenset()):
    """Reference: one global breadth-first walk, seeds pre-marked seen."""
    level = list(dict.fromkeys(seeds))
    seen, out = set(level), set()
    for depth in range(max_pages):
        nxt_level = []
        for url in level:
            if url in fails:
                out.add((url, depth, 598, ""))
                continue
            out.add((url, depth, 200, "body-" + url))
            nxt = graph.get(url)
            if nxt is not None and nxt not in seen:
                seen.add(nxt)
                nxt_level.append(nxt)
        level = nxt_level
    return out


def _walk(spark, seeds, fetcher, max_pages, confs):
    with scoped_confs(spark, confs):
        rows = fetch_paginated(_seeds(spark, seeds), fetcher, max_pages).collect()
    got = [(r["url"], r["depth"], r["status"], r["content"]) for r in rows]
    assert len({g[0] for g in got}) == len(got), "one row per url"
    return set(got)


def _frontier_partitions(spark, urls):
    """Partition of each url in fetch_paginated's frontier under _MANY_PARTS."""
    with scoped_confs(spark, _MANY_PARTS):
        df = _seeds(spark, urls).select("url").distinct()
        rows = df.select("url", F.spark_partition_id().alias("p")).collect()
    return {r["url"]: r["p"] for r in rows}


def test_seed_reachable_from_another_seed_keeps_depth_zero(spark):
    graph = {"p://a": "p://w", "p://w": "p://x"}
    for confs in (_ONE_PART, _MANY_PARTS):
        got = _walk(spark, ["p://a", "p://w"], _graph_fetcher(graph), 5, confs)
        assert {(u, d) for u, d, _, _ in got} == {
            ("p://a", 0),
            ("p://w", 0),
            ("p://x", 1),
        }


def test_multi_partition_frontier_keeps_min_depth(spark):
    # a reaches the tail t at depth 3, b at depth 1; they walk in
    # different tasks, so t and its successors must reduce to b's depths
    graph = {
        "p://a": "p://a1",
        "p://a1": "p://a2",
        "p://a2": "p://t",
        "p://b": "p://t",
        "p://t": "p://t1",
        "p://t1": "p://t2",
    }
    parts = _frontier_partitions(spark, ["p://a", "p://b"])
    assert parts["p://a"] != parts["p://b"], parts
    got = _walk(spark, ["p://a", "p://b"], _graph_fetcher(graph), 8, _MANY_PARTS)
    assert {(u, d) for u, d, _, _ in got} == {
        ("p://a", 0),
        ("p://b", 0),
        ("p://a1", 1),
        ("p://t", 1),
        ("p://a2", 2),
        ("p://t1", 2),
        ("p://t2", 3),
    }
    assert got == _bfs(graph, ["p://a", "p://b"], 8)


@st.composite
def _link_graphs(draw):
    n = draw(st.integers(1, 8))
    urls = [f"p://{i}" for i in range(n)]
    links = draw(st.lists(st.sampled_from([None, *urls]), min_size=n, max_size=n))
    fails = draw(st.sets(st.sampled_from(urls), max_size=2))
    seeds = draw(st.lists(st.sampled_from(urls), max_size=4))
    return dict(zip(urls, links)), frozenset(fails), seeds


@settings(max_examples=15, deadline=None)
@given(_link_graphs(), st.integers(0, 6))
def test_walk_matches_python_bfs(spark, case, max_pages):
    """Functional link graphs (≤ 1 next link per page: chains, cycles,
    convergence, failing pages) on one- and many-partition frontiers."""
    graph, fails, seeds = case
    want = _bfs(graph, seeds, max_pages, fails)
    fetcher = _graph_fetcher(graph, fails)
    for confs in (_ONE_PART, _MANY_PARTS):
        assert _walk(spark, seeds, fetcher, max_pages, confs) == want


def test_max_pages_zero_is_empty_and_never_fetches(spark, tmp_path):
    marker = str(tmp_path / "fetched")

    def fetcher(url):  # a worker-side call leaves a file the driver sees
        open(marker, "w").close()
        return 200, "x", None

    out = fetch_paginated(_seeds(spark, ["p://a"]), fetcher, max_pages=0)
    assert out.columns == ["url", "depth", "status", "content"]
    assert out.collect() == []
    assert not os.path.exists(marker)


def test_small_arrow_batches_give_identical_rows(spark):
    """A 3-level walk streamed out in batches of at most 2 rows."""
    seeds = [f"p://{i}" for i in range(5)]
    graph = {**{s: s + "/1" for s in seeds}, **{s + "/1": s + "/2" for s in seeds}}
    fetcher = _graph_fetcher(graph)
    default = _walk(spark, seeds, fetcher, 3, _ONE_PART)
    small = {**_ONE_PART, "spark.sql.execution.arrow.maxRecordsPerBatch": "2"}
    assert _walk(spark, seeds, fetcher, 3, small) == default
    assert len(default) == 15 and {d for _, d, _, _ in default} == {0, 1, 2}
