"""Driver-loop kit: conf scoping (every loop restores the confs it
scopes, also on error), observed checkpoints, the job count the loops'
control numbers cost, and the loop-control shortcuts' exact semantics
(fetch-once, empty seeds)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from debgpt7_8_with_vectordb_spark.loops import checkpoint_observed, loop_confs
from debgpt7_8_with_vectordb_spark.sources.fanout import fetch_paginated

_AQE = "spark.sql.adaptive.enabled"
_PARTS = "spark.sql.shuffle.partitions"


def _confs(spark):
    return spark.conf.get(_AQE), spark.conf.get(_PARTS)


def _jobs(spark, group, fn):
    """Run ``fn`` under job group ``group``; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_loop_confs_scopes_and_restores(spark):
    before = _confs(spark)
    width = spark.sparkContext.defaultParallelism
    with loop_confs(spark, 10, 3) as resize:
        assert _confs(spark) == ("false", str(min(width, 4)))
        resize(0)
        assert spark.conf.get(_PARTS) == "1"
        resize(10**9)
        assert spark.conf.get(_PARTS) == str(width)
    assert _confs(spark) == before


def test_loop_confs_restores_on_error(spark):
    before = _confs(spark)
    with pytest.raises(RuntimeError, match="round failed"):
        with loop_confs(spark, 1, 1):
            raise RuntimeError("round failed")
    assert _confs(spark) == before


def test_checkpoint_observed_costs_one_job(spark):
    df = spark.range(10).repartition(3)
    (ckpt, m), n_jobs = _jobs(
        spark,
        "kit-observed",
        lambda: checkpoint_observed(df, n=F.count(F.lit(1)), s=F.sum("id")),
    )
    assert (m["n"], m["s"]) == (10, 45)
    _, plain_jobs = _jobs(spark, "kit-plain", lambda: df.localCheckpoint(eager=True))
    assert n_jobs == plain_jobs
    assert ckpt.count() == 10


def test_fetch_paginated_frontier_count_rides_checkpoint(spark):
    """The seed frontier's size comes off its own checkpoint: with no
    seeds the whole call is that one job."""
    seeds = spark.createDataFrame([], "url string")
    out, n_jobs = _jobs(
        spark, "kit-fetch", lambda: fetch_paginated(seeds, lambda url: (200, "", None))
    )
    assert n_jobs == 1
    assert out.count() == 0


def test_fetch_paginated_jobs_do_not_grow_with_depth(spark):
    """The whole walk is the seed checkpoint plus one fetch job: a
    4-page and an 8-page chain cost the same jobs, at most 3."""

    def fetcher(url):
        n = int(url.rsplit("/", 1)[1])
        return 200, "x", f"p:/{n + 1}"

    seeds = spark.createDataFrame([("p:/0",)], "url string")
    counts = []
    for pages in (4, 8):
        out, n_jobs = _jobs(
            spark, f"kit-fetch-{pages}", lambda: fetch_paginated(seeds, fetcher, pages)
        )
        assert out.count() == pages
        counts.append(n_jobs)
    assert counts[0] == counts[1] <= 3, counts


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
    [_fetch_case, _bpe_case],
    ids=["fetch_paginated", "bpe_train_merges"],
)
def test_loop_restores_scoped_confs(spark, tmp_path, case):
    """Every loop that scopes AQE and shuffle partitions hands the
    session back with both confs as they were, and its output intact."""
    before = _confs(spark)
    case(spark, tmp_path)
    assert _confs(spark) == before


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


_RANKED_COSINE = [
    "topk_retrieval",
    "topk_retrieval_filtered",
    "knn_join",
    "ann_ivf",
    "ann_recall",
    "ann_ivf_kmeans",
    "ann_pq",
    "ann_pq_recall",
    "ann_ivfpq",
    "ann_pq_rerank",
    "ann_srp_recall",
    "ann_srp_lsh",
    "context_injection",
]


@pytest.mark.parametrize("name", _RANKED_COSINE)
def test_ranked_cosine_build_runs_at_most_one_job(spark, sf_dir, name):
    """Building a ranked-cosine query runs at most the query-vector
    fetch: scoring, ranking and recall tallies stay in the returned
    plan. The first build warms the trained-artifact caches."""
    from debgpt7_8_with_vectordb_spark.plans import QUERIES

    QUERIES[name](spark, sf_dir)
    _, n_jobs = _jobs(spark, f"build-{name}", lambda: QUERIES[name](spark, sf_dir))
    assert n_jobs <= 1, n_jobs
