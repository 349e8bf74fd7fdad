"""Driver-loop kit: conf scoping (restored also on error), observed
checkpoints, the job count the loops' control numbers cost, the
loop-control shortcuts' exact semantics (fetch-once, empty seeds), and
the build/run job counts of operators that keep their work in the
returned plan."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from debgpt7_8_with_vectordb_spark.loops import checkpoint_observed, scoped_confs
from debgpt7_8_with_vectordb_spark.sources.fanout import fetch_paginated

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


def test_scoped_confs_restores_on_error(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with pytest.raises(RuntimeError, match="round failed"):
        with scoped_confs(spark, {key: "3"}):
            assert spark.conf.get(key) == "3"
            raise RuntimeError("round failed")
    assert spark.conf.get(key) == before


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


def test_bpe_train_builds_no_job_and_runs_at_most_three(spark, sf_dir):
    """Building bpe_train_merges runs no job: the merge rounds are one
    task over the census. Collecting it runs the census exchange, the
    single-partition exchange and the merge task."""
    from debgpt7_8_with_vectordb_spark.plans import QUERIES

    train = QUERIES["bpe_train_merges"]
    train(spark, sf_dir)  # the first read of a table infers its schema: one job
    df, n_build = _jobs(spark, "build-bpe", lambda: train(spark, sf_dir))
    assert n_build == 0, n_build
    rows, n_run = _jobs(spark, "run-bpe", df.collect)
    assert len(rows) > 0 and n_run <= 3, n_run
