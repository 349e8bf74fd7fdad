"""Driver-loop kit: conf scoping, observed checkpoints, and the job
count the loops' control numbers cost."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from debgpt7_8_with_vectordb_spark.loops import checkpoint_observed, loop_confs
from debgpt7_8_with_vectordb_spark.operators.graph import connected_components
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


def test_connected_components_counts_ride_checkpoints(spark):
    """No separate count jobs before the loop: two checkpoint actions
    (edges, labels) carry the counts; round 1 adds the edge broadcast
    and its cand checkpoint, which certifies the fixpoint."""
    nodes = spark.range(5).select(F.col("id").alias("doc_id"))
    edges = spark.createDataFrame([], "src long, dst long")
    (labels, rounds), n_jobs = _jobs(
        spark, "kit-cc", lambda: connected_components(nodes, edges)
    )
    assert rounds == 1
    assert n_jobs == 4
    assert sorted((r["doc_id"], r["lab"]) for r in labels.collect()) == [
        (i, i) for i in range(5)
    ]


def test_fetch_paginated_frontier_count_rides_checkpoint(spark):
    """The seed frontier's size comes off its own checkpoint: with no
    seeds the whole call is that one job."""
    seeds = spark.createDataFrame([], "url string")
    out, n_jobs = _jobs(
        spark, "kit-fetch", lambda: fetch_paginated(seeds, lambda url: (200, "", None))
    )
    assert n_jobs == 1
    assert out.count() == 0
