"""Driver-loop kit: conf scoping (restored also on error), pins (the
job count the loops' control numbers cost, ``pin`` as the package's one
``localCheckpoint``, and pins and folds under a retried task), the
loop-control shortcuts' exact semantics (fetch-once, empty seeds), and
the build/run job counts of operators that keep their work in the
returned plan."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from debgpt7_8_with_vectordb_spark.loops import pin, scoped_confs
from debgpt7_8_with_vectordb_spark.sources.fanout import fetch_paginated

_REPO = Path(__file__).resolve().parents[1]
_PACKAGE = _REPO / "debgpt7_8_with_vectordb_spark"

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


def _plans(spark, fn):
    """Run ``fn``; return (result, physical plans of the SQL executions
    it started)."""
    store = spark._jsparkSession.sharedState().statusStore()
    start = int(store.executionsCount())
    out = fn()
    execs = store.executionsList(start, 1 << 30)
    return out, [execs.apply(i).physicalPlanDescription() for i in range(execs.size())]


def test_pin_costs_one_job(spark):
    """Observed aggregates ride the pin's own action; with none, the pin
    adds no observe node and observes nothing."""
    df = spark.range(0, 10, 1, 3)
    (ckpt, m), n_jobs = _jobs(
        spark, "kit-observed", lambda: pin(df, n=F.count(F.lit(1)), s=F.sum("id"))
    )
    assert (m["n"], m["s"]) == (10, 45)
    ((bare, m0), plans), bare_jobs = _jobs(
        spark, "kit-bare", lambda: _plans(spark, lambda: pin(df))
    )
    assert m0 == {} and n_jobs == bare_jobs == 1
    assert plans and not any("CollectMetrics" in p for p in plans)
    assert ckpt.count() == bare.count() == 10


def test_pin_is_the_only_local_checkpoint_and_is_eager():
    """Every pin in the package goes through ``loops.pin``, and no pin is
    lazy."""
    for path in sorted(_PACKAGE.rglob("*.py")):
        src = path.read_text()
        if path.name != "loops.py" or path.parent != _PACKAGE:
            assert "localCheckpoint" not in src, path
        assert "eager=False" not in src, path


_RETRY_SCRIPT = """
import json
import pyspark.sql.functions as F
from pyspark import TaskContext
from debgpt7_8_with_vectordb_spark.session import get_spark
from debgpt7_8_with_vectordb_spark.loops import pin
from debgpt7_8_with_vectordb_spark.operators.graph import connected_components


def flaky(batches):
    ctx = TaskContext.get()
    for b in batches:
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            raise RuntimeError("injected first-attempt failure")
        yield b


def failed_tasks(group):
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    t = sc.statusTracker()
    stages = [s for j in t.getJobIdsForGroup(group) for s in t.getJobInfo(j).stageIds]
    return sum(t.getStageInfo(s).numFailedTasks for s in stages)


spark = get_spark(app_name="retry", master="local[2,2]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("FATAL")
ids = spark.range(0, 1000, 1, 4)
edges = spark.createDataFrame(
    [(i, i + 1) for i in range(0, 40) if i % 10 != 9] + [(5, 60), (61, 62)],
    "src long, dst long",
).repartition(4)
nodes = spark.range(0, 70).withColumnRenamed("id", "doc_id")
runs = {"clean": lambda df: df, "flaky": lambda df: df.mapInArrow(flaky, df.schema)}
out = {}
for name, wrap in runs.items():
    spark.sparkContext.setJobGroup(name, name)
    pinned, m = pin(wrap(ids), n=F.count(F.lit(1)), s=F.sum("id"))
    labels, _ = connected_components(nodes, wrap(edges))
    out[name] = {
        "observed": m,
        "rows": sorted(r.id for r in pinned.collect()),
        "labels": sorted(tuple(r) for r in labels.collect()),
        "failed": failed_tasks(name),
    }
print(json.dumps(out))
spark.stop()
"""


def test_pin_and_fold_survive_a_retried_task(tmp_path):
    """A task that fails its first attempt and is retried (local[2,2])
    leaves a pin's rows and observed aggregates, and the union-find
    fold's labels, equal to a run without the failure: only the
    successful attempt counts."""
    script = tmp_path / "retry.py"
    script.write_text(_RETRY_SCRIPT)
    env = dict(os.environ, PYTHONPATH=str(_REPO))
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=_REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    clean, flaky = out["clean"], out["flaky"]
    # one failed first attempt in the pinned stage, one in the fold's
    assert (clean.pop("failed"), flaky.pop("failed")) == (0, 2)
    assert clean["observed"] == {"n": 1000, "s": 499500}
    assert flaky == clean


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
    "ann_recall_sweep",
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
