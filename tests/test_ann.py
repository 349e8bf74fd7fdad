"""KMeans-IVF index: build, probe, recall properties."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrame

from debgpt7_8_with_vectordb_spark.functions.vector import cosine_similarity
from debgpt7_8_with_vectordb_spark.operators.ann import (
    build_ivf_index,
    probe_ivf,
)
from tests.test_loops import _jobs


def recall_at_k(
    indexed: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    nprobe: int,
    k: int = 10,
) -> float:
    """recall@k of the IVF probe vs exact scoring over the same rows."""
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    exact = {
        r["id"]
        for r in indexed.select(
            "id", F.round(cosine_similarity(F.col("nv"), qlit), 6).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
        .collect()
    }
    approx = {r["id"] for r in probe_ivf(indexed, centroids, query_vec, nprobe, k).collect()}
    return len(exact & approx) / float(k)


@pytest.fixture(scope="module")
def index(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    indexed, centroids = build_ivf_index(emb, k=8, seed=42)
    indexed = indexed.localCheckpoint(eager=True)  # freeze the clustering
    return indexed, centroids, emb


def test_index_covers_corpus(index, spark, sf_dir):
    indexed, centroids, emb = index
    assert indexed.count() == emb.count()
    assert len(centroids) == 8
    assert indexed.select("cluster_id").distinct().count() <= 8


def test_probe_all_clusters_is_exact(index):
    """nprobe = k probes everything → identical to brute force."""
    indexed, centroids, _ = index
    q = indexed.filter("id = 2").select("nv").head()[0]
    assert recall_at_k(indexed, centroids, list(q), nprobe=len(centroids), k=10) == 1.0


def test_recall_monotonic_in_nprobe(index):
    indexed, centroids, _ = index
    q = indexed.filter("id = 2").select("nv").head()[0]
    recalls = [
        recall_at_k(indexed, centroids, list(q), nprobe=n, k=10) for n in (1, 2, 4, 8)
    ]
    assert all(a <= b for a, b in zip(recalls, recalls[1:]))
    assert recalls[-1] == 1.0


def test_probe_reads_only_selected_clusters(index):
    indexed, centroids, _ = index
    q = indexed.filter("id = 2").select("nv").head()[0]
    out = probe_ivf(indexed, centroids, list(q), nprobe=2, topk=10)
    assert out.select("cluster_id").distinct().count() <= 2


def test_build_deterministic_with_seed(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    a, ca = build_ivf_index(emb, k=4, seed=7)
    b, cb = build_ivf_index(emb, k=4, seed=7)
    assert ca == cb
    assert sorted(map(tuple, a.select("id", "cluster_id").collect())) == sorted(
        map(tuple, b.select("id", "cluster_id").collect())
    )


def test_build_runs_at_most_two_jobs(spark, sf_dir):
    """Training reads one bounded sample (one job); the assignment pass
    is the other. No per-iteration distributed passes."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    (_, cents), n_jobs = _jobs(
        spark, "ivf_build", lambda: build_ivf_index(emb, k=8, seed=42)
    )
    assert len(cents) == 8
    assert n_jobs <= 2


def test_mostly_duplicate_corpus_gets_k_distinct_centroids(spark):
    """Init takes the first k DISTINCT sampled vectors, so a corpus that
    is mostly copies of one vector still yields k distinct centroids
    when k distinct vectors exist."""
    basis = [[1.0 if j == i else 0.0 for j in range(4)] for i in range(4)]
    rows = [(i, basis[0]) for i in range(96)]
    rows += [(96 + i, basis[i]) for i in range(1, 4)]
    rows.append((99, [0.6, 0.8, 0.0, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    indexed, cents = build_ivf_index(emb, k=5, seed=42)
    assert len(cents) == 5
    assert len({tuple(c) for c in cents}) == 5
    assert indexed.select("cluster_id").distinct().count() == 5
