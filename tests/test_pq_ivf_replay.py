"""Independent replay pins for the PQ/IVF training artifacts.

The quantizers train on the driver from a bounded, hash-ordered sample,
so everything that decides the centroids can be replayed outside Spark:

1. REPLAY: a test-local hashlib + numpy replay — sample order by
   md5(seed|id), first-k-distinct init, Lloyd with direct (not
   BLAS-expanded) distances and per-cluster means — must reproduce the
   trained centroids within 1e-12 and the stored assignments exactly,
   on the sf0.001 corpus and on a corpus larger than the sample.
2. EXACT FIXPOINT on zero-variance blobs: with every blob's points
   bit-identical, distinct-vector init covers every blob and Lloyd's
   converged centroids must equal the blob vectors BIT-FOR-BIT (the
   mean of n identical exactly-representable doubles is that double) —
   an independently-predicted result no summation-order drift can
   excuse.
3. CACHE == FRESH RETRAIN, byte-equal, on the real sf0.001 corpus: the
   stale-artifact guard. The oracle handoff assumes a cached artifact
   is exactly what retraining would produce; a trainer change without a
   cache-tag bump, or a corrupt cache, breaks this test before it
   breaks an oracle.
"""

from __future__ import annotations

import hashlib
import itertools
import math

import numpy as np
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from debgpt7_8_with_vectordb_spark.functions.vector import l2_normalize
from debgpt7_8_with_vectordb_spark.operators.ann import (
    build_ivf_index,
    build_pq_codebooks,
    pq_encode_np,
)
from tests.test_loops import _jobs

SF_DIR = "/root/testdata/sf0.001"

#: the blob fixtures' pinned seeds: distinct-vector init covers every
#: blob under any seed, so these only fix the sample order
_IVF_TOY_SEED = 11
_PQ_TOY_SEED = 0


def _replay_normalize(v: list[float]) -> list[float]:
    """l2_normalize's arithmetic: a left fold of squares from 0.0."""
    acc = 0.0
    for x in v:
        acc += x * x
    n = math.sqrt(acc)
    return list(v) if n == 0.0 else [x / n for x in v]


def _replay_sample(ids: list[int], vecs: list[list[float]], n: int, seed: int):
    def key(j: int) -> tuple[int, int]:
        h = hashlib.md5(f"{seed}|{ids[j]}".encode()).hexdigest()[:15]
        return int(h, 16), ids[j]

    order = sorted(range(len(ids)), key=key)[:n]
    return np.array([vecs[j] for j in order], dtype=np.float64)


def _replay_lloyd(x: np.ndarray, k: int, max_iter: int = 8) -> np.ndarray:
    distinct: list[tuple[float, ...]] = []
    for row in map(tuple, x):
        if row not in distinct:
            distinct.append(row)
            if len(distinct) == k:
                break
    cent = np.array([distinct[j % len(distinct)] for j in range(k)])
    prev = None
    for _ in range(max_iter):
        a = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        if prev is not None and (a == prev).all():
            break
        prev = a
        for j in range(k):
            if (a == j).any():
                cent[j] = x[a == j].mean(axis=0)
    return cent


def _rounded_argmin(x: np.ndarray, cent: np.ndarray) -> np.ndarray:
    d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    return np.round(d, 6).argmin(axis=1)


def _sf001_vectors() -> tuple[list[int], list[list[float]]]:
    tbl = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pydict()
    return tbl["vec_id"], [_replay_normalize(v) for v in tbl["embedding"]]


def _wide_corpus(spark):
    """600 seeded vectors: more rows than a k=2 sample (512) holds."""
    rng = np.random.default_rng(3)
    ids = [int(i) for i in rng.permutation(10_000)[:600]]
    vecs = [[float(x) for x in v] for v in rng.normal(size=(600, 8))]
    emb = spark.createDataFrame(
        list(zip(ids, vecs)), "vec_id long, embedding array<double>"
    )
    return emb, ids, [_replay_normalize(v) for v in vecs]


@pytest.mark.parametrize("corpus", ["sf0.001", "wide"])
def test_ivf_training_matches_independent_replay(spark, corpus):
    if corpus == "wide":
        emb, ids, vecs = _wide_corpus(spark)
        k, seed = 2, 5
    else:
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        (ids, vecs), k, seed = _sf001_vectors(), 8, 42
    indexed, cents = build_ivf_index(emb, k=k, seed=seed)
    want = _replay_lloyd(_replay_sample(ids, vecs, k * 256, seed), k)
    np.testing.assert_allclose(np.array(cents), want, rtol=0, atol=1e-12)
    got = dict(indexed.select("id", "cluster_id").collect())
    replayed = _rounded_argmin(np.array(vecs), want)
    assert got == {i: int(c) for i, c in zip(ids, replayed)}


def test_pq_training_matches_independent_replay(spark, sf001_normed):
    m, ksub, seed = 4, 16, 42
    books, n_jobs = _jobs(
        spark,
        "pq_train",
        lambda: build_pq_codebooks(sf001_normed, m=m, ksub=ksub, seed=seed),
    )
    assert n_jobs <= 1
    ids, vecs = _sf001_vectors()
    sample = _replay_sample(ids, vecs, ksub * 256, seed)
    x, dsub = np.array(vecs), sample.shape[1] // m
    want = [
        _replay_lloyd(sample[:, s * dsub : (s + 1) * dsub], ksub) for s in range(m)
    ]
    for got_book, want_book in zip(books, want):
        np.testing.assert_allclose(np.array(got_book), want_book, rtol=0, atol=1e-12)
    codes = {r["id"]: list(r["codes"]) for r in pq_encode_np(sf001_normed, books).collect()}
    replayed = np.stack(
        [
            _rounded_argmin(x[:, s * dsub : (s + 1) * dsub], want[s])
            for s in range(m)
        ],
        axis=1,
    )
    assert codes == {i: [int(c) for c in row] for i, row in zip(ids, replayed)}


def test_ivf_kmeans_exact_fixpoint_on_zero_variance_blobs(spark):
    blobs = []
    for b in range(4):
        v = [0.0] * 8
        v[b] = 1.0
        blobs.append(v)
    emb = spark.createDataFrame(
        [(i, blobs[i % 4]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    indexed, cents = build_ivf_index(emb, k=4, seed=_IVF_TOY_SEED, max_iter=8)
    assert sorted(map(tuple, cents)) == sorted(map(tuple, blobs))
    # every copy of a blob lands in the same cluster, and the cluster's
    # centroid IS the blob vector
    rows = indexed.collect()
    assert len(rows) == 12
    for r in rows:
        assert tuple(cents[r["cluster_id"]]) == tuple(r["nv"])


def test_pq_codebooks_exact_fixpoint_on_zero_variance_blobs(spark):
    subs = [(1.0, 0.0), (0.0, 1.0)]
    pts = [list(a + b) for a, b in itertools.product(subs, subs)] * 3
    normed = spark.createDataFrame(
        [(i, p) for i, p in enumerate(pts)], "id long, nv array<double>"
    )
    books = build_pq_codebooks(normed, m=2, ksub=2, seed=_PQ_TOY_SEED)
    assert len(books) == 2
    for bk in books:
        assert sorted(map(tuple, bk)) == sorted(map(tuple, subs))


@pytest.fixture()
def sf001_normed(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return emb.select(
        F.col("vec_id").alias("id"),
        l2_normalize(F.col("embedding").cast("array<double>")).alias("nv"),
    )


def test_ivf_cached_artifact_matches_fresh_retrain(spark):
    from debgpt7_8_with_vectordb_spark.plans.retrieval_queries import (
        _IVF_K,
        _IVF_SEED,
        _ivf_index_cached,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    indexed_cached, cents_cached = _ivf_index_cached(spark, SF_DIR, emb)
    indexed_fresh, cents_fresh = build_ivf_index(emb, k=_IVF_K, seed=_IVF_SEED)
    # centroid list byte-equal (cache stores by cluster_id; builder
    # returns in cluster order already)
    assert [list(c) for c in cents_cached] == [list(c) for c in cents_fresh]
    # assignments byte-equal per id
    a = {r["id"]: (r["cluster_id"], tuple(r["nv"])) for r in indexed_cached.collect()}
    b = {r["id"]: (r["cluster_id"], tuple(r["nv"])) for r in indexed_fresh.collect()}
    assert a == b


def test_pq_cached_codebooks_match_fresh_retrain(spark, sf001_normed):
    from debgpt7_8_with_vectordb_spark.plans.retrieval_queries import (
        _PQ_KSUB,
        _PQ_M,
        _PQ_SEED,
        _pq_codebooks_cached,
    )

    cached = _pq_codebooks_cached(spark, SF_DIR, sf001_normed)
    fresh = build_pq_codebooks(
        sf001_normed, m=_PQ_M, ksub=_PQ_KSUB, seed=_PQ_SEED
    )
    assert cached == fresh
