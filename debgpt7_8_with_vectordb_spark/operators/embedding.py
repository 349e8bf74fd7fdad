"""Embedding pipeline operators (reference E1-E3, R3 — SURVEY.md §2.11).

The reference wraps provider HTTP APIs (OpenAI / Google / local
sentence-transformers) behind ``AbstractEmbeddingModel`` with a
truncate-to-dim + L2-normalize post-step (embeddings.py:62-279). Spark
shape:

- the provider call is an Arrow-batched ``mapInPandas`` stage — one
  batch per provider request (the reference's ``batch_embed``, O11),
  per-executor client singleton, bounded retry (M5);
- the post-step (truncate + normalize) is the SAME Catalyst expression
  used everywhere else (functions/vector.py), applied AFTER the UDF so
  it stays JVM-side;
- the deterministic hash backend replaces the reference's
  nondeterministic RandomEmbedding (np.random, embeddings.py:137,151)
  for reproducible tests — and doubles as a cheap featurizer.

``bulk_index_build`` = embed → normalize → write partitioned parquet:
the batch index construction the north star asks for (no online ANN
serving).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from ..functions.hashing import md5_long
from ..functions.vector import l2_normalize, truncate_dim, vector_lit
from . import retrieval
from .ann import srp_planes, srp_query_sig, srp_signatures

EmbedFn = Callable[[list[str]], list[list[float]]]


def hash_embed_expr(text: Column, dim: int = 64) -> Column:
    """Deterministic hash embedding as a pure Catalyst expression:
    component i = (md5_long(i | text) % 1000)/1000 - 0.5, then
    L2-normalized. Cross-engine reproducible (oracle: same md5 math)."""
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (
            md5_long(F.concat_ws("|", i.cast("string"), text)) % 1000
        ).cast("double")
        / 1000.0
        - 0.5,
    )
    return l2_normalize(raw)


def hash_embed_raw_py(text: str, dim: int = 64) -> list[float]:
    """Pre-normalization components of the hash embedding — what a
    provider would return; ``provider_embed`` applies truncate+normalize."""
    return [
        (int(hashlib.md5(f"{i}|{text}".encode()).hexdigest()[:15], 16) % 1000) / 1000.0
        - 0.5
        for i in range(dim)
    ]


def hash_provider_8(texts: list[str]) -> list[list[float]]:
    """Module-level deterministic provider fake (dim=8) — picklable to
    executors, stands in for a provider batch-embedding HTTP call."""
    return [hash_embed_raw_py(t, 8) for t in texts]


def hash_embed_py(text: str, dim: int = 64) -> list[float]:
    """Python twin of hash_embed_expr (for fakes/oracles in plain code)."""
    raw = [
        (int(hashlib.md5(f"{i}|{text}".encode()).hexdigest()[:15], 16) % 1000) / 1000.0
        - 0.5
        for i in range(dim)
    ]
    n = sum(x * x for x in raw) ** 0.5
    return [x / n for x in raw] if n else raw


def provider_embed(
    docs: DataFrame,
    embed_fn: EmbedFn,
    dim: int,
    text_col: str = "content",
    batch_size: int = 256,
    max_attempts: int = 5,
    backoff_s: float = 1.0,
) -> DataFrame:
    """E1/E2 provider-backed batch embedding via mapInPandas.

    ``embed_fn`` must be a module-level callable (pickled once per
    executor; build clients lazily inside it — M5 singleton hygiene).
    The truncate+normalize insert invariant (vectordb.py:81-86) is
    applied JVM-side after the UDF.

    M5 retry (reference embeddings.py:28-59 retries rate limits
    FOREVER with a fixed 15 s sleep): bounded attempts with exponential
    backoff instead — an unbounded retry inside a Spark task turns a
    provider outage into a hung stage; after ``max_attempts`` the raise
    hands over to Spark's task-retry as the backstop, keeping batches
    idempotent (pure function of the input rows).
    """
    if max_attempts < 1:
        raise ValueError(f"max_attempts must be >= 1, got {max_attempts}")
    cols = docs.columns

    def call_with_retry(batch: list[str]) -> list[list[float]]:
        import time as _time

        from .providers import retry_delay

        last: Exception | None = None
        for attempt in range(max_attempts):
            try:
                return embed_fn(batch)
            except Exception as exc:  # rate limit / transient transport
                last = exc
                if attempt < max_attempts - 1:
                    # exponential, raised to a server Retry-After, capped
                    _time.sleep(retry_delay(exc, attempt, backoff_s))
        raise last  # type: ignore[misc]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = list(pdf[text_col].fillna(""))
            vecs: list[list[float]] = []
            for i in range(0, len(texts), batch_size):
                vecs.extend(call_with_retry(texts[i : i + batch_size]))
            yield pdf.assign(raw_vector=vecs)

    # raw vectors stay DOUBLE through the normalize (float32 truncation
    # before the norm shifts the 6th decimal); cast to float at write time
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields)
    out = docs.mapInPandas(run, schema=f"{schema}, raw_vector array<double>")
    return out.select(
        *cols,
        l2_normalize(truncate_dim(F.col("raw_vector"), dim)).alias("vector"),
    )


def bulk_index_build(
    docs: DataFrame,
    out_path: str,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    partition_col: str | None = None,
    n_bits: int = 4,
) -> None:
    """R3 batch index build: embed (deterministic backend) → assign a
    GEOMETRIC coarse bucket — the SRP signature (sign bits of ``n_bits``
    random projections of the embedding, ``ann.srp_signatures``) as an
    integer — → write parquet PARTITIONED by it, so probe-time cluster
    pruning is partition pruning at 100 TB.

    The bucket key MUST be a function of vector geometry: angularly
    close vectors share sign bits, so pruned probes keep recall (a key
    uncorrelated with geometry, such as md5(text) % n, balances
    partitions but probes at near-zero recall). A trained alternative is
    ``ann.build_ivf_index``'s KMeans assignment; SRP needs no training
    pass and buckets a query driver-side. The planes
    are persisted in a ``_planes.json`` sidecar so probes recompute the
    query's bucket with bit-identical math — see ``probe_bulk_index``.
    """
    import json
    import os

    planes = srp_planes(dim, n_bits)
    embedded = docs.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        hash_embed_expr(F.col(text_col), dim).alias("vector"),
    )
    keyed = srp_signatures(embedded, planes, vec_col="vector").withColumn(
        "cluster_id", F.conv(F.col("sig"), 2, 10).cast("int")
    ).drop("sig")
    writer = keyed.write.mode("overwrite")
    writer.partitionBy(partition_col or "cluster_id").parquet(out_path)
    with open(os.path.join(out_path, "_planes.json"), "w") as f:
        json.dump(planes, f)


def probe_bulk_index(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float],
    topk: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """Probe a ``bulk_index_build`` index: bucket the query with the
    sidecar planes (driver-side — n_bits dot products), read ONLY the
    probed ``cluster_id=`` partitions (partition pruning; nprobe > 1
    adds the Hamming-1 neighbor buckets, the standard SRP multiprobe),
    exact-score inside them."""
    import json
    import os

    with open(os.path.join(index_path, "_planes.json")) as f:
        planes = json.load(f)
    home = int(srp_query_sig(query_vec, planes), 2)
    buckets = [home] + [home ^ (1 << i) for i in range(len(planes))][: nprobe - 1]
    idx = spark.read.parquet(index_path)
    scored = idx.filter(F.col("cluster_id").isin(buckets)).select(
        "id",
        "cluster_id",
        retrieval.cosine_score(F.col("vector"), vector_lit(query_vec)).alias("score"),
    )
    return retrieval.topk(scored, topk, "id")
