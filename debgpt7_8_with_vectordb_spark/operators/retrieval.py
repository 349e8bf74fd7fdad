"""Top-k cosine retrieval — the reference's core capability.

Reference pipeline (vectordb.py:190-214, retrieval.py:117-130): load the
whole vector matrix into RAM, matmul against the normalized query, argsort
descending, take k, then re-query the DB row-by-row for provenance (N+1).

Spark-first shape:
- scoring is a per-row Catalyst expression over the scan (no index
  materialization, no driver memory ceiling);
- ``orderBy(desc).limit(k)`` plans ``TakeOrderedAndProject`` — a
  distributed O(n log k) top-k with per-partition heaps, not a full sort;
- provenance resolution is ONE broadcast hash join of the k winners
  against the base table (replaces the reference's N+1 loop,
  vectordb.py:210-213).

Scores are rounded *before* ranking so that float64-vs-oracle drift in the
last ulp cannot flip an ordering; ties break on the id ascending (the
reference silently relies on argsort stability at vectordb.py:208 —
SURVEY.md §7.7 risk 4). Every rounded-cosine ranking in the package —
exact, IVF, SRP and PQ rerank, and the recall gates that compare them —
scores with :func:`cosine_score` and ranks with :func:`topk`, so the
rule lives here once.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions.vector import cosine_similarity, vector_lit

SCORE_DECIMALS = 6


def cosine_score(vec: Column, query: Column) -> Column:
    """The engine's ranking score: cosine rounded to ``SCORE_DECIMALS``
    (NULL for a zero vector, which sorts last under ``desc``)."""
    return F.round(cosine_similarity(vec, query), SCORE_DECIMALS)


def score_against_query(
    emb: DataFrame,
    query_vec: Sequence[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, ``score``): every row's :func:`cosine_score` against a
    literal query vector."""
    return emb.select(
        F.col(id_col), cosine_score(F.col(vec_col), vector_lit(query_vec)).alias("score")
    )


def topk(scored: DataFrame, k: int, id_col: str = "vec_id") -> DataFrame:
    """The k best rows by ``score``, ties to the smaller id:
    TakeOrderedAndProject, never a full sort."""
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def recall_at_k(
    exact_ids: DataFrame, approx_ids: DataFrame, k: int, id_col: str = "vec_id"
) -> DataFrame:
    """One row, ``recall_at_{k}`` = |exact ∩ approx| / k, tallied inside
    the plan: building it runs no job. The exact side (k rows) is
    broadcast, so tallies of several approximate sides against one
    exact side share its exchange."""
    hits = approx_ids.select(id_col).join(F.broadcast(exact_ids.select(id_col)), id_col)
    return hits.agg((F.count("*").cast("double") / k).alias(f"recall_at_{k}"))


def resolve_provenance(
    topk_df: DataFrame,
    base: DataFrame,
    topk_key: str,
    base_key: str,
) -> DataFrame:
    """Join the k winners back for source/text — ONE broadcast hash join.

    ``F.broadcast`` on the k-row side guarantees no shuffle of the base
    table at any scale (k is tiny; the base may be 100 TB).
    """
    return base.join(F.broadcast(topk_df), topk_df[topk_key] == base[base_key], "inner")


def get_query_vector(emb: DataFrame, vec_id: int, id_col: str = "vec_id", vec_col: str = "embedding") -> list[float]:
    """Fetch one stored vector driver-side to use as the query, in one
    job: a filtered ``collect``, where ``head()`` re-launches a job per
    batch of partitions until a row turns up. With repeated ids the
    first row in partition order wins, as with ``head()``."""
    rows = emb.filter(F.col(id_col) == vec_id).select(vec_col).collect()
    if not rows:
        raise KeyError(f"no vector with {id_col}={vec_id}")
    return [float(x) for x in rows[0][0]]
