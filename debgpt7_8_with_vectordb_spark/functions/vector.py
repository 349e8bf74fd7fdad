"""Vector column functions — pure Catalyst expressions, no UDFs.

The reference stores vectors as packed float32 BLOBs and scores them with
a transient numpy matmul (reference vectordb.py:82-86, 203-208). Here the
vector is a native ``ARRAY<FLOAT>`` column and every operation is a
higher-order Catalyst expression (``aggregate`` / ``zip_with`` /
``transform``), so scoring stays inside whole-stage codegen, distributes
with the scan, and needs no per-query index materialization (the
reference reloads the entire matrix per query — vectordb.py:157-172).

Math is carried out in DOUBLE regardless of storage type (float32), so the
scores agree with a float64 oracle to ~1 ulp (SURVEY.md §7.7 risk 5).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double precision (reference vectordb.py:207 matmul row)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(v: Column) -> Column:
    """‖v‖₂ (reference vectordb.py:84-85 np.linalg.norm)."""
    return F.sqrt(F.aggregate(_as_double(v), F.lit(0.0), lambda acc, x: acc + x * x))


def l2_normalize(v: Column) -> Column:
    """v / ‖v‖₂ with a zero-vector guard (reference embeddings.py:138-139).

    The norm must NOT sit inside the per-element lambda:
    ``transform(v, x -> x / norm)`` re-evaluates the aggregate fold for
    EVERY element (higher-order functions are CodegenFallback — nothing
    hoists the invariant subtree), turning O(d) into O(d²) per row.
    ``array_repeat`` evaluates its element argument exactly once, so
    zipping against a repeated-norm array keeps the fold at one
    evaluation per row (audited by tools/expr_blowup_audit.py's
    nested-fold detector).

    The normalization references its input five times, and nothing
    deduplicates a higher-order input, so ``v`` is bound once as the
    lambda variable of a one-element ``transform``: an expensive input
    (``hash_embed_expr``'s md5 fold) is evaluated once per row."""

    def normalize(r: Column) -> Column:
        vd = _as_double(r)
        norm = l2_norm(r)
        return F.when(norm == 0.0, vd).otherwise(
            F.zip_with(vd, F.array_repeat(norm, F.size(r)), lambda x, n: x / n)
        )

    return F.element_at(F.transform(F.array(v), normalize), 1)


def truncate_dim(v: Column, dim: int) -> Column:
    """First ``dim`` components (reference vectordb.py:83 ``v[:dim]``)."""
    return F.slice(v, 1, dim)


def cosine_similarity(a: Column, b: Column) -> Column:
    """cos(a, b) = a·b / (‖a‖·‖b‖) in double precision.

    Zero vectors (empty docs embed to 0⃗) yield NULL — `try_divide`,
    because under ANSI mode (Spark 4 default) a plain division raises
    DIVIDE_BY_ZERO and kills the whole job for one degenerate row; NULL
    scores sort last under `desc()` so top-k semantics are unaffected.
    Found by hypothesis driving random vectors through the Spark surface.
    """
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def vector_lit(v: Sequence[float]) -> Column:
    """A literal ARRAY<DOUBLE> column from a driver-side vector.

    The Spark-side analogue of broadcasting the query vector to every
    scoring task (reference materializes it per-query, vectordb.py:203-206).
    """
    return F.array(*[F.lit(float(x)) for x in v])
