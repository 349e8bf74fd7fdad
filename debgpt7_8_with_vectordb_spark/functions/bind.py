"""Evaluate an expensive column once per row.

Higher-order functions (``transform``, ``filter``, ``aggregate``,
``zip_with``) are CodegenFallback: they run interpreted, and nothing
deduplicates their inputs. An expression that appears N times in a
plan is evaluated N times per row. It appears N times when the code
writes it N times, when a lambda body references a value computed
outside the lambda (re-evaluated per element), or when the optimizer
copies it: filter pushdown substitutes a projected alias into every
predicate that reads it, and projection collapse inlines an alias into
its consumers.

Two helpers bind such a value once:

- :func:`let` binds it as the lambda variable of a one-element
  ``transform``; the body reads the variable as often as it likes. Use
  it when the value is consumed inside one expression.
- :func:`materialize` computes the values inside a one-element struct
  ``explode``. Generate is a barrier: neither projection collapse nor
  predicate pushdown inlines through it, so every later projection and
  filter reads plain attributes. Use it when several output columns or a
  later filter read the value. Its cost is one O(1) generator row per
  input row.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row."""
    return F.element_at(F.transform(F.array(value), body), 1)


def materialize(
    df: DataFrame, keep: Sequence[str | Column], **cols: Column
) -> DataFrame:
    """``df.select(*keep, *cols)`` with each of ``cols`` evaluated once per
    row, behind a Generate barrier, in keyword order."""
    bound = F.struct(*[c.alias(name) for name, c in cols.items()])
    staged = df.select(*keep, F.explode(F.array(bound)).alias("_bound"))
    return staged.select(*staged.columns[:-1], "_bound.*")
