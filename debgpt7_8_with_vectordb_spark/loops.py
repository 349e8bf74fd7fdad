"""Driver-loop kit shared by the iterative operators.

``pin`` is the package's one ``localCheckpoint``: every materialized
intermediate (a loop round, a fold level, a fork point two consumers
share, a fetched batch) is pinned by it, eagerly, and a loop reads its
control numbers off that same action. ``release`` frees a superseded
pin by exact checkpoint id. No loop scopes AQE: every round runs under
the session's adaptive settings. ``scoped_confs`` is the package's one
session-conf save/restore.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, SparkSession

_PARTITIONS = "spark.sql.shuffle.partitions"


def pin(df: DataFrame, **aggs: Column) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` of ``df``: returns (pinned, observed).

    Each named aggregate in ``aggs`` is observed on the checkpoint's own
    action, so loop control costs no extra job; with none, no observe
    node is added and ``observed`` is ``{}``. The pinned rows are
    computed once and never recomputed (fetch-once), and only successful
    task attempts count toward ``observed``.

    Lifetime: a pin used only inside its function is ``release``d by
    that function once it is superseded; a pin that backs a returned
    DataFrame lives until that DataFrame is garbage-collected.

    Executor loss: the blocks sit in executor memory and disk with the
    lineage cut, so losing an executor mid-query fails the query rather
    than recomputing. A long-lived run that cannot restart a query swaps
    this for a reliable checkpoint (``setCheckpointDir`` +
    ``checkpoint()``) at the cost of a durable write.
    """
    obs = Observation()
    if aggs:
        df = df.observe(obs, *[agg.alias(name) for name, agg in aggs.items()])
    return df.localCheckpoint(eager=True), obs.get if aggs else {}


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set session ``confs`` for the block; every key is restored to its
    prior value on exit, error included."""
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def capped_partitions(spark: SparkSession):
    """Scope shuffle partitions to at most 8. A streaming query's
    state-store partition count is fixed by this conf at first start,
    and each store instance costs provider init and a commit per batch:
    32 instances over the test events feed ran 4× slower than 8."""
    parts = min(8, int(spark.conf.get(_PARTITIONS)))
    return scoped_confs(spark, {_PARTITIONS: str(parts)})


def _checkpoint_rdd_id(df: DataFrame) -> "int | None":
    """The RDD id a ``pin`` persisted: the analyzed plan of a pinned
    DataFrame is a LogicalRDD over that RDD."""
    try:
        return int(df._jdf.queryExecution().analyzed().rdd().id())
    except Exception:  # not a LogicalRDD plan: nothing was persisted
        return None


def release(*dfs: DataFrame) -> None:
    """Unpersist the pins behind ``dfs`` now instead of at JVM GC.
    Ids come from the DataFrames themselves, never from a session-wide
    diff, so a concurrent job's blocks on the same session survive."""
    ids = {_checkpoint_rdd_id(df) for df in dfs} - {None}
    if not ids:
        return
    jmap = dfs[0].sparkSession.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        if int(k) in ids:
            jmap.get(k).unpersist(False)
