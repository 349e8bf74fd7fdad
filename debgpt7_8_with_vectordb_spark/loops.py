"""Driver-loop kit shared by the iterative operators.

Every loop (connected components, paginated fetch, tree/compact reduce,
BPE merge rounds, the corpus funnel) materializes a round with an eager
``localCheckpoint`` and reads its loop-control numbers off that same
action, runs its rounds with AQE off and shuffle partitions sized from
measured rows, and frees superseded rounds by exact checkpoint id.
``scoped_confs`` is the package's one session-conf save/restore.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, SparkSession

_AQE = "spark.sql.adaptive.enabled"
_PARTITIONS = "spark.sql.shuffle.partitions"


def checkpoint_observed(df: DataFrame, **aggs: Column) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` of ``df`` with each named aggregate in
    ``aggs`` observed on the same action: loop control costs no extra
    job, and the pinned rows are never recomputed (fetch-once)."""
    obs = Observation()
    df = df.observe(obs, *[agg.alias(name) for name, agg in aggs.items()])
    return df.localCheckpoint(eager=True), obs.get


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


def capped_partitions(spark: SparkSession, cap: int):
    """Scope shuffle partitions to at most ``cap`` (a streaming query's
    state-store partition count is fixed by this conf at first start)."""
    parts = min(cap, int(spark.conf.get(_PARTITIONS)))
    return scoped_confs(spark, {_PARTITIONS: str(parts)})


@contextmanager
def loop_confs(
    spark: SparkSession, rows: int, rows_per_part: int
) -> Iterator[Callable[[int], None]]:
    """Run a loop with AQE off and ``ceil(rows / rows_per_part)`` shuffle
    partitions (at least 1, at most defaultParallelism). Yields
    ``resize(rows)`` for loops whose round size changes; both confs are
    restored on exit, error included."""
    width = spark.sparkContext.defaultParallelism

    def parts(n: int) -> str:
        return str(max(1, min(width, -(-n // rows_per_part))))

    with scoped_confs(spark, {_AQE: "false", _PARTITIONS: parts(rows)}):
        yield lambda n: spark.conf.set(_PARTITIONS, parts(n))


def _checkpoint_rdd_id(df: DataFrame) -> "int | None":
    """The RDD id an eager ``localCheckpoint`` persisted: the analyzed
    plan of a checkpointed DataFrame is a LogicalRDD over that RDD."""
    try:
        return int(df._jdf.queryExecution().analyzed().rdd().id())
    except Exception:  # not a LogicalRDD plan: nothing was persisted
        return None


def release(*dfs: DataFrame) -> None:
    """Unpersist the checkpoints behind ``dfs`` now instead of at JVM GC.
    Ids come from the DataFrames themselves, never from a session-wide
    diff, so a concurrent job's blocks on the same session survive."""
    ids = {_checkpoint_rdd_id(df) for df in dfs} - {None}
    if not ids:
        return
    jmap = dfs[0].sparkSession.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        if int(k) in ids:
            jmap.get(k).unpersist(False)
