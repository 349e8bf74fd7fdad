"""Table loaders for the driver-generated testdata star schema.

All parquet timestamp columns in the testdata are ``TIMESTAMP(NANOS)``,
which Spark's vectorized parquet reader rejects; we read them as long
(``spark.sql.legacy.parquet.nanosAsLong``) and convert to micros-precision
timestamps (flooring, matching DuckDB's nanos→micros cast).

At 100 TB these reads would be partitioned Delta/parquet tables; loading
stays a plain ``spark.read.parquet`` so Catalyst's column pruning, filter
pushdown and partition pruning all apply unchanged.
"""

from __future__ import annotations

import weakref

import pyspark.sql.functions as F
from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession

from .operators.artifacts import source_stamp
from .session import apply_runtime_confs

#: fan_out's memoized split-count probes — see fan_out's docstring
_SPLIT_COUNT_CACHE: "weakref.WeakKeyDictionary[DataFrame, int]" = (
    weakref.WeakKeyDictionary()
)

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# columns stored as TIMESTAMP(NANOS) in the testdata parquet
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def _fix_nanos(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    for c in cols:
        field = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)
        if field.get(c) == "bigint":
            # nanos → micros, flooring like DuckDB's TIMESTAMP cast.
            # Integer DIV, not `/` — float division loses precision on
            # 1.7e18-scale nanos (double mantissa is 53 bits).
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


# Memoized LOGICAL table plans, keyed on (application, path, file
# stamps). spark.read.parquet costs ~95 ms of driver work PER CALL
# (file listing, footer read, schema inference over py4j) — pure
# metadata that a production deployment pays once via its catalog, but
# which this path-based loader re-paid on every query build. The cached
# value is an UNEXECUTED DataFrame plan — no rows, no results; every
# action still computes from the parquet bytes. The key carries the
# mtime and size of the path and, for a directory, of the files under
# it, so a rewritten file drops its plan; the application id drops
# entries from stopped sessions.
_TABLE_PLAN_CACHE: dict[tuple, DataFrame] = {}


def _app_id(spark: SparkSession) -> str:
    cached = getattr(spark, "_graft_app_id", None)
    if cached is None:
        cached = spark.sparkContext.applicationId
        try:
            spark._graft_app_id = cached
        except Exception:
            pass
    return cached


def _plan_cache_key(spark: SparkSession, path: str) -> "tuple | None":
    """(application, path) plus the path's source stamp — the same
    identity the persisted-artifact keys use."""
    try:
        return (_app_id(spark), path) + source_stamp(path)
    except OSError:
        return None


def _memo_plan(spark: SparkSession, path: str, build) -> DataFrame:
    key = _plan_cache_key(spark, path)
    if key is None:
        return build()
    df = _TABLE_PLAN_CACHE.get(key)
    if df is None:
        df = build()
        if len(_TABLE_PLAN_CACHE) > 256:  # sessions churn in tests
            _TABLE_PLAN_CACHE.clear()
        _TABLE_PLAN_CACHE[key] = df
    return df


def read_parquet_plan_cached(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the logical plan memoized like
    :func:`load_table` — for artifact tables read on every query build
    (signatures, verified pairs, IVF index, winnow fps)."""
    return _memo_plan(spark, path, lambda: spark.read.parquet(path))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _memo_plan(
        spark,
        f"{sf_dir}/{name}.parquet",
        lambda: _load_table_uncached(spark, sf_dir, name),
    )


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in _NANO_TS_COLS:
        df = _fix_nanos(df, _NANO_TS_COLS[name])
    if name == "documents" and "text" in df.columns:
        # engine contract (mirrored in every oracle via plans.catalog):
        # NULL text reads as the empty document — downstream operators
        # then have ONE degenerate case ('') instead of two ('', NULL)
        df = df.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Spread a NARROW scan across the cluster before a CPU-heavy
    per-row stage (optimization guide §2.5, input skew: "one huge
    unsplittable file … repartition immediately after the read").

    A small parquet file plans as ONE scan task, so every expensive
    per-row stage downstream (codec decode, per-shingle hashing,
    sliding-window math) runs serial while the rest of the cluster
    idles — measured 8× on doc_fingerprint and 5× on the pixel-decode
    path at sf0.1. The repartition is GATED on the current partition
    count so it is scale-adaptive, not a local[32] constant: a 100 TB
    table scan already has far more splits than defaultParallelism and
    this is a no-op; only few-split inputs are spread. Partitioning is
    a deterministic hash on ``keys`` (never round-robin on re-derived
    random values — SPARK-38388 retry-duplication class; keyless calls
    fall back to round-robin repartition, whose sort-before-repartition
    keeps retries consistent).

    The split-count probe (``df.rdd.getNumPartitions`` — ~37 ms of
    driver-side physical planning per call, ADVICE r14) is memoized per
    DataFrame object: ``load_table`` returns one memoized plan per
    (application, file) so repeated query builds hit the same entry; a
    projected/derived input misses and probes once. Entries die with
    their DataFrame (WeakKeyDictionary), so a regenerated corpus gets a
    fresh probe via its fresh plan object."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    current = _SPLIT_COUNT_CACHE.get(df)
    if current is None:
        try:
            current = df.rdd.getNumPartitions()
        except (Py4JError, PySparkException):
            # physical planning failed HERE: let the caller's own
            # action surface the real analysis error with full context
            return df
        try:
            _SPLIT_COUNT_CACHE[df] = current
        except TypeError:
            pass  # non-weakref-able wrapper: just skip memoization
    if current >= target:
        return df
    if keys:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)
