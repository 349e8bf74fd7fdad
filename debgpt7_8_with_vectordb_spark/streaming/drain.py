"""The catalog's one way to run a stream to completion as a batch.

A streaming catalog query drains its stream with ``availableNow`` into a
memory sink and returns the drained rows, so the result compares
against a batch oracle like any other query.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame

from ..loops import capped_partitions

_SINK_SEQ = itertools.count()


def drain_memory(stream: DataFrame, name: str, mode: str) -> DataFrame:
    """Run ``stream`` with ``availableNow`` into a memory sink in output
    ``mode`` under :func:`~..loops.capped_partitions`, wait for it, and
    return the drained rows. The sink's temporary view is dropped before
    returning, also when the stream fails: the returned DataFrame holds
    the sink's rows itself, so nothing stays registered in the session
    catalog after the caller lets it go."""
    spark = stream.sparkSession
    view = f"{name}_sink_{next(_SINK_SEQ)}"
    with capped_partitions(spark):
        try:
            stream.writeStream.format("memory").queryName(view).outputMode(
                mode
            ).trigger(availableNow=True).start().awaitTermination()
            return spark.table(view)
        finally:
            spark.catalog.dropTempView(view)
