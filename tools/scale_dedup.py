"""10x scale check for the dedup families (SCALING.md):

- dedup_recall (full blocked exact truth) vs dedup_recall_sampled
  (deterministic doc_id % 4 truth sample) at 1x and 10x — the sampled
  gate is the 100 TB recipe; this measures what it buys.
- dedup_clusters at 10x: the connected-components fold over the
  verified pairs, whose level count follows the pair partitions.
- connected_components on the 10x verified-pair graph PLUS an injected
  4096-node chain — the shape that costs label propagation one round
  per hop; the fold's levels must not grow with it.

Usage: python tools/scale_dedup.py [one_x_dir ten_x_dir]
(builds ten_x_dir via tools/make_scale10.py if missing)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from debgpt7_8_with_vectordb_spark.operators.graph import connected_components  # noqa: E402
from debgpt7_8_with_vectordb_spark.plans import QUERIES  # noqa: E402
from debgpt7_8_with_vectordb_spark.session import get_spark  # noqa: E402


def timed(label: str, fn) -> None:
    t0 = time.time()
    out = fn()
    print(f"{label}: {round(time.time() - t0, 1)}s {out}", flush=True)


def one_task_stage_ms(spark, group: str) -> list[int]:
    """Executor run time (ms) of every 1-task stage job group ``group``
    ran, in job order: the fold's last level is one of them."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        for sid in sc.statusTracker().getJobInfo(jid).stageIds:
            st = store.lastStageAttempt(sid)
            if st.numTasks() == 1 and st.submissionTime().isDefined():
                out.append(int(st.executorRunTime()))
    return out


def main() -> None:
    one_x = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    ten_x = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale10"
    spark = get_spark(app_name="scale_dedup")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(f"{ten_x}/documents.parquet"):
        from make_scale10 import build

        build(spark, one_x, ten_x)
    spark.read.parquet(f"{one_x}/region.parquet").groupBy("r_name").count().count()

    def noop(df):
        df.write.mode("overwrite").format("noop").save()
        return ""

    for label, d in (("1x", one_x), ("10x", ten_x)):
        timed(f"dedup_recall {label}", lambda d=d: noop(QUERIES["dedup_recall"](spark, d)))
        timed(
            f"dedup_recall_sampled {label}",
            lambda d=d: noop(QUERIES["dedup_recall_sampled"](spark, d)),
        )
    spark.sparkContext.setJobGroup("clusters", "dedup_clusters 10x")
    timed("dedup_clusters 10x", lambda: noop(QUERIES["dedup_clusters"](spark, ten_x)))
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    print(f"  1-task stage run ms: {one_task_stage_ms(spark, 'clusters')}", flush=True)

    # round-3 pipeline + embedding families (embeddings are tiled too)
    for name in (
        "pack_sequences",
        "ngram_lm_score",
        "corpus_mixture",
        "contamination_filter",
        "ann_pq",
        "ann_ivfpq",
        "embedding_neardup",
        "dedup_embedding_clusters",
    ):
        for label, d in (("1x", one_x), ("10x", ten_x)):
            timed(f"{name} {label}", lambda n=name, d=d: noop(QUERIES[n](spark, d)))

    # adversarial chain: verified 10x edges + a 4096-node chain over
    # fresh node ids; the fold's levels must not follow its length
    from debgpt7_8_with_vectordb_spark.plans.dedup_queries import (
        dedup_minhash_verified,
    )

    base = int(10e6)
    chain_n = 4096
    chain = spark.range(chain_n - 1).select(
        (F.col("id") + base).alias("src"), (F.col("id") + base + 1).alias("dst")
    )
    pairs = dedup_minhash_verified(spark, ten_x).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    edges = pairs.union(chain)
    nodes = (
        spark.read.parquet(f"{ten_x}/documents.parquet")
        .select("doc_id")
        .union(spark.range(chain_n).select((F.col("id") + base).alias("doc_id")))
    )

    t0 = time.time()
    spark.sparkContext.setJobGroup("cc", "cc 10x+4096chain")
    labels, rounds = connected_components(nodes, edges)
    n_clusters = labels.select("lab").distinct().count()
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    print(
        f"cc 10x+4096chain: {round(time.time() - t0, 1)}s rounds={rounds} "
        f"clusters={n_clusters} "
        f"1-task stage run ms: {one_task_stage_ms(spark, 'cc')}",
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
