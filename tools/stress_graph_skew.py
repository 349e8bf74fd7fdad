"""Hot-component skew stress for the connected-components fold.

The fold (operators/graph.py) has no join or groupBy key, so a
mega-component cannot concentrate rows on one reducer. What it does
bound is per-task memory: a level-0 task holds the distinct nodes of its
edge partition, a merge task the distinct nodes of its ≤ 2 input
forests, and the last level every node that has an edge. This tool plants
the adversarial graph and MEASURES the levels, the wall and the per-task
durations instead of asserting:

- a 10^4-member near-clique (every member wired to 50 deterministic
  in-class neighbors — the bounded-degree shape a pair-emission cap
  produces; an uncapped clique's c^2 edges are the documented
  output-bound case, not a skew case),
- two 10^4-node chains (diameter 10^4: the levels must not follow it),
- 10^5 background pair-components (the realistic long tail).

Edges are given in one direction per pair. Task durations are read from
Spark's OWN event log (a dedicated session with spark.eventLog.enabled;
the UI is off in this deployment): for every stage with meaningful work
we report max/median task duration and flag stragglers >4x median;
every cc-group stage is listed, the one-task last level included.

Usage: python tools/stress_graph_skew.py [clique_n] [chain_n]
Prints a summary block for SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from debgpt7_8_with_vectordb_spark.operators.graph import (  # noqa: E402
    connected_components,
)

EVENT_DIR = "/tmp/spark_graft_stress_events"


def build_graph(
    spark, clique_n: int, chain_n: int, degree: int = 50, bg_n: int = 200_000
):
    """Planted graph: ids [0, clique_n) = near-clique; two chains after
    it; then background 2-node components. One edge row per pair."""
    clique = spark.range(clique_n).select(F.col("id").alias("src"))
    # 50 deterministic in-class neighbors per node (hash arithmetic, no
    # rand() — reruns measure the same graph)
    clique_edges = clique.select(
        "src",
        F.explode(F.sequence(F.lit(1), F.lit(degree))).alias("k"),
    ).select(
        "src",
        ((F.col("src") + (F.col("k") * 2654435761) % (clique_n - 1) + 1) % clique_n).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))

    c1 = clique_n
    chain1 = spark.range(c1, c1 + chain_n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    c2 = c1 + chain_n
    chain2 = spark.range(c2, c2 + chain_n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    bg_start = c2 + chain_n
    bg = spark.range(bg_start, bg_start + bg_n, 2).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    edges = clique_edges.union(chain1).union(chain2).union(bg)
    # a real pair table arrives hash-distributed by key (it is the
    # output of a shuffle); without this the builder's union leaves one
    # partition holding the entire exploded clique — input pathology,
    # not the operator's
    edges = edges.repartition(spark.sparkContext.defaultParallelism, "src")
    nodes = spark.range(bg_start + bg_n).select(F.col("id").alias("doc_id"))
    return nodes, edges


def task_skew_from_eventlog(app_id: str) -> list[tuple[int, int, float, float]]:
    """(stage_id, n_tasks, median_ms, max_ms) per completed stage, from
    the event-log JSON."""
    import glob
    import statistics

    paths = [
        p
        for p in glob.glob(os.path.join(EVENT_DIR, "*" + app_id + "*"))
        + glob.glob(os.path.join(EVENT_DIR, "*" + app_id + "*", "events*"))
        if os.path.isfile(p) and not p.endswith(".zstd")
    ]
    durs: dict[int, list[float]] = {}
    names: dict[int, str] = {}
    cc_stages: set[int] = set()
    for p in paths:
        with open(p) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                if ev.get("Event") == "SparkListenerTaskEnd":
                    ti = ev.get("Task Info", {})
                    d = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                    durs.setdefault(ev.get("Stage ID", -1), []).append(d)
                elif ev.get("Event") == "SparkListenerStageCompleted":
                    si = ev.get("Stage Info", {})
                    names[si.get("Stage ID", -1)] = si.get("Stage Name", "")
                elif ev.get("Event") == "SparkListenerJobStart":
                    if ev.get("Properties", {}).get("spark.jobGroup.id") == "cc":
                        for si in ev.get("Stage Infos", []):
                            cc_stages.add(si.get("Stage ID", -1))
    out = []
    for sid, ds in sorted(durs.items()):
        out.append(
            (
                sid,
                len(ds),
                statistics.median(ds),
                max(ds),
                names.get(sid, ""),
                sid in cc_stages,
            )
        )
    return out


def main() -> int:
    clique_n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    chain_n = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    shutil.rmtree(EVENT_DIR, ignore_errors=True)
    os.makedirs(EVENT_DIR, exist_ok=True)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stress_graph_skew")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{EVENT_DIR}")
        # plain single-file JSON: no zstd module in this container
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    nodes, edges = build_graph(spark, clique_n, chain_n)
    # job group 'cc' marks the stages under test — the planted-graph
    # BUILD has deliberately heterogeneous partitions (one holds the
    # whole exploded clique), so it is pinned here, outside the group,
    # and must not pollute the skew verdict
    edges = edges.localCheckpoint(eager=True)
    n_nodes = nodes.count()
    n_edges = edges.count()
    t0 = time.time()
    spark.sparkContext.setJobGroup("cc", "connected_components stress")
    labels, rounds = connected_components(nodes, edges)
    # correctness: one label per planted component
    agg = (
        labels.groupBy("lab")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"))
        .limit(3)
        .collect()
    )
    wall = time.time() - t0
    comp_sizes = {int(r["lab"]): int(r["n"]) for r in agg}
    ok = (
        comp_sizes.get(0) == clique_n
        and comp_sizes.get(clique_n) == chain_n
        and comp_sizes.get(clique_n + chain_n) == chain_n
    )
    print(
        f"graph: {n_nodes} nodes, {n_edges} edges "
        f"(clique={clique_n} deg~100, 2 chains of {chain_n}, 100k pair tail)"
    )
    print(f"rounds={rounds} wall={wall:.1f}s components_correct={ok}")
    print(f"top component sizes: {comp_sizes}")

    spark.stop()  # flush the event log
    rows = task_skew_from_eventlog(app_id)
    flagged = []
    print(
        "\ncc-group stages (straggler = max > 4x median, flagged on "
        "stages with >=8 tasks and median >= 20 ms; a 1-task stage is a "
        "last fold level or a final join/aggregate):"
    )
    for sid, n, med, mx, name, in_cc in rows:
        if not in_cc:
            continue
        ratio = mx / max(med, 1e-9)
        mark = ""
        if n >= 8 and med >= 20 and ratio > 4:
            flagged.append(sid)
            mark = "  <-- STRAGGLER >4x"
        print(
            f"  stage {sid:>4}: tasks={n:>3} median={med:.0f}ms "
            f"max={mx:.0f}ms ratio={ratio:.2f}  [{name[:48]}]{mark}"
        )
    print(f"\nflagged_stages={flagged}")
    return 0 if ok and not flagged else 1


if __name__ == "__main__":
    raise SystemExit(main())
