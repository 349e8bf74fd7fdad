"""Vector retrieval query catalog (reference SURVEY.md §2.6/§2.11/§2.12).

Each query has a DuckDB oracle computing the identical result. Scores are
rounded to 6 decimals BEFORE ranking on both sides so last-ulp float drift
can never flip an ordering; ties break on the id (SURVEY.md §7.7).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.vector import cosine_similarity, l2_norm, l2_normalize, truncate_dim
from ..operators import artifacts
from ..operators.ann import (
    assign_clusters_np,
    build_pq_codebooks,
    train_ivf_centroids,
    unit_vectors,
)
from ..operators.retrieval import (
    get_query_vector,
    resolve_provenance,
    score_against_query,
    topk,
)
from ..tables import load_table
from .catalog import oracle_artifact_path, query, tag_artifact

# DuckDB fragment: a FLOAT[] column as DOUBLE[] (scores computed in double
# precision on both engines — SURVEY.md §7.7 risk 5)
_D = "list_transform({v}, x -> x::DOUBLE)"


def _cos(a: str, b: str) -> str:
    """Zero-norm-guarded DuckDB cosine (r12 fuzz seed 135): DuckDB's
    ``list_cosine_similarity`` returns -1.0 BY CONVENTION when either
    operand is the zero vector; the engine (functions/vector.py
    ``cosine_similarity``, mirroring the reference's np-divide
    semantics) yields NULL there, sorting last under ``DESC``. Every
    oracle cosine goes through this guard so degenerate vectors
    compare NULL-to-NULL cross-engine; non-degenerate pairs stay
    bit-identical to the bare call.

    The guard computes the divisor EXACTLY as the engine does
    (``try_divide(dot, sqrt(Σa²)·sqrt(Σb²))``, functions/vector.py:75):
    NULL iff the norm PRODUCT is 0.0, not per-operand Σ² = 0 — for tiny
    non-zero vectors (components ~1e-162) each sqrt is non-zero but
    their product underflows to 0.0, and the engine NULLs there too
    (ADVICE r12 #1)."""
    return (
        f"CASE WHEN sqrt(list_sum(list_transform({a}, zz -> zz * zz)))"
        f" * sqrt(list_sum(list_transform({b}, zz -> zz * zz))) = 0"
        f" THEN NULL ELSE round(list_cosine_similarity({a}, {b}), 6) END"
    )


@query(
    "topk_retrieval",
    oracle=f"""
WITH q AS (SELECT {_D.format(v='embedding')} AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
         {_cos(_D.format(v='embedding'), 'q.qv')} AS score
  FROM embeddings, q
),
top AS (SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id ASC LIMIT 3)
SELECT t.vec_id AS vec_id, t.score AS score, d.source AS source, d.lang AS lang
FROM top t JOIN documents d ON d.doc_id = t.vec_id
""",
)
def topk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP — reference R2 `retrieve_from_db` (retrieval.py:117-130,
    vectordb.py:190-214): embed query → scan → cosine → top-k → provenance.

    Spark plan: scan-side scoring expression → TakeOrderedAndProject (k=3)
    → ONE broadcast hash join for provenance (reference does N+1 point
    lookups, vectordb.py:210-213).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qv = get_query_vector(emb, 0)
    winners = topk(score_against_query(emb, qv), k=3)
    return resolve_provenance(winners, docs, "vec_id", "doc_id").select(
        "vec_id", "score", "source", "lang"
    )


@query(
    "topk_retrieval_filtered",
    oracle=f"""
WITH q AS (SELECT {_D.format(v='embedding')} AS qv FROM embeddings WHERE vec_id = 1),
scored AS (
  SELECT vec_id, label,
         {_cos(_D.format(v='embedding'), 'q.qv')} AS score
  FROM embeddings, q
  WHERE label = 3
)
SELECT vec_id, label, score FROM scored ORDER BY score DESC, vec_id ASC LIMIT 5
""",
)
def topk_retrieval_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference R4 `/context` (app.py:239-277): payload filter pushed
    BELOW the ANN search (P6). Catalyst pushes `label = 3` into the scan
    (PushedFilters), so scoring touches only the filtered rows — same
    pushdown the reference hand-codes via Qdrant Filter (app.py:250-263).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qv = get_query_vector(emb, 1)
    scored = emb.filter(F.col("label") == 3).select(
        "vec_id",
        "label",
        F.round(cosine_similarity(F.col("embedding"), F.array(*[F.lit(x) for x in qv])), 6).alias(
            "score"
        ),
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(5)


@query(
    "knn_join",
    oracle=f"""
WITH qs AS (SELECT vec_id AS qid, {_D.format(v='embedding')} AS qv
            FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT qs.qid, e.vec_id,
         {_cos(_D.format(v='e.embedding'), 'qs.qv')} AS score
  FROM embeddings e CROSS JOIN qs
  WHERE e.vec_id <> qs.qid
),
ranked AS (
  SELECT qid, vec_id, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC)::BIGINT AS rnk
  FROM scored
)
SELECT qid, vec_id, score, rnk FROM ranked WHERE rnk <= 3
""",
)
def knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force k-NN join (similarity-search baseline): top-3 neighbors
    for each of 5 query vectors. The query side is broadcast (tiny), so the
    big side streams through scoring without a shuffle; ranking shuffles
    only by qid. Mirrors reference R1 `retrieve_onfly` (retrieval.py:59-83)
    generalized to many queries.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    pairs = emb.crossJoin(F.broadcast(qs)).filter(F.col("vec_id") != F.col("qid"))
    scored = pairs.select(
        "qid",
        "vec_id",
        F.round(cosine_similarity(F.col("embedding"), F.col("qv")), 6).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "vector_normalize",
    oracle="""
WITH t AS (SELECT vec_id, list_transform(embedding[1:32], x -> x::DOUBLE) AS v
           FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM t)
SELECT vec_id,
       -- zero-vector guard mirrors functions/vector.l2_normalize: 0-vec
       -- stays 0-vec (the reference's np divide would emit NaN + warning)
       CASE WHEN nrm = 0 THEN 0.0
            ELSE round(sqrt(list_sum(list_transform(list_transform(v, x -> x / nrm), y -> y * y))), 6)
       END AS unit_norm,
       CASE WHEN nrm = 0 THEN round(v[1], 6)
            ELSE round(v[1] / nrm, 6)
       END AS first_component
FROM n
""",
)
def vector_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion invariant of the reference vector store (vectordb.py:81-86):
    truncate to dim then L2-normalize — here dim=32 over the 64-d testdata.
    Pure per-row Catalyst expressions: no shuffle, whole-stage codegen.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    t = truncate_dim(F.col("embedding"), 32)
    n = l2_normalize(t)
    return emb.select(
        "vec_id",
        F.round(l2_norm(n), 6).alias("unit_norm"),
        F.round(F.element_at(n, 1), 6).alias("first_component"),
    )


@query(
    "ann_ivf",
    oracle=f"""
WITH q AS (SELECT {_D.format(v='embedding')} AS qv FROM embeddings WHERE vec_id = 2),
cent AS (
  SELECT label, i AS pos, avg(embedding[i]::DOUBLE) AS c
  FROM embeddings, generate_series(1, 64) AS g(i)
  GROUP BY label, i
),
cvec AS (SELECT label, array_agg(c ORDER BY pos) AS cv FROM cent GROUP BY label),
sel AS (
  SELECT cvec.label FROM cvec, q
  ORDER BY {_cos('cv', 'q.qv')} DESC, label ASC LIMIT 2
)
SELECT e.vec_id, e.label,
       {_cos(_D.format(v='e.embedding'), 'q.qv')} AS score
FROM embeddings e JOIN sel ON e.label = sel.label, q
ORDER BY score DESC, vec_id ASC LIMIT 5
""",
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate search — the 100 TB scale path for retrieval.

    Build per-cluster centroids (here: the `label` column plays cluster-id;
    in production KMeans assigns it and it becomes a PARTITION column so
    probing = partition pruning). Probe the nprobe=2 nearest clusters, then
    exact-score only those. The exact brute-force scorer (topk_retrieval)
    stays the recall oracle (BASELINE.md §2).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qv = get_query_vector(emb, 2)
    qlit = F.array(*[F.lit(x) for x in qv])

    cent = (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("val").cast("double")).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cv")
        )
    )
    sel = (
        cent.select(
            "label", F.round(cosine_similarity(F.col("cv"), qlit), 6).alias("cs")
        )
        .orderBy(F.desc("cs"), F.asc("label"))
        .limit(2)
        .select("label")
    )
    probed = emb.join(F.broadcast(sel), "label")
    scored = probed.select(
        "vec_id",
        "label",
        F.round(cosine_similarity(F.col("embedding"), qlit), 6).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(5)


@query(
    "ann_recall",
    oracle=f"""
WITH q AS (SELECT {_D.format(v='embedding')} AS qv FROM embeddings WHERE vec_id = 2),
exact AS (
  SELECT vec_id FROM embeddings, q
  ORDER BY {_cos(_D.format(v='embedding'), 'q.qv')} DESC,
           vec_id ASC LIMIT 10
),
cent AS (
  SELECT label, i AS pos, avg(embedding[i]::DOUBLE) AS c
  FROM embeddings, generate_series(1, 64) AS g(i)
  GROUP BY label, i
),
cvec AS (SELECT label, array_agg(c ORDER BY pos) AS cv FROM cent GROUP BY label),
sel AS (
  SELECT cvec.label FROM cvec, q
  ORDER BY {_cos('cv', 'q.qv')} DESC, label ASC LIMIT 2
),
approx AS (
  SELECT e.vec_id FROM embeddings e JOIN sel ON e.label = sel.label, q
  ORDER BY {_cos(_D.format(v='e.embedding'), 'q.qv')} DESC,
           e.vec_id ASC LIMIT 10
)
SELECT (SELECT count(*) FROM exact JOIN approx ON exact.vec_id = approx.vec_id)::DOUBLE
         / 10 AS recall_at_10
""",
)
def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF scale path vs the exact brute-force scorer —
    the quality gate BASELINE.md §2 requires for any approximate
    retrieval. Exact top-10 (full scan, TakeOrderedAndProject) and IVF
    top-10 (nprobe=2 cluster pruning) computed in one job; recall =
    |intersection| / k. The exact side IS the reference's semantics
    (vectordb.py:203-208), so this measures precisely what switching to
    the approximate path costs."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = get_query_vector(emb, 2)
    qlit = F.array(*[F.lit(x) for x in qv])

    exact = (
        emb.select(
            "vec_id",
            F.round(cosine_similarity(F.col("embedding"), qlit), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )

    cent = (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("val").cast("double")).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cv")
        )
    )
    sel = (
        cent.select(
            "label", F.round(cosine_similarity(F.col("cv"), qlit), 6).alias("cs")
        )
        .orderBy(F.desc("cs"), F.asc("label"))
        .limit(2)
        .select("label")
    )
    approx = (
        emb.join(F.broadcast(sel), "label")
        .select(
            "vec_id",
            F.round(cosine_similarity(F.col("embedding"), qlit), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    hits = exact.join(approx, "vec_id").count()
    return spark.createDataFrame([(hits / 10.0,)], "recall_at_10 double")


@query(
    "ann_recall_sweep",
    oracle=f"""
WITH q AS (SELECT {_D.format(v='embedding')} AS qv FROM embeddings WHERE vec_id = 2),
exact AS (
  SELECT vec_id FROM embeddings, q
  ORDER BY {_cos(_D.format(v='embedding'), 'q.qv')} DESC,
           vec_id ASC LIMIT 10
),
cent AS (
  SELECT label, i AS pos, avg(embedding[i]::DOUBLE) AS c
  FROM embeddings, generate_series(1, 64) AS g(i)
  GROUP BY label, i
),
cvec AS (SELECT label, array_agg(c ORDER BY pos) AS cv FROM cent GROUP BY label),
ranked AS (
  SELECT label,
         row_number() OVER (
           ORDER BY {_cos('cv', 'q.qv')} DESC, label ASC
         ) AS cr
  FROM cvec, q
),
scored AS (
  SELECT e.vec_id, r.cr,
         {_cos(_D.format(v='e.embedding'), 'q.qv')} AS s
  FROM embeddings e JOIN ranked r USING (label), q
),
lv AS (
  SELECT p.np, scored.vec_id, scored.s
  FROM scored JOIN (VALUES (1), (2), (4), (8)) p(np) ON scored.cr <= p.np
),
topped AS (
  SELECT np, vec_id,
         row_number() OVER (PARTITION BY np ORDER BY s DESC, vec_id ASC) AS rn
  FROM lv
)
SELECT np::BIGINT AS nprobe,
       (sum(CASE WHEN vec_id IN (SELECT vec_id FROM exact) THEN 1 ELSE 0 END)
          / 10.0)::DOUBLE AS recall_at_10
FROM topped WHERE rn <= 10 GROUP BY np
""",
)
def ann_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 for nprobe in {1, 2, 4, 8} in ONE action — the IVF
    quality/cost trade measured per round (generalizes ``ann_recall``;
    VERDICT r1 #10). Clusters rank once by centroid cosine; each probe
    level is its own filter → TakeOrderedAndProject branch (never a
    global per-level window — each branch is the same pruned top-k shape
    a production probe runs), unioned and compared against the exact
    top-10 under the same tie rule.

    Recall must be monotone in nprobe by construction (probe sets nest);
    the pytest pins it. nprobe = #clusters ⇒ recall 1.0 exactly
    (the probe set IS the full corpus)."""
    from functools import reduce

    emb = load_table(spark, sf_dir, "embeddings")
    qv = get_query_vector(emb, 2)
    qlit = F.array(*[F.lit(x) for x in qv])

    exact = (
        emb.select(
            "vec_id",
            F.round(cosine_similarity(F.col("embedding"), qlit), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )

    cent = (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("val").cast("double")).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cv")
        )
    )
    # the cluster ranking is a tiny table (one row per cluster) — the
    # constant-key window funnels only k rows, then broadcasts
    rw = Window.partitionBy(F.lit(0)).orderBy(
        F.desc(F.round(cosine_similarity(F.col("cv"), qlit), 6)), F.asc("label")
    )
    # materialize the k-row ranking ONCE: four union branches each
    # broadcast it, and without this the centroid build (posexplode +
    # two shuffles) would re-execute per branch
    ranked = (
        cent.withColumn("cr", F.row_number().over(rw))
        .select("label", "cr")
        .localCheckpoint(eager=True)
    )

    scored = emb.join(F.broadcast(ranked), "label").select(
        "vec_id",
        "cr",
        F.round(cosine_similarity(F.col("embedding"), qlit), 6).alias("s"),
    )
    ex = F.broadcast(exact.withColumn("hit", F.lit(1)))
    branches = [
        scored.filter(F.col("cr") <= p)
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(10)
        .join(ex, "vec_id", "left")
        .groupBy()
        .agg(
            F.lit(p).cast("long").alias("nprobe"),
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) / 10.0).alias("recall_at_10"),
        )
        for p in (1, 2, 4, 8)
    ]
    return reduce(lambda a, b: a.unionByName(b), branches).select(
        "nprobe", F.col("recall_at_10").cast("double").alias("recall_at_10")
    )


@query(
    "context_injection",
    oracle=f"""
WITH q AS (SELECT {_D.format(v='embedding')} AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
         {_cos(_D.format(v='embedding'), 'q.qv')} AS score
  FROM embeddings, q
),
top AS (
  SELECT vec_id, score, row_number() OVER (ORDER BY score DESC, vec_id ASC) AS rn
  FROM scored ORDER BY score DESC, vec_id ASC LIMIT 3
),
snip AS (
  SELECT t.rn,
         t.rn::VARCHAR || '. ' ||
         CASE WHEN length(d.text) > 512 THEN substr(d.text, 1, 512) || '...'
              ELSE d.text END AS snippet
  FROM top t JOIN documents d ON d.doc_id = t.vec_id
)
SELECT string_agg(snippet, chr(10) ORDER BY rn) AS context_block,
       count(*)::BIGINT AS n_snippets
FROM snip
""",
)
def context_injection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 context-injection prompt build (reference frontend.py:223-269):
    take the top-k retrieved rows, clamp each text to 512 chars with an
    ellipsis (frontend.py:250-251), number them, and join into the
    system-message context block. The reference does this driver-side
    after collect(); here the block is built as ONE aggregation so the
    k-row result is the only thing that ever reaches the driver."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qv = get_query_vector(emb, 0)
    winners = topk(score_against_query(emb, qv), k=3)
    w = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    numbered = winners.withColumn("rn", F.row_number().over(w))
    snip = resolve_provenance(numbered, docs, "vec_id", "doc_id").select(
        "rn",
        F.concat(
            F.col("rn").cast("string"),
            F.lit(". "),
            F.when(
                F.length("text") > 512,
                F.concat(F.substring("text", 1, 512), F.lit("...")),
            ).otherwise(F.col("text")),
        ).alias("snippet"),
    )
    return snip.agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "snippet"))),
                lambda s: s["snippet"],
            ),
            "\n",
        ).alias("context_block"),
        F.count("*").alias("n_snippets"),
    )


# Oracle-handoff tokens: resolve_oracles() substitutes the corpus-keyed
# literal path per sf_dir; the query reads and writes the same path via
# oracle_artifact_path, and that file is the trained-artifact cache.
_IVF_CENTROIDS = "__IVF_CENTROIDS__"
_IVF_K, _IVF_SEED = 8, 42
# parameter-bearing cache tags: bumping k/seed re-keys both the handoff
# artifact and the private index cache — a stale artifact trained under
# the old constants can never be read back silently
tag_artifact(_IVF_CENTROIDS, f"k{_IVF_K}s{_IVF_SEED}")

@query(
    "ann_ivf_kmeans",
    oracle=f"""
WITH cent AS (SELECT cluster_id, centroid FROM '{_IVF_CENTROIDS}'),
raw AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
nv AS (
  SELECT vec_id, CASE WHEN nrm = 0 THEN v ELSE list_transform(v, x -> x / nrm) END AS nv
  FROM (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM raw)
),
q AS (
  SELECT CASE WHEN qn = 0 THEN nv ELSE list_transform(nv, x -> x / qn) END AS qv
  FROM (SELECT nv, sqrt(list_sum(list_transform(nv, x -> x * x))) AS qn
        FROM nv WHERE vec_id = 2)
),
dist AS (
  SELECT n.vec_id, c.cluster_id,
         round(list_sum(list_transform(generate_series(1, len(n.nv)),
               i -> (n.nv[i] - c.centroid[i]) * (n.nv[i] - c.centroid[i]))), 6) AS d
  FROM nv n CROSS JOIN cent c
),
asg AS (
  SELECT vec_id, cluster_id
  FROM (SELECT vec_id, cluster_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster_id ASC) AS rk
        FROM dist)
  WHERE rk = 1
),
sel AS (
  SELECT c.cluster_id FROM cent c, q
  ORDER BY {_cos('c.centroid', 'q.qv')} DESC, c.cluster_id ASC
  LIMIT 2
)
SELECT a.vec_id AS id, a.cluster_id AS cluster_id,
       {_cos('n.nv', 'q.qv')} AS score
FROM asg a JOIN sel USING (cluster_id) JOIN nv n ON n.vec_id = a.vec_id, q
ORDER BY score DESC, id ASC LIMIT 5
""",
)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN path end-to-end: seeded k-means IVF build
    (operators/ann.py — vectors normalized first so euclidean k-means
    orders like cosine) → probe the 2 cosine-nearest clusters → exact
    re-rank inside them, top-5. Replaces `ann_ivf`'s label-as-cluster
    stand-in with a real learned clustering; cluster_id becomes the
    partition column at scale so the probe is partition pruning.

    FULLY ORACLED: the query persists the centroid table to parquet
    (the oracle-handoff file) — the stored half of a real IVF index —
    and assignment is the rounded-argmin formula over that table
    (operators/ann.assign_clusters_np), not the trainer's own
    assignment, so DuckDB replays normalize → assign → probe-selection
    → exact top-5 bit-for-bit from the same artifact. Training (a
    driver-side Lloyd on a hash-ordered sample) only produces the
    centroid table the oracle consumes — and since it is deterministic
    per corpus and seed, that handoff file doubles as the cache, keyed
    on the embeddings file identity: warm runs skip training and pay
    only the probe. Recall properties stay pinned in tests/test_ann.py
    (nprobe=k ⇒ recall 1.0; monotone)."""
    from ..operators.ann import probe_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    indexed, centroids = _ivf_index_cached(spark, sf_dir, emb)
    qv = get_query_vector(indexed, 2, id_col="id", vec_col="nv")
    return probe_ivf(indexed, centroids, qv, nprobe=2, topk=5)


def _ivf_index_cached(spark: SparkSession, sf_dir: str, emb: DataFrame):
    """The stored IVF index, BOTH halves persisted per corpus (keyed on
    the embeddings source stamp): the trained centroid table (tiny
    parquet) and the indexed vector table written
    ``partitionBy('cluster_id')`` — one directory per cluster, exactly
    the billion-vector layout. Probing reads back from the partitioned
    parquet, so the ``cluster_id isin(probes)`` filter is ON-DISK
    partition pruning (PartitionFilters in the scan, PLANS.md), not an
    in-memory filter over a recomputed assignment: warm calls skip
    training AND the assignment pass entirely. The centroid table IS the
    oracle-handoff file (the PCA/BPE pattern): the index is assigned
    from the centroids read back from it, so the oracle replays from
    exactly the centroids the index was assigned with."""
    normed = unit_vectors(emb)

    def train():
        cents = train_ivf_centroids(normed, _IVF_K, _IVF_SEED)
        return pa.table(
            {
                "cluster_id": pa.array(range(len(cents)), type=pa.int64()),
                "centroid": pa.array(cents, type=pa.list_(pa.float64())),
            }
        )

    tbl = artifacts.persisted_file(oracle_artifact_path(_IVF_CENTROIDS, sf_dir), train)
    centroids = [list(c) for _, c in sorted(zip(tbl["cluster_id"], tbl["centroid"]))]
    idx_path = artifacts.corpus_cache_path(
        os.path.join(sf_dir, "embeddings.parquet"),
        f"ivf_idx_k{_IVF_K}_s{_IVF_SEED}_v2",
        "/tmp/spark_graft_artifacts/ivf_index",
    )
    # one file per cluster directory — the cluster-local file layout
    # a real index build ships to object storage
    indexed = artifacts.persisted_table(
        spark,
        idx_path,
        lambda p: assign_clusters_np(normed, centroids)
        .repartition("cluster_id")
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(p),
    )
    return indexed, centroids


_PQ_CODEBOOKS = "__PQ_CODEBOOKS__"
from ..operators.ann import PQ_KSUB as _PQ_KSUB  # noqa: E402
from ..operators.ann import PQ_SUBSPACES as _PQ_M  # noqa: E402

_PQ_SEED = 42
tag_artifact(_PQ_CODEBOOKS, f"m{_PQ_M}k{_PQ_KSUB}s{_PQ_SEED}")


@query(
    "ann_pq",
    oracle=f"""
WITH cb AS (SELECT subspace, cluster_id, centroid FROM '{_PQ_CODEBOOKS}'),
raw AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
nv AS (
  SELECT vec_id, CASE WHEN nrm = 0 THEN v ELSE list_transform(v, x -> x / nrm) END AS nv
  FROM (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM raw)
),
sub AS (
  SELECT vec_id, s.subspace, nv[s.subspace * 16 + 1 : s.subspace * 16 + 16] AS sv
  FROM nv CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS subspace) s
),
dist AS (
  SELECT vec_id, sub.subspace, cluster_id,
         round(list_sum(list_transform(generate_series(1, 16),
               i -> (sv[i] - centroid[i]) * (sv[i] - centroid[i]))), 6) AS d
  FROM sub JOIN cb ON cb.subspace = sub.subspace
),
codes AS (
  SELECT vec_id, subspace, cluster_id
  FROM (SELECT vec_id, subspace, cluster_id,
               row_number() OVER (PARTITION BY vec_id, subspace
                                  ORDER BY d ASC, cluster_id ASC) AS rk
        FROM dist)
  WHERE rk = 1
),
q AS (SELECT subspace, sv AS qv FROM sub WHERE vec_id = 2),
lut AS (
  SELECT cb.subspace, cb.cluster_id,
         round(list_sum(list_transform(generate_series(1, 16),
               i -> qv[i] * centroid[i])), 6) AS dot
  FROM cb JOIN q USING (subspace)
),
score AS (
  SELECT c.vec_id, round(sum(dot), 6) AS score
  FROM codes c JOIN lut USING (subspace, cluster_id) GROUP BY c.vec_id
)
SELECT vec_id AS id, score FROM score ORDER BY score DESC, id ASC LIMIT 5
""",
)
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT QUANTIZATION — the memory-scale ANN path beyond IVF and
    int8 (``embedding_quantize``): 64 unit-vector dims → 4 subspaces ×
    16-entry codebooks (k-means per subspace on one shared sample, cached
    per corpus like the IVF centroids), every vector stored as 4 small
    codes, and queries scored by ASYMMETRIC DISTANCE — an m×ksub lookup
    table of query-to-codeword dots, so the scan never touches raw
    vectors. At 100 TB the codes table is ~16× smaller than the float32
    corpus and the scan is table lookups + TakeOrdered; encode is one
    numpy pass per Arrow batch at ingest.

    FULLY ORACLED like ann_ivf_kmeans: the persisted codebook parquet is
    the shared artifact; DuckDB replays normalize → per-subspace
    rounded-argmin encode → LUT build → ADC top-5 from it. Training
    only produces the codebooks the oracle consumes."""
    from ..operators.ann import pq_adc_topk, pq_encode_np

    emb = load_table(spark, sf_dir, "embeddings")
    normed = unit_vectors(emb)
    books = _pq_codebooks_cached(spark, sf_dir, normed)
    qv = get_query_vector(normed, 2, id_col="id", vec_col="nv")
    codes = pq_encode_np(normed, books)
    return pq_adc_topk(codes, books, qv, topk=5)


def _pq_codebooks_cached(
    spark: SparkSession, sf_dir: str, normed: DataFrame
) -> list[list[list[float]]]:
    """Per-corpus codebook cache: the oracle-handoff file IS the cache
    (the PCA/BPE pattern), so the oracle replays from exactly the
    codebooks the query encoded with."""

    def train():
        built = build_pq_codebooks(normed, m=_PQ_M, ksub=_PQ_KSUB, seed=_PQ_SEED)
        rows = [(s, c, v) for s, book in enumerate(built) for c, v in enumerate(book)]
        return pa.table(
            {
                "subspace": pa.array([r[0] for r in rows], type=pa.int64()),
                "cluster_id": pa.array([r[1] for r in rows], type=pa.int64()),
                "centroid": pa.array([r[2] for r in rows], type=pa.list_(pa.float64())),
            }
        )

    tbl = artifacts.persisted_file(oracle_artifact_path(_PQ_CODEBOOKS, sf_dir), train)
    books: dict[int, dict[int, list[float]]] = {}
    for s, c, v in zip(tbl["subspace"], tbl["cluster_id"], tbl["centroid"]):
        books.setdefault(s, {})[c] = list(v)
    return [[books[s][c] for c in sorted(books[s])] for s in sorted(books)]


@query(
    "ann_pq_recall",
    oracle=f"""
WITH cb AS (SELECT subspace, cluster_id, centroid FROM '{_PQ_CODEBOOKS}'),
raw AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
nv AS (
  SELECT vec_id, CASE WHEN nrm = 0 THEN v ELSE list_transform(v, x -> x / nrm) END AS nv
  FROM (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM raw)
),
sub AS (
  SELECT vec_id, s.subspace, nv[s.subspace * 16 + 1 : s.subspace * 16 + 16] AS sv
  FROM nv CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS subspace) s
),
dist AS (
  SELECT vec_id, sub.subspace, cluster_id,
         round(list_sum(list_transform(generate_series(1, 16),
               i -> (sv[i] - centroid[i]) * (sv[i] - centroid[i]))), 6) AS d
  FROM sub JOIN cb ON cb.subspace = sub.subspace
),
codes AS (
  SELECT vec_id, subspace, cluster_id
  FROM (SELECT vec_id, subspace, cluster_id,
               row_number() OVER (PARTITION BY vec_id, subspace
                                  ORDER BY d ASC, cluster_id ASC) AS rk
        FROM dist)
  WHERE rk = 1
),
q AS (SELECT subspace, sv AS qv FROM sub WHERE vec_id = 2),
lut AS (
  SELECT cb.subspace, cb.cluster_id,
         round(list_sum(list_transform(generate_series(1, 16),
               i -> qv[i] * centroid[i])), 6) AS dot
  FROM cb JOIN q USING (subspace)
),
approx AS (
  SELECT c.vec_id FROM codes c JOIN lut USING (subspace, cluster_id)
  GROUP BY c.vec_id
  ORDER BY round(sum(dot), 6) DESC, c.vec_id ASC LIMIT 10
),
qfull AS (SELECT nv AS qv FROM nv WHERE vec_id = 2),
exact AS (
  SELECT vec_id FROM nv, qfull
  ORDER BY {_cos('nv', 'qv')} DESC, vec_id ASC LIMIT 10
)
SELECT (SELECT count(*) FROM exact JOIN approx USING (vec_id))::DOUBLE / 10
         AS recall_at_10
""",
)
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the PQ/ADC scan vs exact cosine — the quality gate
    that closes the PQ loop (every ANN path here ships with its recall
    monitor: ann_recall for IVF, recall tests for SRP, this for PQ).
    Quantization error is the knob m×ksub trades against memory; the
    gate is what you retune against when the corpus drifts.

    Honest reading on THIS corpus: ~0.1-0.2. The synthetic embeddings
    are near-uniform random — the information-theoretic worst case for
    vector quantization (measured offline: m∈{4,8,16}, ksub up to 256,
    and ADC-shortlist+exact-rerank all stay ≤0.8 even at an 8%
    shortlist). Real embedding manifolds have low intrinsic dimension
    and quantize far better; the gate exists precisely to measure that
    on the corpus at hand before trusting the codes table. The
    favorable regime is PINNED too: on a seeded 50-Gaussian
    mixture (tools/make_clustered_emb.py) this same query reads
    recall@10 = 1.0, and at 10x corpus (100 members/cluster) the ADC
    shortlist@100 + exact-rerank recipe reads 1.0 while direct
    recall@10 reads 0.3 — within-cluster order is quantization-limited
    by design (tests/test_pq_clustered.py, SCALING.md)."""
    from ..operators.ann import pq_adc_topk, pq_encode_np

    emb = load_table(spark, sf_dir, "embeddings")
    normed = unit_vectors(emb)
    books = _pq_codebooks_cached(spark, sf_dir, normed)
    qv = get_query_vector(normed, 2, id_col="id", vec_col="nv")
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    exact = (
        normed.select(
            "id", F.round(cosine_similarity(F.col("nv"), qlit), 6).alias("s")
        )
        .orderBy(F.desc("s"), F.asc("id"))
        .limit(10)
        .select("id")
    )
    approx = pq_adc_topk(pq_encode_np(normed, books), books, qv, topk=10).select("id")
    return exact.join(approx, "id").agg(
        (F.count("*").cast("double") / 10).alias("recall_at_10")
    )


@query(
    "ann_ivfpq",
    oracle=f"""
WITH cent AS (SELECT cluster_id AS ivf_cid, centroid AS ivf_c FROM '{_IVF_CENTROIDS}'),
cb AS (SELECT subspace, cluster_id, centroid FROM '{_PQ_CODEBOOKS}'),
raw AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
nv AS (
  SELECT vec_id, CASE WHEN nrm = 0 THEN v ELSE list_transform(v, x -> x / nrm) END AS nv
  FROM (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM raw)
),
q AS (SELECT nv AS qv FROM nv WHERE vec_id = 2),
ivf_dist AS (
  SELECT n.vec_id, c.ivf_cid,
         round(list_sum(list_transform(generate_series(1, len(n.nv)),
               i -> (n.nv[i] - c.ivf_c[i]) * (n.nv[i] - c.ivf_c[i]))), 6) AS d
  FROM nv n CROSS JOIN cent c
),
asg AS (
  SELECT vec_id, ivf_cid
  FROM (SELECT vec_id, ivf_cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, ivf_cid ASC) AS rk
        FROM ivf_dist)
  WHERE rk = 1
),
sel AS (
  SELECT c.ivf_cid FROM cent c, q
  ORDER BY {_cos('c.ivf_c', 'q.qv')} DESC, c.ivf_cid ASC
  LIMIT 2
),
cand AS (SELECT a.vec_id FROM asg a JOIN sel USING (ivf_cid)),
sub AS (
  SELECT n.vec_id, s.subspace, n.nv[s.subspace * 16 + 1 : s.subspace * 16 + 16] AS sv
  FROM nv n JOIN cand USING (vec_id)
  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS subspace) s
),
pq_dist AS (
  SELECT vec_id, sub.subspace, cluster_id,
         round(list_sum(list_transform(generate_series(1, 16),
               i -> (sv[i] - centroid[i]) * (sv[i] - centroid[i]))), 6) AS d
  FROM sub JOIN cb ON cb.subspace = sub.subspace
),
codes AS (
  SELECT vec_id, subspace, cluster_id
  FROM (SELECT vec_id, subspace, cluster_id,
               row_number() OVER (PARTITION BY vec_id, subspace
                                  ORDER BY d ASC, cluster_id ASC) AS rk
        FROM pq_dist)
  WHERE rk = 1
),
qsub AS (
  SELECT s.subspace, q.qv[s.subspace * 16 + 1 : s.subspace * 16 + 16] AS qs
  FROM q CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS subspace) s
),
lut AS (
  SELECT cb.subspace, cb.cluster_id,
         round(list_sum(list_transform(generate_series(1, 16),
               i -> qs[i] * centroid[i])), 6) AS dot
  FROM cb JOIN qsub USING (subspace)
),
score AS (
  SELECT c.vec_id, round(sum(dot), 6) AS score
  FROM codes c JOIN lut USING (subspace, cluster_id) GROUP BY c.vec_id
)
SELECT vec_id AS id, score FROM score ORDER BY score DESC, id ASC LIMIT 5
""",
)
def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the composition that IS the standard billion-vector
    layout (FAISS's IVFx,PQy): the coarse seeded-KMeans quantizer picks
    nprobe=2 clusters (partition pruning at rest), and INSIDE the probed
    partitions the scan is PQ/ADC table lookups over the codes column —
    coarse quantizer bounds the scan set, product quantizer bounds the
    bytes per row. Both trained artifacts come from the per-corpus
    caches the component queries persist (centroids + codebooks), so a
    warm run trains nothing and touches raw vectors only for the query
    vector itself.

    FULLY ORACLED by composing the two component oracles: DuckDB
    replays coarse assignment → probe selection → per-subspace encode →
    LUT → ADC top-5 from the same two parquet artifacts."""
    from ..operators.ann import pq_adc_topk, pq_encode_np, select_probes

    emb = load_table(spark, sf_dir, "embeddings")
    normed = unit_vectors(emb)
    indexed, centroids = _ivf_index_cached(spark, sf_dir, emb)
    books = _pq_codebooks_cached(spark, sf_dir, normed)
    qv = get_query_vector(normed, 2, id_col="id", vec_col="nv")
    probe = select_probes(centroids, qv, nprobe=2)
    cand = indexed.filter(F.col("cluster_id").isin(probe)).select("id", "nv")
    return pq_adc_topk(pq_encode_np(cand, books), books, qv, topk=5)


@query(
    "ann_pq_rerank",
    oracle=f"""
WITH cb AS (SELECT subspace, cluster_id, centroid FROM '{_PQ_CODEBOOKS}'),
raw AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
nv AS (
  SELECT vec_id, CASE WHEN nrm = 0 THEN v ELSE list_transform(v, x -> x / nrm) END AS nv
  FROM (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM raw)
),
sub AS (
  SELECT vec_id, s.subspace, nv[s.subspace * 16 + 1 : s.subspace * 16 + 16] AS sv
  FROM nv CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS subspace) s
),
dist AS (
  SELECT vec_id, sub.subspace, cluster_id,
         round(list_sum(list_transform(generate_series(1, 16),
               i -> (sv[i] - centroid[i]) * (sv[i] - centroid[i]))), 6) AS d
  FROM sub JOIN cb ON cb.subspace = sub.subspace
),
codes AS (
  SELECT vec_id, subspace, cluster_id
  FROM (SELECT vec_id, subspace, cluster_id,
               row_number() OVER (PARTITION BY vec_id, subspace
                                  ORDER BY d ASC, cluster_id ASC) AS rk
        FROM dist)
  WHERE rk = 1
),
q AS (SELECT subspace, sv AS qv FROM sub WHERE vec_id = 2),
lut AS (
  SELECT cb.subspace, cb.cluster_id,
         round(list_sum(list_transform(generate_series(1, 16),
               i -> qv[i] * centroid[i])), 6) AS dot
  FROM cb JOIN q USING (subspace)
),
short AS (
  SELECT c.vec_id FROM codes c JOIN lut USING (subspace, cluster_id)
  GROUP BY c.vec_id
  ORDER BY round(sum(dot), 6) DESC, c.vec_id ASC LIMIT 50
),
qfull AS (SELECT nv AS qv FROM nv WHERE vec_id = 2)
SELECT n.vec_id AS id,
       {_cos('n.nv', 'qfull.qv')} AS score
FROM nv n JOIN short USING (vec_id), qfull
ORDER BY score DESC, id ASC LIMIT 5
""",
)
def ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC SHORTLIST + EXACT RERANK — the serving recipe the PQ recall
    gate points at (ann_pq_recall docstring, SCALING.md): the cheap
    ADC lookup scan produces a shortlist of candidate_k = 10×k ids, and
    ONLY those ~50 rows have their raw vectors touched for an exact
    cosine rerank. This is the standard two-stage layout for
    billion-vector serving (FAISS refine / SPANN style): stage 1 never
    reads raw vectors (codes + LUT, TakeOrdered), stage 2 is a
    broadcast semi-join of a 50-row id list against the vector table —
    at 100 TB the rerank reads 50 rows, not the corpus. On the
    quantization-worst-case driver corpus this recovers exact top-5
    whenever the shortlist covers it; on the clustered corpus the
    recipe measures recall 1.0 where the direct ADC top-k reads 0.3
    (tests/test_pq_clustered.py).

    Oracle replays shortlist-then-rerank from the persisted codebook
    parquet; both engines rank on 6dp-rounded scores, ties to smaller
    id."""
    from ..operators.ann import pq_adc_topk, pq_encode_np

    emb = load_table(spark, sf_dir, "embeddings")
    normed = unit_vectors(emb)
    books = _pq_codebooks_cached(spark, sf_dir, normed)
    qv = get_query_vector(normed, 2, id_col="id", vec_col="nv")
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    short = pq_adc_topk(pq_encode_np(normed, books), books, qv, topk=50).select("id")
    return (
        normed.join(F.broadcast(short), "id")
        .select(
            "id", F.round(cosine_similarity(F.col("nv"), qlit), 6).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(5)
    )


N_PLANES = 12
_PLANE = (
    "((('0x' || substr(md5(j::VARCHAR || ',' || i::VARCHAR), 1, 15))::BIGINT % 1000)"
    "::DOUBLE / 1000.0 - 0.5)"
)


def _srp_planes(dim: int) -> list[list[float]]:
    """Deterministic hyperplanes shared with the oracle — see
    operators.ann.srp_planes (md5 formula, bit-identical both engines)."""
    from ..operators.ann import srp_planes

    return srp_planes(dim, N_PLANES)


@query(
    "ann_srp_recall",
    oracle=f"""
WITH planes AS (
  SELECT j, list_transform(generate_series(0, 63), i -> {_PLANE}) AS plane
  FROM generate_series(0, {N_PLANES - 1}) AS g(j)
),
sigs AS (
  SELECT e.vec_id, {_D.format(v='e.embedding')} AS v,
         string_agg(CASE WHEN round(list_dot_product({_D.format(v='e.embedding')}, p.plane), 6) >= 0
                         THEN '1' ELSE '0' END, '' ORDER BY p.j) AS sig
  FROM embeddings e CROSS JOIN planes p
  GROUP BY e.vec_id, {_D.format(v='e.embedding')}
),
q AS (SELECT v AS qv, sig AS qsig FROM sigs WHERE vec_id = 2),
approx AS (
  SELECT s.vec_id FROM sigs s, q WHERE s.sig = q.qsig
  ORDER BY {_cos('s.v', 'q.qv')} DESC, s.vec_id ASC LIMIT 10
),
exact AS (
  SELECT s.vec_id FROM sigs s, q
  ORDER BY {_cos('s.v', 'q.qv')} DESC, s.vec_id ASC LIMIT 10
)
SELECT (SELECT count(*) FROM exact JOIN approx USING (vec_id))::DOUBLE / 10
         AS recall_at_10
""",
)
def ann_srp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the SRP-LSH bucket scan vs exact cosine — closes the
    last gap in 'every ANN strategy ships an ORACLED recall gate' (IVF:
    ann_recall/_sweep; PQ: ann_pq_recall; SRP's recall was previously
    pytest-only). Single-bucket probe recall is the HONEST number the
    12-plane bucketing earns without multiprobe; flipping signature bits
    (Hamming-1 probing, operators/ann.probe_bulk_index) is the knob that
    trades reads for recall when this gate drops."""
    from ..operators.ann import srp_signatures

    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").head()[0])
    planes = _srp_planes(dim)
    sigs = srp_signatures(emb.select("vec_id", "embedding"), planes)
    qv = get_query_vector(emb, 2)
    qbits = (
        np.round(
            np.asarray(qv, dtype=np.float64) @ np.asarray(planes, dtype=np.float64).T,
            6,
        )
        >= 0
    )
    qsig = "".join("1" if b else "0" for b in qbits)
    qlit = F.array(*[F.lit(x) for x in qv])
    score = F.round(cosine_similarity(F.col("embedding"), qlit), 6)
    approx = (
        sigs.filter(F.col("sig") == qsig)
        .select("vec_id", score.alias("s"))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    exact = (
        emb.select("vec_id", score.alias("s"))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    return exact.join(approx, "vec_id").agg(
        (F.count("*").cast("double") / 10).alias("recall_at_10")
    )


@query(
    "ann_srp_lsh",
    oracle=f"""
WITH planes AS (
  SELECT j, list_transform(generate_series(0, 63), i -> {_PLANE}) AS plane
  FROM generate_series(0, {N_PLANES - 1}) AS g(j)
),
sigs AS (
  SELECT e.vec_id, {_D.format(v='e.embedding')} AS v,
         string_agg(CASE WHEN round(list_dot_product({_D.format(v='e.embedding')}, p.plane), 6) >= 0
                         THEN '1' ELSE '0' END, '' ORDER BY p.j) AS sig
  FROM embeddings e CROSS JOIN planes p
  GROUP BY e.vec_id, {_D.format(v='e.embedding')}
),
q AS (SELECT v AS qv, sig AS qsig FROM sigs WHERE vec_id = 2)
SELECT s.vec_id, {_cos('s.v', 'q.qv')} AS score
FROM sigs s, q WHERE s.sig = q.qsig
ORDER BY score DESC, s.vec_id ASC LIMIT 5
""",
)
def ann_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH-bucketed ANN — the third ANN strategy beside brute force
    (the oracle semantics) and IVF: sign of 12 random projections forms
    a bucket key; only the query's bucket is exact-scored.

    Scale shape: the signature is per-row math — ONE numpy BLAS matmul
    per Arrow batch (`srp_signatures`; the round-1 interpreted
    aggregate/zip_with HOF lost ~10× to this, NOTES.md); candidate
    selection is an equi-FILTER on the bucket key, which at rest is the
    table's partition/bucket column, so a probe reads ~n/2¹² of the
    data. Unlike IVF there is no training step (no KMeans); recall tunes
    via plane count and multiprobe (flipping signature bits).
    Deterministic planes via the md5 formula — both engines derive
    bit-identical hyperplanes — and dots are rounded to 6 decimals
    BEFORE the sign on both sides, so a near-zero projection can't flip
    a bucket bit across engines."""
    from ..operators.ann import srp_signatures

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").head()[0])
    planes = _srp_planes(dim)

    sigs = srp_signatures(emb.select("vec_id", "embedding"), planes)

    # query signature driver-side: fetch the query vector via a pushed
    # point-lookup scan, then run the SAME float64 round-then-sign math
    # in driver numpy — no second signature pass over the table (the
    # vec_id filter can't push BELOW mapInPandas)
    import numpy as np

    qv = get_query_vector(emb, 2)
    qbits = np.round(np.asarray(qv, dtype=np.float64) @ np.asarray(planes, dtype=np.float64).T, 6) >= 0
    qsig = "".join("1" if b else "0" for b in qbits)
    qlit = F.array(*[F.lit(x) for x in qv])

    return (
        sigs.filter(F.col("sig") == qsig)
        .select(
            "vec_id",
            F.round(cosine_similarity(F.col("embedding"), qlit), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(5)
    )


@query(
    "embedding_quantize",
    oracle=f"""
WITH v AS (SELECT vec_id, {_D.format(v='embedding')} AS v FROM embeddings),
s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM v
),
q AS (
  SELECT vec_id, scale,
         CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
              ELSE list_transform(v, x -> x - round(x / scale) * scale)
         END AS err
  FROM s
)
SELECT vec_id, round(scale, 6) AS scale,
       round(sqrt(list_sum(list_transform(err, e -> e * e)) / len(err)), 6)
         AS rmse,
       round(list_max(list_transform(err, e -> abs(e))), 6) AS max_err
FROM q
""",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column + reconstruction
    error audit — the storage-side primitive of a vector lake (float32 →
    int8 cuts the index 4×; a 100 TB embedding table becomes 25 TB).

    Per-row symmetric quantization: scale = max|x|/127, q_i =
    round(x_i/scale) ∈ [-127, 127], reconstruction x̂ = q·scale. The
    whole transform is per-row Catalyst array math — zero shuffle, scan
    → project — and the output audits what the compression costs
    (rmse/max_err per vector), which is the gate a pipeline checks
    before switching retrieval to the quantized index. Zero vectors
    quantize to zero exactly (scale=0 guard — ANSI division)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # bind v and scale as COLUMNS in their own projections before the
    # quantization lambda references them: inlining the scale EXPRESSION
    # into the per-element lambda re-evaluates the O(d) array_max per
    # element — O(d²)/row, measured 1.9 s → 0.46 s at sf0.1 (the
    # word_shingles bind-once lesson; identical doubles, oracle-equal)
    pre = emb.select("vec_id", v.alias("v")).select(
        "vec_id",
        "v",
        (F.array_max(F.transform("v", lambda x: F.abs(x))) / F.lit(127.0)).alias(
            "scale"
        ),
    )
    sc = F.col("scale")
    err = F.when(
        sc == 0, F.transform("v", lambda x: F.lit(0.0))
    ).otherwise(
        F.transform("v", lambda x: x - F.round(x / sc) * sc)
    )
    d = pre.select("vec_id", "scale", err.alias("err"))
    sq = F.aggregate(
        F.transform(F.col("err"), lambda e: e * e),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return d.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.round(F.sqrt(sq / F.size("err")), 6).alias("rmse"),
        F.round(
            F.array_max(F.transform(F.col("err"), lambda e: F.abs(e))), 6
        ).alias("max_err"),
    )


# Gram-matrix quantization step: floor(x * 1000) — floor-based (not
# round-based) so numpy, Spark, and DuckDB agree bit-for-bit (round
# splits half-even vs half-away across engines); 1e-3 resolution on
# unit-scale embedding values keeps the spectrum usable for PCA while
# making the reduction INTEGER, i.e. associative — partial sums are
# exact under any partitioning, so the cross-engine hash can't drift
_GRAM_Q = 1000
_GRAM_DIM = 64  # embeddings table dim (TESTDATA.md); UDF fail-fasts on drift


@query(
    "embedding_gram",
    oracle=f"""
WITH q AS (
  SELECT list_transform(embedding, x -> floor(x::DOUBLE * {_GRAM_Q})::BIGINT) AS qv
  FROM embeddings
),
idx AS (SELECT unnest(generate_series(1, {_GRAM_DIM})) AS i),
pairs AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON a.i <= b.i)
SELECT p.i::BIGINT AS i, p.j::BIGINT AS j,
       sum(qv[p.i] * qv[p.j])::BIGINT AS gram
FROM q CROSS JOIN pairs p
GROUP BY p.i, p.j
""",
)
def embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix X'X over the embedding corpus — the PCA /
    covariance substrate (subtract the mean outer product and
    eigendecompose the d x d result on the driver; d is tiny, N is not).
    This is the canonical shape for PCA at 100 TB: ONE pass over the
    corpus, a BLAS rank-k update per Arrow batch (X_b' @ X_b — O(n d^2)
    FLOPs in C, no Python per row), and a shuffle of d(d+1)/2 partial
    rows PER PARTITION ({_GRAM_DIM * (_GRAM_DIM + 1) // 2} x 24 bytes =
    ~50 KB regardless of corpus size), then a tiny final agg. Nothing
    corpus-sized ever moves.

    Entries are integer-quantized (floor(x * {_GRAM_Q})) before the
    product so the reduction is exact integer math — associative, hence
    independent of partitioning and task order, hence oracle-hashable;
    float accumulation order would drift between engines. At this
    quantization |q| <= ~{_GRAM_Q * 10} and int64 partials hold to
    ~1e12 rows per partition; past that, cast the final agg to
    decimal(38,0) (the partial rows stay int64 either way)."""
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    return _gram_table(emb)


def _gram_table(emb: DataFrame, include_sums: bool = False) -> DataFrame:
    """Quantized-integer Gram partials + final agg over an `embedding`
    column. With ``include_sums`` the same single pass also emits the
    per-dimension column sums as (i, j=0) rows — disjoint from the
    i <= j gram rows — so a covariance consumer gets mean AND Gram
    without a second corpus scan."""
    import numpy as np
    import pandas as pd

    def gram_batches(batches):
        iu = np.triu_indices(_GRAM_DIM)
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["embedding"].map(np.asarray).to_numpy()).astype(
                np.float64
            )
            if X.shape[1] != _GRAM_DIM:
                raise ValueError(
                    f"embedding dim {X.shape[1]} != expected {_GRAM_DIM}"
                )
            Q = np.floor(X * _GRAM_Q).astype(np.int64)
            G = Q.T @ Q
            out = {"i": iu[0] + 1, "j": iu[1] + 1, "gram": G[iu]}
            if include_sums:
                d = np.arange(1, _GRAM_DIM + 1)
                out = {
                    "i": np.concatenate([out["i"], d]),
                    "j": np.concatenate([out["j"], np.zeros(_GRAM_DIM, dtype=np.int64)]),
                    "gram": np.concatenate([out["gram"], Q.sum(axis=0)]),
                }
            yield pd.DataFrame(out)

    partials = emb.select("embedding").mapInPandas(
        gram_batches, "i long, j long, gram long"
    )
    return partials.groupBy("i", "j").agg(
        F.sum("gram").cast("long").alias("gram")
    )


_PCA_COMPONENTS = "__PCA_COMPONENTS__"
_PCA_K = 4
tag_artifact(_PCA_COMPONENTS, f"k{_PCA_K}")


def _pca_components_cached(
    spark: SparkSession, sf_dir: str
) -> tuple[list[float], list[list[float]]]:
    """Mean + top-{k} principal components of the L2-NORMALIZED
    embedding corpus, trained from ONE distributed pass (the
    sums+Gram mapInPandas of _gram_table) and a d x d driver-side
    eigendecomposition. Persisted to the corpus-keyed oracle-handoff
    parquet (row pc_id=0 is the mean, 1..k the components) — the file
    IS the cache: the integer-exact Gram makes retraining bit-stable,
    so cold and warm runs produce the identical artifact."""
    tbl = artifacts.persisted_file(
        oracle_artifact_path(_PCA_COMPONENTS, sf_dir),
        lambda: _train_pca(spark, sf_dir),
    )
    by_id = dict(zip(tbl["pc_id"], tbl["vec"]))
    return list(by_id[0]), [list(by_id[k]) for k in range(1, _PCA_K + 1)]


def _train_pca(spark: SparkSession, sf_dir: str) -> pa.Table:
    """(pc_id, vec): row 0 the mean, rows 1..k the components."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    normed = emb.select(l2_normalize(F.col("embedding").cast("array<double>")).alias("embedding"))
    rows = _gram_table(normed, include_sums=True).collect()
    n = load_table(spark, sf_dir, "embeddings").count()
    G = np.zeros((_GRAM_DIM, _GRAM_DIM), dtype=np.float64)
    s = np.zeros(_GRAM_DIM, dtype=np.float64)
    for r in rows:
        if r["j"] == 0:
            s[r["i"] - 1] = r["gram"]
        else:
            G[r["i"] - 1, r["j"] - 1] = r["gram"]
            G[r["j"] - 1, r["i"] - 1] = r["gram"]
    # de-quantize: C = E[xx'] - mm' over the normalized corpus
    m = s / (_GRAM_Q * n)
    C = G / (_GRAM_Q * _GRAM_Q * n) - np.outer(m, m)
    vals, vecs = np.linalg.eigh(C)
    comps = []
    for k in range(1, _PCA_K + 1):
        v = vecs[:, -k]
        if v[int(np.argmax(np.abs(v)))] < 0:  # canonical sign
            v = -v
        comps.append([float(x) for x in v])

    rows_vec = [[float(x) for x in m]] + comps
    return pa.table(
        {
            "pc_id": pa.array(range(_PCA_K + 1), type=pa.int64()),
            "vec": pa.array(rows_vec, type=pa.list_(pa.float64())),
        }
    )


@query(
    "embedding_pca_project",
    oracle=f"""
WITH pc AS (SELECT pc_id, vec FROM '{_PCA_COMPONENTS}'),
raw AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
nv AS (
  SELECT vec_id, CASE WHEN nrm = 0 THEN v ELSE list_transform(v, x -> x / nrm) END AS nv
  FROM (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM raw)
),
ctr AS (
  SELECT vec_id, list_transform(generate_series(1, {_GRAM_DIM}),
                                i -> nv[i] - m.vec[i]) AS cv
  FROM nv, (SELECT vec FROM pc WHERE pc_id = 0) m
),
proj AS (
  SELECT vec_id, pc_id,
         round(list_sum(list_transform(generate_series(1, {_GRAM_DIM}),
                                       i -> cv[i] * pc.vec[i])), 6) AS p
  FROM ctr CROSS JOIN pc
  WHERE pc_id > 0
)
SELECT vec_id,
       max(CASE WHEN pc_id = 1 THEN p END) AS p1,
       max(CASE WHEN pc_id = 2 THEN p END) AS p2,
       max(CASE WHEN pc_id = 3 THEN p END) AS p3,
       max(CASE WHEN pc_id = 4 THEN p END) AS p4
FROM proj GROUP BY vec_id
""",
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of every embedding onto the corpus's top
    {_PCA_K} principal directions — the standard dimensionality step
    before visualization, whitening, or cheap prefiltering, and the
    consumer of embedding_gram's one-pass substrate.

    The split of labor is the 100 TB shape: TRAINING is one
    distributed pass (sums + Gram from the same mapInPandas — see
    _gram_table(include_sums=True)) plus an eigendecomposition of a
    {_GRAM_DIM}x{_GRAM_DIM} matrix on the driver (microseconds; the
    collect is 2,080 rows — reduction output, not data). PROJECTION is
    a zero-shuffle scan: the k+1 trained vectors come back as array
    LITERALS inside whole-stage-codegen expressions (center with
    zip_with, dot with a fixed-order fold) — no join, no Python in the
    per-row path. FULLY ORACLED via the persisted component parquet
    (the ann_ivf_kmeans handoff pattern): DuckDB replays normalize →
    center → project from the same artifact; both engines fold the
    {_GRAM_DIM} products in array order in double, then round to 6dp.
    Eigenvector signs are canonicalized (largest-|coord| positive), and
    the integer-exact Gram makes the trained artifact bit-stable across
    reruns and partitionings."""
    mean, comps = _pca_components_cached(spark, sf_dir)

    emb = load_table(spark, sf_dir, "embeddings")
    nv = l2_normalize(F.col("embedding").cast("array<double>"))
    # F.lit(list) → ONE array-literal node; F.array(*64 lits) costs ~325
    # expression nodes across the 5 vectors and dominated wall at toy
    # scale (analysis time, 2.9 s -> ~1 s; execution is unchanged)
    m_lit = F.lit(mean)
    centered = F.zip_with(nv, m_lit, lambda a, b: a - b)
    cols = []
    for k, comp in enumerate(comps, start=1):
        c_lit = F.lit(comp)
        dot_ = F.aggregate(
            F.zip_with(centered, c_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append(F.round(dot_, 6).alias(f"p{k}"))
    return emb.select("vec_id", *cols)
