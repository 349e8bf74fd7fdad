"""KMeans-IVF approximate nearest-neighbor index (the 100 TB ANN path).

The reference's retrieval is exact brute force — the full index
materialized in RAM per query (vectordb.py:203-208, an anti-pattern at
any scale, SURVEY §4.1). The scale path (SURVEY §4.3.4): cluster the
corpus with KMeans (spark.ml), store cluster_id as a PARTITION column,
and serve a query by probing only the nprobe nearest clusters —
partition pruning does the index's job. Exact scoring stays the recall
oracle (`ann_recall` pattern, BASELINE.md §2).

Design notes:
- vectors are L2-normalized BEFORE clustering so KMeans' euclidean
  objective orders like cosine (‖a−b‖² = 2−2·cos on unit vectors);
- the centroid table is tiny (k × dim) → broadcast to rank clusters;
- seeded KMeans keeps index builds reproducible (the engine-wide
  determinism rule).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.vector import cosine_similarity, l2_normalize


def assign_clusters_np(
    df: DataFrame,
    centroids: list[list[float]],
) -> DataFrame:
    """Nearest-centroid assignment, one numpy pass per Arrow batch (the
    srp_signatures lesson: higher-order Catalyst folds are interpreted —
    BLAS is ~10× faster on wide vectors): squared euclidean distances
    rounded to 6 decimals, argmin with ties to the smaller cluster_id —
    the formula the SQL oracle replays from the persisted centroid
    table. (Round-3 review note: a pure-expression variant existed and
    was deleted as dead code; the rounding-mode caveat — np.round is
    half-even, SQL round is half-away — only bites at exact half-ulp
    boundaries, the same measure-zero risk every rounded comparison in
    the engine accepts.) Input (id, nv); output (id, nv, cluster_id)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    cents = [np.asarray(c, dtype=np.float64) for c in centroids]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(cluster_id=pd.Series([], dtype="int64"))
                continue
            m = np.array(list(pdf["nv"]), dtype=np.float64)
            d = np.stack([((m - c) ** 2).sum(axis=1) for c in cents], axis=1)
            pdf = pdf.assign(cluster_id=np.argmin(np.round(d, 6), axis=1))
            yield pdf

    return df.mapInPandas(run, schema="id long, nv array<double>, cluster_id long")


def build_ivf_index(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 8,
) -> tuple[DataFrame, list[list[float]]]:
    """Cluster → (indexed rows with cluster_id, centroid list).

    Returns the indexed DataFrame (id, nv unit vector, cluster_id) and
    the k centroids as plain python lists (driver-side — k×dim floats).
    Production writes the DataFrame ``partitionBy('cluster_id')``.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    normed = emb.select(
        F.col(id_col).alias("id"),
        l2_normalize(F.col(vec_col).cast("array<double>")).alias("nv"),
    )
    # cache: KMeans scans its input once per iteration — uncached, every
    # iteration would re-run the normalize + vector conversion subtree
    feats = normed.withColumn("features", array_to_vector("nv")).cache()
    try:
        # a coarse quantizer doesn't need tight convergence: recall comes
        # from nprobe, not centroid precision — cap the iterations and
        # use random init (k-means|| adds ~5 extra distributed passes
        # for centroid quality the probe doesn't need)
        model = KMeans(
            k=k,
            seed=seed,
            maxIter=max_iter,
            initMode="random",
            featuresCol="features",
        ).fit(feats)
        centroids = [[float(x) for x in c] for c in model.clusterCenters()]
        # assignment via the rounded-argmin formula (not model.transform)
        # so the stored index is exactly replayable by a SQL oracle from
        # the persisted centroid table — see assign_clusters(_np)
        indexed = (
            assign_clusters_np(feats.select("id", "nv"), centroids)
            .localCheckpoint(eager=True)  # freeze assignments, release the cache
        )
    finally:
        feats.unpersist()
    return indexed, centroids


def select_probes(
    centroids: list[list[float]], query_vec: list[float], nprobe: int
) -> list[int]:
    """The probe-selection convention, in ONE place (probe_ivf and the
    IVFADC query both rank clusters this way): cosine against each
    centroid rounded to 6dp BEFORE ranking — the engine-wide score
    convention, so a SQL oracle ordering by round(cosine, 6) picks the
    same probe set — ties to the smaller cluster id."""
    import math

    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    q = [x / qn for x in query_vec]

    def cos(c: list[float]) -> float:
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        return round(sum(a * b for a, b in zip(c, q)) / cn, 6)

    ranked = sorted(range(len(centroids)), key=lambda i: (-cos(centroids[i]), i))
    return ranked[:nprobe]


def probe_ivf(
    indexed: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    nprobe: int,
    topk: int,
) -> DataFrame:
    """Probe the nprobe cosine-nearest clusters, exact-score inside them.

    The cluster filter is an `isin` on the partition column — partition
    pruning on a partitioned index; everything else never gets read.
    """
    import math

    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    q = [x / qn for x in query_vec]
    probe = select_probes(centroids, query_vec, nprobe)

    qlit = F.array(*[F.lit(x) for x in q])
    return (
        indexed.filter(F.col("cluster_id").isin(probe))
        .select(
            "id",
            # cast AFTER the pruning filter: a parquet-partitioned index
            # infers cluster_id as int; the catalog schema is long
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.round(cosine_similarity(F.col("nv"), qlit), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(topk)
    )


def persist_centroids(centroids: list[list[float]], path: str) -> str:
    """Write the (tiny, k × dim) centroid table to ONE parquet file —
    the stored half of the IVF index. Production writes it next to the
    partitioned vector table; an external engine (here: the DuckDB
    oracle) can then replay assignment + probe from it. Atomic replace
    so a concurrent reader never sees a torn file."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    tbl = pa.table(
        {
            "cluster_id": pa.array(range(len(centroids)), type=pa.int64()),
            "centroid": pa.array(centroids, type=pa.list_(pa.float64())),
        }
    )
    tmp = f"{path}.tmp-{os.getpid()}"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)
    return path


def srp_planes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (j, i) =
    (md5('j,i') % 1000)/1000 - 0.5 — the same formula a SQL oracle can
    compute, so any engine derives bit-identical planes."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{j},{i}".encode()).hexdigest()[:15], 16) % 1000)
            / 1000.0
            - 0.5
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]


def srp_signatures(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "sig",
) -> DataFrame:
    """Signed-random-projection bucket signatures via one Arrow-batched
    BLAS matmul per batch: ``sign(round(M @ Pᵀ, 6))`` → bit string.

    Replaces the round-1 per-plane ``aggregate``/``zip_with`` expression:
    higher-order array functions are INTERPRETED (no codegen) and
    measured ~10× slower than one numpy matmul per Arrow batch (the
    `embedding_neardup` BLAS lesson, NOTES.md). The dot products are
    rounded to 6 decimals BEFORE taking the sign — the engine-wide score
    convention — so a projection landing within 1 ulp of 0 can never
    round to opposite signs across engines and flip a bucket key.

    Zero shuffle: the signature is per-row math; at rest it is the
    table's partition/bucket column.
    """
    import numpy as np
    from pyspark.sql.types import StringType, StructField, StructType

    P = np.asarray(planes, dtype=np.float64)
    schema = StructType(list(df.schema.fields) + [StructField(out_col, StringType())])

    def run(batches):
        for pdf in batches:
            if len(pdf):
                M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                bits = np.round(M @ P.T, 6) >= 0
                sig = ["".join("1" if b else "0" for b in row) for row in bits]
            else:
                sig = []
            yield pdf.assign(**{out_col: sig})

    return df.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# Product quantization (the memory-scale path BEYOND IVF: 64 float32 dims
# → m one-byte codes; at 100 TB of vectors the codes table is ~16× smaller
# than the float corpus and ADC scoring never touches the raw vectors)
# ---------------------------------------------------------------------------

PQ_SUBSPACES = 4  # m: 64 dims → 4 × 16-dim subspaces
PQ_KSUB = 16  # codebook entries per subspace (4-bit codes here)


def build_pq_codebooks(
    normed: DataFrame, m: int = PQ_SUBSPACES, ksub: int = PQ_KSUB, seed: int = 42
) -> list[list[list[float]]]:
    """Train one seeded KMeans per subspace on the sliced unit vectors.
    Returns codebooks[m][ksub][dsub]. Same coarse-quantizer stance as
    build_ivf_index: random init, capped iterations — code quality comes
    from m×ksub resolution, not centroid convergence."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(normed.select("nv").head()[0])
    # fail fast: trailing dims would be silently DROPPED by the slicing
    # below, and the SQL oracles hardcode the subspace width — a
    # non-divisible corpus must error, not quietly diverge cross-engine
    assert dim % m == 0, f"dim {dim} not divisible by m={m} subspaces"
    dsub = dim // m
    books: list[list[list[float]]] = []
    sliced = normed.select(
        "id",
        *[
            F.slice("nv", s * dsub + 1, dsub).alias(f"sub{s}")
            for s in range(m)
        ],
    ).cache()
    try:
        for s in range(m):
            feats = sliced.select(array_to_vector(f"sub{s}").alias("features"))
            model = KMeans(
                k=ksub,
                seed=seed + s,
                maxIter=8,
                initMode="random",
                featuresCol="features",
            ).fit(feats)
            books.append([[float(x) for x in c] for c in model.clusterCenters()])
    finally:
        sliced.unpersist()
    return books


def pq_encode_np(df: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """Encode (id, nv) → (id, codes array<long>): per subspace, argmin of
    6dp-rounded squared distance to the codebook entries, ties to the
    smaller code — the assign_clusters_np formula per slice, replayable
    in SQL from the persisted codebook table. One numpy pass per Arrow
    batch; at rest the codes table is the index."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    cents = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(cents)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"id": [], "codes": []})
                continue
            M = np.array(list(pdf["nv"]), dtype=np.float64)
            assert M.shape[1] % m == 0, (
                f"dim {M.shape[1]} not divisible by m={m} subspaces"
            )
            dsub = M.shape[1] // m
            codes = np.empty((len(pdf), m), dtype=np.int64)
            for s in range(m):
                sub = M[:, s * dsub : (s + 1) * dsub]
                d = np.stack(
                    [((sub - c) ** 2).sum(axis=1) for c in cents[s]], axis=1
                )
                codes[:, s] = np.argmin(np.round(d, 6), axis=1)
            yield pd.DataFrame({"id": pdf["id"], "codes": list(codes)})

    return df.mapInPandas(run, schema="id long, codes array<long>")


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    topk: int = 5,
) -> DataFrame:
    """Asymmetric distance computation: precompute the m×ksub table of
    6dp-rounded dots between the query's subvectors and every codeword
    (driver-side — it is tiny), then every row's approximate cosine is m
    table lookups summed, rounded to 6dp. No raw vectors touched: this
    is the scan shape PQ exists for. Returns exact top-k over the
    approximate scores (TakeOrdered — never a full sort)."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    m = len(codebooks)
    dsub = len(q) // m
    lut = [
        [
            round(float(np.dot(q[s * dsub : (s + 1) * dsub], c)), 6)
            for c in codebooks[s]
        ]
        for s in range(m)
    ]
    lut_col = F.array(*[F.array(*[F.lit(v) for v in row]) for row in lut])
    score = F.round(
        F.aggregate(
            F.zip_with(
                F.col("codes"),
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda c, s: F.element_at(
                    F.element_at(F.col("_lut"), s + 1), c.cast("int") + 1
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    return (
        codes.withColumn("_lut", lut_col)
        .select("id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(topk)
    )
