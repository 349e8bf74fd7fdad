"""KMeans-IVF approximate nearest-neighbor index (the 100 TB ANN path).

The reference's retrieval is exact brute force — the full index
materialized in RAM per query (vectordb.py:203-208, an anti-pattern at
any scale, SURVEY §4.1). The scale path (SURVEY §4.3.4): cluster the
corpus with k-means, store cluster_id as a PARTITION column, and serve
a query by probing only the nprobe nearest clusters — partition pruning
does the index's job. Exact scoring stays the recall oracle
(`ann_recall` pattern, BASELINE.md §2).

Design notes:
- vectors are L2-normalized BEFORE clustering so k-means' euclidean
  objective orders like cosine (‖a−b‖² = 2−2·cos on unit vectors);
- quantizers (IVF centroids, PQ codebooks) train on the driver from a
  bounded sample of at most 256 rows per centroid, taken in
  md5(seed|id) order, with first-k-distinct init and float64 Lloyd —
  one Spark job at any corpus size, and replayable outside the JVM;
- the stored index is always the rounded-argmin assignment to the
  persisted centroids/codebooks, which the SQL oracles replay;
- the centroid table is tiny (k × dim) → broadcast to rank clusters.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.hashing import md5_long
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
    The centroids are trained on the driver from a bounded sample
    (``_training_sample``, ``_train_kmeans``), so the corpus is scanned
    twice at any size: once for the sample, once for the assignment.
    Assignment uses the rounded-argmin formula (``assign_clusters_np``),
    not the trainer's last assignment, so the stored index is exactly
    replayable by a SQL oracle from the persisted centroid table.
    Production writes the DataFrame ``partitionBy('cluster_id')``.
    """
    normed = unit_vectors(emb, id_col, vec_col)
    centroids = train_ivf_centroids(normed, k, seed, max_iter)
    indexed = assign_clusters_np(normed, centroids).localCheckpoint(eager=True)
    return indexed, centroids


def unit_vectors(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, nv): each vector L2-normalized as array<double>."""
    return emb.select(
        F.col(id_col).alias("id"),
        l2_normalize(F.col(vec_col).cast("array<double>")).alias("nv"),
    )


def train_ivf_centroids(
    normed: DataFrame, k: int, seed: int = 42, max_iter: int = 8
) -> list[list[float]]:
    """The k IVF centroids of the unit vectors ``normed`` (id, nv),
    trained on the driver from the bounded md5-ordered sample."""
    sample = _training_sample(normed, k * _SAMPLE_PER_CENTROID, seed)
    return _train_kmeans(sample, k, max_iter).tolist()


#: training rows per centroid — FAISS's cap for its coarse quantizers:
#: more points barely move the centroids, and the sample bounds the
#: driver-side training cost at any corpus size
_SAMPLE_PER_CENTROID = 256


def _training_sample(normed: DataFrame, n: int, seed: int) -> np.ndarray:
    """The ``n`` rows of (id, nv) with the smallest
    ``md5_long(concat_ws('|', seed, id))``, ties to the smaller id, as a
    float64 matrix in that order: one TakeOrderedAndProject job. The
    sample depends only on the ids and the seed — not on partitioning —
    so hashlib or DuckDB can replay it."""
    import pyarrow.compute as pc

    key = md5_long(F.concat_ws("|", F.lit(str(seed)), F.col("id").cast("string")))
    nv = normed.orderBy(key, "id").select("nv").limit(n).toArrow().column("nv")
    if nv.null_count or len(set(pc.list_value_length(nv).to_pylist())) != 1:
        raise ValueError("training needs one or more non-null vectors of one width")
    return np.asarray(pc.list_flatten(nv), dtype=np.float64).reshape(len(nv), -1)


def _train_kmeans(x: np.ndarray, k: int, max_iter: int = 8) -> np.ndarray:
    """Lloyd's k-means on the rows of ``x`` → (k, dim) float64 centroids.

    Init is the first k DISTINCT rows in sample order; with fewer
    distinct rows, the earliest ones repeat so there are still k
    centroids. Each round assigns every row to the argmin of
    ``‖c‖² − 2·x·cᵀ`` (ties to the smaller index) and moves each
    centroid to its members' mean; an empty cluster keeps its centroid.
    Stops after ``max_iter`` rounds or once the assignment repeats."""
    _, first = np.unique(x, axis=0, return_index=True)
    cent = x[np.resize(np.sort(first)[:k], k)].copy()
    assign = None
    for _ in range(max_iter):
        a = np.argmin((cent * cent).sum(axis=1) - 2.0 * (x @ cent.T), axis=1)
        if assign is not None and np.array_equal(a, assign):
            break
        assign = a
        counts = np.bincount(a, minlength=k)
        sums = np.zeros_like(cent)
        np.add.at(sums, a, x)
        hit = counts > 0
        cent[hit] = sums[hit] / counts[hit, None]
    return cent


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
    """Train one codebook per subspace on the sliced unit vectors.
    Returns codebooks[m][ksub][dsub]. One bounded sample of ``ksub *
    256`` rows (``_training_sample``) is sliced for every subspace and
    each slice trained by ``_train_kmeans`` on the driver — one Spark
    job in all. Encoding stays ``pq_encode_np``'s rounded argmin, which
    the SQL oracles replay from the persisted codebooks."""
    sample = _training_sample(normed, ksub * _SAMPLE_PER_CENTROID, seed)
    dim = sample.shape[1]
    # fail fast: trailing dims would be silently DROPPED by the slicing
    # below, and the SQL oracles hardcode the subspace width — a
    # non-divisible corpus must error, not quietly diverge cross-engine
    assert dim % m == 0, f"dim {dim} not divisible by m={m} subspaces"
    dsub = dim // m
    return [
        _train_kmeans(sample[:, s * dsub : (s + 1) * dsub], ksub).tolist()
        for s in range(m)
    ]


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
