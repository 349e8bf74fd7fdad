"""The full training-data corpus pipeline as ONE composed DAG.

Every stage is an operator the catalog already verifies in isolation;
this query chains them the way a real 100 TB data-curation run does —
quality filter → near-dup dedup (keep-rule) → chunk → embed — and
returns the funnel accounting. The DuckDB oracle replays the identical
chain, so the END-TO-END composition is hash-checked cross-engine, not
just the pieces.

Scale shape of the composition: quality scoring and chunk/embed are
scan-parallel (no shuffle); the only shuffles are the dedup keep-rule's
two linear aggregations over the signature table (SCALING.md) and the
final 1-row summary. Catalyst fuses the per-row stages into the same
scan; nothing materializes between stages.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.hashing import md5_long
from ..functions.rounding import half_up_ratio_nonneg
from ..functions.text import tokens
from ..loops import pin, release
from ..operators.chunker import chunk_documents
from ..tables import fan_out, load_table
from .catalog import query
from .dedup_queries import _MH_P, _minhash_bands_from

_TOKS = r"list_filter(string_split_regex({t}, '\s+'), x -> x <> '')"
_MD5L = "(('0x' || substr(md5({e}), 1, 15))::BIGINT)"
_STOP_SQL = "('the','a','of','and','to','in','is','it')"
_STOP = ("the", "a", "of", "and", "to", "in", "is", "it")

MIN_QUALITY = 0.15
# quality blend = (100p + qm)/(200q) is a ratio of integers: threshold
# in exact half-up units (functions/rounding.py, round 5)
_MIN_QUALITY_U = int(round(MIN_QUALITY * 1_000_000))
CHUNK_BYTES = 120
EMBED_DIM = 8

# the oracle replays _BANDS_CTE_TMPL's signature math over survivors of
# the quality stage (src = the quality-filtered CTE, not raw documents)
from .dedup_queries import BAND_SIZE, N_PERMS  # noqa: E402

_BANDS_OVER_QUALIFIED = f"""
t AS (
  SELECT doc_id,
         list_transform({_TOKS.format(t='text')}, tk -> {_MD5L.format(e='tk')} % {_MH_P})
           AS bases
  FROM qualified
),
tnz AS (SELECT * FROM t WHERE len(bases) > 0),
bands AS (
  SELECT doc_id, b.band,
         array_to_string(
           list_transform(generate_series(b.band * {BAND_SIZE},
                                          b.band * {BAND_SIZE} + {BAND_SIZE - 1}),
             p -> list_min(list_transform(bases,
                    x -> ((1 + 2 * p) * x + 7919 * p) % {_MH_P}))::VARCHAR),
           ',') AS sig
  FROM tnz CROSS JOIN (SELECT unnest(generate_series(0, {N_PERMS // BAND_SIZE - 1})) AS band) b
)"""


@query(
    "corpus_pipeline",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, text, n,
         (floor((2 * ((100 * p + q * m) * 1000000) + (200 * q)) / (2.0 * ((200 * q))))::BIGINT) AS quality_u
  FROM (
    SELECT doc_id, text, len({_TOKS.format(t='text')}) AS n,
           greatest(len({_TOKS.format(t='text')}), 1)::BIGINT AS q,
           len(list_filter({_TOKS.format(t='text')},
                           x -> x IN {_STOP_SQL}))::BIGINT AS p,
           least(len({_TOKS.format(t='text')}), 100)::BIGINT AS m
    FROM documents
  )
),
qualified AS (
  SELECT doc_id, text FROM scored WHERE n > 0 AND quality_u >= {_MIN_QUALITY_U}
),
{_BANDS_OVER_QUALIFIED},
bucket_min AS (SELECT band, sig, min(doc_id) AS bmin FROM bands GROUP BY band, sig),
canon AS (
  SELECT b.doc_id, min(m.bmin) AS canon_id
  FROM bands b JOIN bucket_min m ON b.band = m.band AND b.sig = m.sig
  GROUP BY b.doc_id
),
survivors AS (
  SELECT q.doc_id, q.text FROM qualified q
  JOIN canon c ON c.doc_id = q.doc_id AND c.canon_id = q.doc_id
),
-- chunk: recursive bisection over the word-derived line axis
lines AS (
  SELECT doc_id, string_split(replace(text, ' ', chr(10)), chr(10)) AS ls FROM survivors
),
chunks AS (
  WITH RECURSIVE spans AS (
    SELECT doc_id, 0 AS s, len(ls) AS e FROM lines
    UNION ALL
    SELECT sp.doc_id,
           CASE WHEN h.half = 0 THEN sp.s ELSE sp.s + ((sp.e - sp.s) // 2) END,
           CASE WHEN h.half = 0 THEN sp.s + ((sp.e - sp.s) // 2) ELSE sp.e END
    FROM spans sp JOIN lines b USING (doc_id)
    CROSS JOIN (SELECT unnest([0, 1]) AS half) h
    WHERE sp.e - sp.s > 1
      AND strlen(array_to_string(b.ls[sp.s + 1 : sp.e], chr(10))) > {CHUNK_BYTES}
  )
  SELECT sp.doc_id, sp.s, sp.e,
         array_to_string(b.ls[sp.s + 1 : sp.e], chr(10)) AS content
  FROM spans sp JOIN lines b USING (doc_id)
  WHERE sp.e - sp.s <= 1
     OR strlen(array_to_string(b.ls[sp.s + 1 : sp.e], chr(10))) <= {CHUNK_BYTES}
),
embedded AS (
  SELECT doc_id, s, e,
         list_transform(generate_series(0, {EMBED_DIM - 1}),
           i -> (({_MD5L.format(e="i::VARCHAR || '|' || content")}) % 1000)::DOUBLE
                / 1000.0 - 0.5) AS raw
  FROM chunks
)
SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs_in,
       (SELECT count(*) FROM qualified)::BIGINT AS n_qualified,
       (SELECT count(*) FROM survivors)::BIGINT AS n_survivors,
       (SELECT count(*) FROM chunks)::BIGINT AS n_chunks,
       (SELECT count(*) FROM embedded)::BIGINT AS n_vectors,
       (SELECT round(sum(sqrt(list_sum(list_transform(raw, x -> x * x)))), 4)
        FROM embedded) AS sum_raw_norms
""",
)
def corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality filter → LSH keep-rule dedup → chunk → embed, one DAG,
    with funnel accounting (docs in → qualified → dedup survivors →
    chunks → vectors + a checksum over raw embedding norms). The oracle
    replays the entire chain in SQL — composition verified end-to-end.

    Single pass: the funnel counts are Observation metrics on one
    chain, not separate aggregation branches. The qualified set is the
    fork point (band build AND keep-rule join), so it is pinned once
    with the docs-in and qualified counts on that action; the band table
    is pinned too (the bucket-min join reads it twice). Every later count
    rides the one final aggregation, and both pins are released once it
    has run. The result row is assembled driver-side and every call
    recomputes from the inputs."""
    from pyspark.sql import Observation

    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")

    toks = tokens(F.col("text"))
    n = F.size(toks)
    p = F.size(F.filter(toks, lambda x: x.isin(*_STOP))).cast("long")
    q = F.greatest(n, F.lit(1)).cast("long")
    m = F.least(n, F.lit(100)).cast("long")
    quality_u = half_up_ratio_nonneg(
        ((F.lit(100) * p + q * m) * F.lit(1_000_000)).cast("long"),
        (F.lit(200) * q).cast("long"),
    )
    obs_docs = Observation()
    qualified, counts = pin(
        docs.observe(obs_docs, F.count(F.lit(1)).alias("n"))
        .withColumn("quality_u", quality_u)
        .filter((n > 0) & (F.col("quality_u") >= _MIN_QUALITY_U))
        .select("doc_id", "text"),
        n=F.count(F.lit(1)),
    )
    n_docs_in = int(obs_docs.get["n"])
    n_qualified = int(counts["n"])

    bands, _ = pin(_minhash_bands_from(qualified))
    bucket_min = bands.groupBy("band", "sig").agg(F.min("doc_id").alias("bmin"))
    canon = (
        bands.join(bucket_min, ["band", "sig"])
        .groupBy("doc_id")
        .agg(F.min("bmin").alias("canon_id"))
    )
    obs_s = Observation()
    survivors = qualified.join(
        canon.filter(F.col("doc_id") == F.col("canon_id")).select("doc_id"), "doc_id"
    ).observe(obs_s, F.count(F.lit(1)).alias("n"))

    lines = survivors.select(
        "doc_id", F.array_join(F.split("text", " "), "\n").alias("text")
    )
    chunks = chunk_documents(lines, CHUNK_BYTES, include_content=True)
    # checksum over RAW norms (hash_embed_expr normalizes away magnitude,
    # so the checksum uses the pre-normalization components — same md5
    # math as hash_embed_expr / the oracle)
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(EMBED_DIM - 1)),
        lambda i: (
            md5_long(F.concat_ws("|", i.cast("string"), F.col("content"))) % 1000
        ).cast("double")
        / 1000.0
        - 0.5,
    )
    raw_norm = F.sqrt(F.aggregate(raw, F.lit(0.0), lambda a, x: a + x * x))
    embedded = chunks.select("doc_id", raw_norm.alias("rn"))

    # ONE action runs survivors → chunks → embed exactly once; the
    # survivor count was collected by its CollectMetrics node on the
    # same pass (chunks and vectors are 1:1 by construction — one
    # embedding per chunk — so the final agg's count serves both, as
    # the oracle's identical `chunks`/`embedded` counts do)
    tail = embedded.agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.round(F.sum("rn"), 4).alias("sum_raw_norms"),
    ).head()
    n_survivors = int(obs_s.get["n"])
    release(qualified, bands)
    return spark.createDataFrame(
        [
            (
                n_docs_in,
                n_qualified,
                n_survivors,
                int(tail["n_vectors"]),
                int(tail["n_vectors"]),
                tail["sum_raw_norms"],
            )
        ],
        "n_docs_in long, n_qualified long, n_survivors long, n_chunks long, "
        "n_vectors long, sum_raw_norms double",
    )
