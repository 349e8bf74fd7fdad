"""Pipeline-surface queries: sources, provider embedding, streaming.

These exercise the engine's ingestion/pipeline modules through the same
oracle gate as the relational catalog:

- ``source_router`` — the S21 unified reader dispatch (reference
  reader.py:766-1032) routing a parquet documents table into the
  canonical (path, content) shape;
- ``provider_embedding`` — the E1 ``mapInPandas`` provider-call path
  (reference embeddings.py:156-258) with a deterministic fake provider;
  proves the Arrow-batched UDF path produces bit-identical results to
  the pure-Catalyst expression AND the DuckDB oracle;
- ``sessionize_stream`` — the §2.13 Structured Streaming extension:
  ``session_window`` gap sessions with a watermark, drained with
  ``availableNow`` and compared against plain gap-session SQL. The
  stream and the oracle agree because session_window's merge rule
  (windows overlap ⇔ delta < gap) equals the SQL rule
  ``new session iff ts - lag(ts) >= gap``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.embedding import hash_provider_8, provider_embed
from ..sources.readers import read_any_path
from ..streaming.drain import drain_memory
from ..streaming.joins import attribution_join, stream_dedup
from ..streaming.sessionize import (
    sessionize_stream,
    stream_events_from_dir,
    windowed_counts_stream,
)
from ..streaming.stateful import funnel_states
from ..tables import load_table
from .catalog import query

_MD5L = "(('0x' || substr(md5({e}), 1, 15))::BIGINT)"


@query(
    "source_router",
    oracle="""
SELECT source AS path, text AS content FROM documents
""",
)
def source_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S21 prefix/suffix reader dispatch: any spec → documents(path,
    content). Here the spec is the parquet documents table; the router
    normalizes its columns (source→path, text→content). Pure projection
    — Catalyst prunes the scan to the two columns read."""
    return read_any_path(spark, f"{sf_dir}/documents.parquet")


@query(
    "provider_embedding",
    oracle=f"""
WITH h AS (
  SELECT doc_id,
         list_transform(generate_series(0, 7),
           i -> (({_MD5L.format(e="i::VARCHAR || '|' || text")}) % 1000)::DOUBLE / 1000.0 - 0.5)
           AS raw
  FROM documents
),
n AS (SELECT doc_id, raw, sqrt(list_sum(list_transform(raw, x -> x * x))) AS nrm FROM h)
SELECT doc_id,
       round(raw[1] / nrm, 6) AS c0,
       round(raw[2] / nrm, 6) AS c1,
       round(sqrt(list_sum(list_transform(list_transform(raw, x -> x / nrm), y -> y * y))), 6)
         AS unit_norm
FROM n
""",
)
def provider_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 provider-backed embedding through the Arrow-batched
    ``mapInPandas`` path (operators/embedding.py provider_embed) with a
    deterministic fake provider. Same oracle as ``hash_embedding`` (the
    pure-expression path): UDF path ≡ expression path ≡ DuckDB, which is
    exactly the invariant a provider swap must preserve (truncate +
    L2-normalize applied JVM-side either way, vectordb.py:81-86)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("content")
    )
    emb = provider_embed(docs, hash_provider_8, dim=8)
    v = F.col("vector")
    unit = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, y: a + y.cast("double") * y))
    return emb.select(
        "doc_id",
        F.round(F.element_at(v, 1), 6).alias("c0"),
        F.round(F.element_at(v, 2), 6).alias("c1"),
        F.round(unit, 6).alias("unit_norm"),
    )


def _deterministic_fetch(url: str) -> tuple[int, str]:
    """Injected transport for the cached-fetch query: no network in this
    environment, so the body is a deterministic md5 derivation — the
    same expression DuckDB replays (sources/fanout.py module docstring)."""
    import hashlib

    return 200, "fetched|" + hashlib.md5(url.encode("utf-8")).hexdigest()


@query(
    "cached_fetch",
    oracle="""
SELECT 'doc://' || doc_id::VARCHAR AS url,
       200 AS status,
       (CASE WHEN doc_id % 2 = 0 THEN 'seeded|' ELSE 'fetched|' END)
         || md5('doc://' || doc_id::VARCHAR) AS content,
       CASE WHEN doc_id % 2 = 0 THEN 'cache' ELSE 'fetch' END AS served_from
FROM documents WHERE doc_id < 256
""",
)
def cached_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 cached-source read-through (reference reader.py:157-175
    ``@enable_cache`` memoization around expensive fetchers), composed
    from the KV cache table (operators/kvcache.py) + the injected-
    transport fan-out (sources/fanout.py fetch_urls_cached): a LEFT-ANTI
    join on the cache key splits specs into hits and misses, only the
    misses run the fetch stage, and the fresh bodies are upserted so a
    rerun fetches zero (tests/test_cached_fetch.py counts transport
    calls with an accumulator).

    For the oracle the cache is RESET and seeded deterministically each
    run (even doc_ids cached, odd ones cold), so both engines can state
    the exact post-read-through table: even → seeded body served from
    cache, odd → fetched body. The deterministic-md5 bodies make the
    whole composite — seed, split, fetch, union — hash-checkable."""
    import hashlib
    import os
    import shutil

    from ..operators.kvcache import KVCache
    from ..sources.fanout import fetch_urls_cached

    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|cachedfetch_v1".encode()
    ).hexdigest()[:16]
    root = os.path.join("/tmp/spark_graft_cachedfetch", key)
    shutil.rmtree(root, ignore_errors=True)
    cache = KVCache(spark, root)

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 256)
    urls = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        "doc_id",
    )
    cache.put_many(
        urls.filter(F.col("doc_id") % 2 == 0).select(
            F.col("url").alias("key"),
            F.concat(F.lit("seeded|"), F.md5(F.col("url").cast("binary"))).alias(
                "value"
            ),
        )
    )
    return fetch_urls_cached(urls.select("url"), cache, _deterministic_fetch)


@query(
    "stream_windowed_topk",
    oracle="""
WITH c AS (
  SELECT date_trunc('day', ts) AS window_start, event_type,
         count(*) AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY window_start
                               ORDER BY n_events DESC, event_type ASC) AS rk
  FROM c
)
SELECT window_start,
       window_start + INTERVAL 1 DAY AS window_end,
       event_type,
       n_events::BIGINT AS n_events,
       rk::INT AS rnk
FROM r WHERE rk <= 3
""",
)
def stream_windowed_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13: tumbling-window TRENDING — per-day event-type counts
    computed by the watermarked streaming windowed aggregation
    (streaming/sessionize.py windowed_counts_stream; state = one count
    row per open (window, type), finalized past the watermark), then
    top-3 types per window ranked on the drained result. The rank runs
    post-drain because per-window top-k needs the window CLOSED — at
    scale the drain lands in a per-window partition and the rank is a
    partition-local window function. Oracle = batch day-bucket SQL:
    equality proves the watermark dropped nothing on this feed and the
    streaming windows align with date_trunc (epoch-aligned UTC)."""
    from pyspark.sql import Window as W

    ev = stream_events_from_dir(spark, sf_dir, glob="events.parquet")
    counts = windowed_counts_stream(ev, window="1 day", watermark="2 hours")
    w = W.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        drain_memory(counts, "stream_windowed_topk", "complete")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


def _chain_fetch(url: str) -> tuple[int, str, str | None]:
    """Injected paginated transport: page://N yields a deterministic
    body and links to page://N+1 until the 16-page archive boundary."""
    import hashlib

    n = int(url.rsplit("//", 1)[1])
    body = "page|" + hashlib.md5(url.encode("utf-8")).hexdigest()
    nxt = f"page://{n + 1}" if (n + 1) % 16 != 0 else None
    return 200, body, nxt


@query(
    "paginated_fetch",
    oracle="""
WITH RECURSIVE walk AS (
  SELECT doc_id AS page, 0 AS depth
  FROM documents WHERE doc_id % 16 = 0 AND doc_id < 256
  UNION ALL
  SELECT page + 1, depth + 1 FROM walk WHERE (page + 1) % 16 <> 0
)
SELECT 'page://' || page::VARCHAR AS url,
       depth,
       200 AS status,
       'page|' || md5('page://' || page::VARCHAR) AS content
FROM walk
""",
)
def paginated_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 recursive pagination (reference reader.py:586-670) as a
    catalog query: seed pages from the documents table (every 16th
    doc_id), walk the injected link graph — page://N links to
    page://N+1 inside its 16-page archive — with the task-local
    breadth-first walk in sources/fanout.py fetch_paginated (one fetch
    job whatever the archive depth). ``_chain_fetch`` is idempotent, as
    that walk requires: a retried task re-fetches its whole walk.

    The link graph is deterministic, so the WHOLE walk — seeds, link
    following, per-page bodies, depths — is replayed by a recursive CTE
    and hash-checked cross-engine; the operator's cycle-guard and
    frontier mechanics are separately pytest-driven on cyclic and
    converging graphs (tests/test_paginated_fetch.py)."""
    from ..sources.fanout import fetch_paginated

    seeds = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 16 == 0) & (F.col("doc_id") < 256))
        .select(F.concat(F.lit("page://"), F.col("doc_id").cast("string")).alias("url"))
    )
    return fetch_paginated(seeds, _chain_fetch, max_pages=20)


@query(
    "sessionize_stream",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 1 HOUR
              THEN 1 ELSE 0 END AS is_start
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts, value,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 1 HOUR AS session_end,
       user_id,
       count(*)::BIGINT AS n_events,
       sum(value) AS total_value
FROM sessions GROUP BY user_id, sid
""",
)
def sessionize_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 streaming extension: gap-based ``session_window`` sessions
    over the events feed with a 2 h watermark, drained via availableNow
    into a memory sink. State is bounded by the watermark (sessions
    finalize once event time passes end+watermark — the property that
    keeps a 100 TB/day feed's state finite). Oracle = batch gap-session
    SQL; equality PROVES the streaming operator computes the same
    sessions as the relational definition.

    Note the boundary: session_window merges on delta < gap (half-open
    windows), so the SQL oracle starts a new session on delta >= gap.

    State partitioning: a streaming agg fixes its state-store partition
    count from spark.sql.shuffle.partitions at FIRST start (it can never
    be changed for the life of the checkpoint). Size it to state volume:
    one instance per partition costs provider init + commit per batch,
    so 32 instances over this test feed were 4× slower than 8 (measured
    — overhead, not compute). A 100 TB/day feed sets this to thousands
    BEFORE the first start; the drain scopes the setting to the stream
    and restores the session conf after."""
    ev = stream_events_from_dir(spark, sf_dir, glob="events.parquet")
    sess = sessionize_stream(ev, gap="1 hour", watermark="2 hours")
    return drain_memory(sess, "sessionize_stream", "complete")


@query(
    "stream_join_attribution",
    oracle="""
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
       p.ts AS p_ts, c.ts AS c_ts, p.value AS purchase_value
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND c.event_id <> p.event_id
 AND p.event_type = 'purchase' AND c.event_type <> 'purchase'
 AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
""",
)
def stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-bounded join (§2.13 extension): purchases
    attributed to same-user events in the preceding 30 min, BOTH sides
    live streams with watermarks bounding join state (streaming/joins.py).
    Drained with availableNow the result is complete, so the plain-SQL
    time-range join is a full oracle — streaming semantics == relational
    semantics on finite input, which is exactly the property worth
    proving."""
    ev = stream_events_from_dir(spark, sf_dir, glob="events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") != "purchase")
    return drain_memory(attribution_join(purchases, clicks), "stream_attr", "append")


@query(
    "stream_dedup",
    oracle="""
SELECT count(*)::BIGINT AS n_rows, count(DISTINCT event_id)::BIGINT AS n_ids
FROM events
""",
)
def stream_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-stream dedup (dropDuplicatesWithinWatermark on event_id) —
    the streaming twin of dedup_exact with watermark-bounded state.
    The feed's event_ids are unique, so the deduped stream must carry
    exactly one row per id — count == distinct-count, checked against
    the batch oracle."""
    ev = stream_events_from_dir(spark, sf_dir, glob="events.parquet")
    t = drain_memory(stream_dedup(ev), "stream_dedup", "append")
    return t.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("event_id").cast("long").alias("n_ids"),
    )


@query(
    "stream_neardup_screen",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_transform(
           list_distinct(list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                                     x -> x <> '')),
           tk -> (('0x' || substr(md5(tk), 1, 15))::BIGINT) % 2147483647) AS bases
  FROM documents
),
tnz AS (SELECT * FROM t WHERE len(bases) > 0),
bands AS (
  SELECT doc_id, b.band,
         array_to_string(
           list_transform(generate_series(b.band * 16, b.band * 16 + 15),
             p -> list_min(list_transform(bases,
                    x -> ((1 + 2 * p) * x + 7919 * p) % 2147483647))::VARCHAR),
           ',') AS sig
  FROM tnz CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS band) b
),
split AS (SELECT max(doc_id) // 2 AS s FROM documents),
prior AS (
  SELECT DISTINCT band, sig FROM bands, split WHERE doc_id < split.s
),
batch AS (SELECT doc_id, band, sig FROM bands, split WHERE doc_id >= split.s),
matched AS (SELECT DISTINCT doc_id FROM batch JOIN prior USING (band, sig))
SELECT b.doc_id, (m.doc_id IS NOT NULL) AS near_dup
FROM (SELECT DISTINCT doc_id FROM batch) b
LEFT JOIN matched m USING (doc_id)
""",
)
def stream_neardup_screen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC JOIN — the streaming twin of
    dedup_incremental_neardup, and the join mode the streaming matrix
    lacked (sessionize = stateful agg, attribution = stream-stream,
    dedup = stateful dropDuplicates): the documents DELTA arrives as a
    file-source stream, its minhash band signatures are computed
    per-row INSIDE the stream (the signature builder is pure Catalyst
    expressions, so it lifts to streaming unchanged), and each
    micro-batch left-joins the PERSISTED prior signature table — the
    production shape where yesterday's corpus is parquet at rest and
    today's crawl streams in. Matched docs flag near_dup; the per-doc
    any-band-matched reduction runs post-drain (append sink carries
    per-band rows).

    Drained result ≡ the batch oracle — the equality that proves the
    streaming screen computes exactly the relational semantics."""
    from ..plans.dedup_queries import (
        _minhash_bands_from,
        batch_split,
        minhash_signature_table,
    )

    split = batch_split(load_table(spark, sf_dir, "documents"))
    prior = (
        minhash_signature_table(spark, sf_dir)
        .filter(F.col("doc_id") < split)
        .select("band", "sig")
        .distinct()
        .withColumn("matched", F.lit(True))
    )
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .withColumn("text", F.coalesce(F.col("text"), F.lit("")))
        .filter(F.col("doc_id") >= split)
    )
    bands = _minhash_bands_from(stream).select("doc_id", "band", "sig")
    joined = bands.join(prior, ["band", "sig"], "left")
    return (
        drain_memory(joined, "stream_neardup", "append")
        .groupBy("doc_id")
        .agg(
            F.max(F.coalesce("matched", F.lit(False))).alias("near_dup")
        )
    )


@query(
    "ingest_messages",
    oracle="""
SELECT count(*)::BIGINT AS n_rows,
       count(*)::BIGINT AS n_unique_ids,
       true AS all_uuid4,
       true AS ts_sane
FROM documents
""",
)
def ingest_messages_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 uuid ingestion ids + F12 epoch-seconds default (SURVEY §2.8;
    reference vector_service/app.py:199-200 mints both per saved
    message). Stamps every document row via ``stamp_ingestion_ids``
    (Catalyst ``uuid()`` + ``unix_timestamp()``, JVM-side, zero
    shuffle until this validation agg) and validates the
    nondeterministic output STRUCTURALLY — the deterministic contract a
    SQL oracle can check: one id per row, all ids distinct (countDistinct
    == count proves per-row evaluation, not a constant-folded single
    uuid), every id RFC-4122 v4 formatted (version nibble 4, variant
    in [89ab]), and the stamped epoch seconds in a sane range (after
    2020-01-01, not in the future beyond clock skew)."""
    from ..operators.ingestion import UUID4_RE, stamp_ingestion_ids

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    stamped = stamp_ingestion_ids(docs)
    return stamped.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("msg_id").alias("n_unique_ids"),
        F.min(F.col("msg_id").rlike(UUID4_RE)).alias("all_uuid4"),
        F.min(
            (F.col("created_ts") > F.lit(1577836800))
            & (F.col("created_ts") < F.unix_timestamp() + F.lit(3600))
        ).alias("ts_sane"),
    )


@query("stream_event_funnel", oracle=None)
def stream_event_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of event_funnel (applyInPandasWithState — see
    streaming/stateful.funnel_states): per-user funnel stages
    maintained incrementally across micro-batches, drained via
    availableNow, then reduced to the same (stage, event_type, users)
    shape as the batch query. The oracle is the IDENTICAL 3-CTE batch
    SQL (registered below via catalog import) — equality proves the
    stateful operator computes the relational min-chain even though
    events reach the state handler in arrival order, not time order
    (stage reachability is monotone in the event set; the handler
    recomputes the chain from its pruned candidate frontier each
    batch, so cross-batch disorder cannot stick — pinned by the
    split-feed test in tests/test_stream_funnel.py)."""
    from .analytics_queries import _FUNNEL

    ev = stream_events_from_dir(spark, sf_dir, glob="events.parquet")
    st = funnel_states(ev, funnel=_FUNNEL, idle_timeout_ms=None)
    deepest = (
        drain_memory(st, "stream_funnel", "update")
        .groupBy("user_id")
        .agg(F.max("stage").alias("stage"))
    )
    counts = deepest.agg(
        *[
            F.sum((F.col("stage") >= k).cast("long")).alias(f"n{k}")
            for k in (1, 2, 3)
        ]
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("stage"),
                F.lit(name_).alias("event_type"),
                F.coalesce(F.col(f"n{k}"), F.lit(0)).cast("long").alias("users"),
            )
            for k, name_ in enumerate(_FUNNEL, start=1)
        ]
    )
    return counts.select(F.explode(stages).alias("s")).select("s.*")


# the stream twin shares the batch oracle verbatim: same output shape,
# same relational definition — registered after the fact because the
# @query(oracle=...) literal lives with the batch query
from .catalog import ORACLE as _ORACLE_REG  # noqa: E402
from .analytics_queries import FUNNEL_ORACLE as _FUNNEL_ORACLE  # noqa: E402

_ORACLE_REG["stream_event_funnel"] = _ORACLE_REG.get(
    "event_funnel", _FUNNEL_ORACLE
)
