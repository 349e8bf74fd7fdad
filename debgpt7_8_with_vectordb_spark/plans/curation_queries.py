"""Crawl-curation query catalog — the round-7 package-level curation
head (Gopher Table-A1 page gates, C4 line cleaning, RFC 3986 URL
normalization, and the end-to-end ``curate_crawl`` funnel) registered
as driver-oracled queries (VERDICT r7 #1).

Oracle strategy mirrors the multimodal family: where the Spark side is
pure Catalyst (Gopher signals, C4 lines) the DuckDB oracle REPLAYS the
same expressions via list lambdas; where the Spark side crosses into
Python (URL normalizer, jusText boilerplate pass inside the funnel) the
query synthesizes its input from doc_id arithmetic so the oracle can
PREDICT the output without touching the Python — a parser or plumbing
bug on either half breaks the cross-engine hash.

Reference analog: the reader/curation surface (reference reader.py:
766-1032) — pages in, cleaned prose out; the quality gates follow
Rae et al. 2021 Table A1 and Raffel et al. 2020 §2.2.
"""

from __future__ import annotations

import itertools

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

_STREAM_SINK_SEQ = itertools.count()

from ..functions.web import normalize_url_column
from ..loops import capped_partitions
from ..operators.crawl import curate_crawl, expand_sitemaps
from ..operators.quality_rules import (
    GOPHER_STOPWORDS,
    c4_clean_lines,
    gopher_quality_signals,
)
from ..tables import fan_out, load_table
from .catalog import query

# ---------------------------------------------------------------------------
# Gopher Table-A1 quality signals
# ---------------------------------------------------------------------------
# The testdata corpus is clean prose-shaped [a-z0-9 ] text, which leaves
# the symbol/bullet/ellipsis gates degenerate (all zero) and the
# stopword gate permanently failing (synthetic vocabulary carries at
# most one of the eight paper stopwords). To make every signal AND the
# final verdict discriminative the query decorates the text per doc_id
# class — the SAME deterministic concat on both engines, so the
# decoration is part of the fixture, not of the operator under test.
# Class 0 is stopword-rich prose (passes iff long enough); classes 1-4
# each trip exactly one symbol/bullet/ellipsis gate.

_GOPHER_DECOR_SPARK = (
    "CASE CAST(doc_id % 5 AS INT) "
    "WHEN 1 THEN concat(text, ' ## tagged # x9') "
    "WHEN 2 THEN concat('- alpha one\n- beta two\n', text) "
    "WHEN 3 THEN concat(text, '\nto be continued...') "
    "WHEN 4 THEN concat(text, ' …') "
    "ELSE concat(text, ' of the and that have with') END"
)

_GOPHER_DECOR_SQL = """
CASE (doc_id % 5)
  WHEN 1 THEN text || ' ## tagged # x9'
  WHEN 2 THEN '- alpha one' || chr(10) || '- beta two' || chr(10) || text
  WHEN 3 THEN text || chr(10) || 'to be continued...'
  WHEN 4 THEN text || ' …'
  ELSE text || ' of the and that have with'
END
"""

_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS) + "]"


@query(
    "gopher_signals",
    oracle=f"""
WITH decorated AS (
  SELECT doc_id, {_GOPHER_DECOR_SQL} AS dtext FROM documents
), staged AS (
  SELECT doc_id, dtext,
         list_filter(string_split_regex(dtext, '[ \t\r\n\f\v]+'),
                     w -> w <> '') AS words,
         list_filter(string_split(dtext, chr(10)),
                     l -> trim(l) <> '') AS lines
  FROM decorated
), sig AS (
  SELECT doc_id,
         len(words)::INT AS n_words,
         len(lines) AS n_lines,
         (list_sum(list_transform(words, w -> length(w)))::BIGINT
          / nullif(len(words), 0)) AS mean_word_len,
         ((length(dtext) - length(replace(dtext, '#', '')))
          / nullif(len(words), 0)) AS hash_ratio,
         (((length(dtext) - length(replace(dtext, '…', '')))
           + floor((length(dtext) - length(replace(dtext, '...', ''))) / 3))
          / nullif(len(words), 0)) AS ellipsis_ratio,
         (len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))
          / nullif(len(lines), 0)) AS bullet_line_frac,
         (len(list_filter(lines,
                          l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$')))
          / nullif(len(lines), 0)) AS ellipsis_line_frac,
         (len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))
          / nullif(len(words), 0)) AS alpha_word_frac,
         len(list_intersect(
               list_distinct(list_transform(words, w -> lower(w))),
               {_STOP_SQL}))::INT AS stopword_hits
  FROM staged
)
SELECT doc_id, n_words,
       round(mean_word_len, 6) AS mean_word_len,
       round(hash_ratio, 6) AS hash_ratio,
       round(ellipsis_ratio, 6) AS ellipsis_ratio,
       round(bullet_line_frac, 6) AS bullet_line_frac,
       round(ellipsis_line_frac, 6) AS ellipsis_line_frac,
       round(alpha_word_frac, 6) AS alpha_word_frac,
       stopword_hits,
       coalesce(n_words BETWEEN 50 AND 100000
                AND mean_word_len BETWEEN 3.0 AND 10.0
                AND hash_ratio <= 0.1
                AND ellipsis_ratio <= 0.1
                AND bullet_line_frac <= 0.9
                AND ellipsis_line_frac <= 0.3
                AND alpha_word_frac >= 0.8
                AND stopword_hits >= 2, false) AS passes
FROM sig
""",
)
def gopher_signals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher Table-A1 page-quality signals + the pass/fail verdict
    (operators/quality_rules.py gopher_quality_signals — pure Catalyst,
    zero shuffle). Text is decorated per doc_id class so every gate has
    both passing and failing rows at test scale; the oracle replays the
    identical split/regex/intersect pipeline with DuckDB list lambdas.
    Scale shape: one staged projection, whole-stage codegen, scan-bound."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", F.expr(_GOPHER_DECOR_SPARK).alias("text")
    )
    sig = gopher_quality_signals(docs)
    passes = (
        F.col("n_words").between(50, 100_000)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("hash_ratio") <= 0.1)
        & (F.col("ellipsis_ratio") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("stopword_hits") >= 2)
    )
    return sig.select(
        "doc_id",
        "n_words",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("hash_ratio", 6).alias("hash_ratio"),
        F.round("ellipsis_ratio", 6).alias("ellipsis_ratio"),
        F.round("bullet_line_frac", 6).alias("bullet_line_frac"),
        F.round("ellipsis_line_frac", 6).alias("ellipsis_line_frac"),
        F.round("alpha_word_frac", 6).alias("alpha_word_frac"),
        "stopword_hits",
        F.coalesce(passes, F.lit(False)).alias("passes"),
    )


# ---------------------------------------------------------------------------
# C4 line cleaning
# ---------------------------------------------------------------------------
# Testdata documents are single-line; the query derives a line structure
# by packing words 5-per-line with a per-line suffix cycling over
# (terminal '.', no punctuation, ' javascript needed') so all three C4
# drop rules fire. Same derivation on both engines.


def _c4_lines_from_words(words):
    """Chunk a MATERIALIZED words column into suffix-cycled lines.

    ``words`` must be a bare column attribute behind an optimization
    barrier, NOT the split/filter expression itself: referenced inside
    the transform lambda, Catalyst's projection collapse would inline
    the full tokenize and re-run it PER CHUNK — O(words x chunks) per
    doc, the same invariant-expr-in-lambda class the expr-blowup audit
    flags (r12; the fold variant was l2_normalize)."""
    n_chunks = F.greatest(F.ceil(F.size(words) / 5), F.lit(1)).cast("int")
    suffix = lambda i: (  # noqa: E731
        F.when(i % 3 == 0, F.lit("."))
        .when(i % 3 == 1, F.lit(""))
        .otherwise(F.lit(" javascript needed"))
    )
    lines = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat(
            F.array_join(F.slice(words, i * 5 + 1, 5), " "), suffix(i)
        ),
    )
    return F.array_join(lines, "\n")


_C4_LINES_SQL = """
  SELECT doc_id,
    array_to_string(
      list_transform(
        generate_series(0, greatest(ceil(len(list_filter(
          string_split_regex(text, '\\s+'), w -> w <> ''))::DOUBLE / 5), 1)::INT - 1),
        -- DuckDB array_to_string([]) is NULL where Spark array_join is
        -- '' — coalesce or the empty-doc chunk poisons the whole row
        i -> coalesce(array_to_string(
               list_slice(list_filter(string_split_regex(text, '\\s+'),
                                      w -> w <> ''),
                          i * 5 + 1, i * 5 + 5), ' '), '')
             || (CASE (i % 3) WHEN 0 THEN '.' WHEN 1 THEN ''
                 ELSE ' javascript needed' END)),
      chr(10)) AS mtext
  FROM documents
"""


@query(
    "c4_line_clean",
    oracle=f"""
WITH m AS ({_C4_LINES_SQL}
), staged AS (
  SELECT doc_id,
         list_filter(string_split(mtext, chr(10)), l -> trim(l) <> '') AS lines
  FROM m
), judged AS (
  SELECT doc_id, lines,
         list_filter(lines, l ->
           len(list_filter(string_split_regex(trim(l), '[ \t]+'),
                           w -> w <> '')) >= 3
           AND regexp_matches(trim(l), '[.!?…"'']$')
           AND NOT regexp_matches(lower(l), 'lorem ipsum')
           AND NOT regexp_matches(lower(l), 'javascript')
           AND NOT regexp_matches(lower(l), 'cookie')) AS kept
  FROM staged
)
SELECT doc_id,
       coalesce(array_to_string(kept, chr(10)), '') AS text,
       len(lines)::INT AS lines_total,
       (len(lines) - len(kept))::INT AS lines_dropped
FROM judged
""",
)
def c4_line_clean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line cleaning (operators/quality_rules.py c4_clean_lines
    — Raffel et al. 2020 §2.2: min words per line, terminal punctuation,
    boilerplate-phrase drop) over a derived multi-line corpus. The
    suffix cycle makes every rule fire; the oracle replays the identical
    HOF pipeline. Pure Catalyst, zero shuffle, scan-bound at 100 TB."""
    # tokenize ONCE per doc behind a single-element struct-explode
    # Generate barrier (the audit's fix pattern), then chunk from the
    # materialized words attribute
    docs = (
        fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
        .select(
            "doc_id",
            F.filter(F.split("text", r"\s+"), lambda w: w != "").alias(
                "words"
            ),
        )
        .select(F.explode(F.array(F.struct("doc_id", "words"))).alias("s"))
        .select("s.doc_id", "s.words")
        .select("doc_id", _c4_lines_from_words(F.col("words")).alias("text"))
    )
    return c4_clean_lines(docs).select(
        "doc_id", "text", "lines_total", "lines_dropped"
    )


# ---------------------------------------------------------------------------
# URL normalization
# ---------------------------------------------------------------------------
# Input URLs are synthesized per doc_id class covering the RFC 3986 §6
# steps (case, default ports, dot segments, unreserved pct-decode +
# pct-case, empty path, query-key sort, trailing-dot host, non-crawl
# scheme); the oracle predicts the canonical form from the same
# arithmetic without running the normalizer.

_MESSY_URL_SPARK = (
    "CASE CAST(doc_id % 6 AS INT) "
    "WHEN 0 THEN concat('HTTP://ExAmple', CAST(doc_id % 40 AS STRING), "
    "  '.COM:80/a/b/file', CAST(doc_id AS STRING), '.html#frag') "
    "WHEN 1 THEN concat('https://example', CAST(doc_id % 40 AS STRING), "
    "  '.com:443/x/./y/../z', CAST(doc_id AS STRING), '?b=2&a=1') "
    "WHEN 2 THEN concat('http://example', CAST(doc_id % 40 AS STRING), "
    "  '.com/%7euser%2fd%41ta', CAST(doc_id AS STRING)) "
    "WHEN 3 THEN concat('http://Example', CAST(doc_id % 40 AS STRING), '.com.') "
    "WHEN 4 THEN concat('ftp://sub.Host', CAST(doc_id % 40 AS STRING), "
    "  '.CO.UK:21/pub/', CAST(doc_id AS STRING)) "
    "ELSE concat('javascript:alert(', CAST(doc_id AS STRING), ')') END"
)


@query(
    "url_normalize",
    oracle="""
SELECT doc_id,
  CASE (doc_id % 6)
    WHEN 0 THEN 'http://example' || (doc_id % 40) || '.com/a/b/file'
                || doc_id || '.html'
    WHEN 1 THEN 'https://example' || (doc_id % 40) || '.com/x/z'
                || doc_id || '?a=1&b=2'
    WHEN 2 THEN 'http://example' || (doc_id % 40) || '.com/~user%2FdAta'
                || doc_id
    WHEN 3 THEN 'http://example' || (doc_id % 40) || '.com/'
    WHEN 4 THEN 'ftp://sub.host' || (doc_id % 40) || '.co.uk/pub/' || doc_id
    ELSE NULL
  END AS url_norm,
  CASE (doc_id % 6)
    WHEN 3 THEN 'example' || (doc_id % 40) || '.com'
    WHEN 4 THEN 'host' || (doc_id % 40) || '.co.uk'
    WHEN 5 THEN NULL
    ELSE 'example' || (doc_id % 40) || '.com'
  END AS domain
FROM documents
""",
)
def url_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 3986 URL canonicalization (functions/web.py normalize_url —
    the key a crawl dedup/quota pass groups on) over synthesized messy
    URLs; Arrow-batched ``normalize_url_column``. The oracle predicts
    each canonical form from the doc_id class. Scale shape: zero
    shuffle, one Arrow pass — scan-parallel over crawl shards."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_MESSY_URL_SPARK).alias("url")
    )
    return normalize_url_column(docs, "url").select(
        "doc_id", "url_norm", "domain"
    )


# hosts synthesized per doc_id class covering every PSL rule kind:
# multi-level ICANN (co.uk), private-section (github.io, s3.amazonaws),
# wildcard (*.ck), exceptions (!www.ck, !city.kawasaki.jp), the default
# '*' rule for an unknown TLD, and — since the r10 snapshot extension —
# US k12 third levels, IDN punycode registries, the *.compute.amazonaws
# wildcard (each EC2 hostname its own domain), and CentralNic uk.com.
# Class 12 (r11) pins the ADVICE-r10 fix: a host under a multi-label
# wildcard PARENT (one label beneath compute.amazonaws.com) gets no say
# from the wildcard — only 'com' matches, so it registers at
# amazonaws.com, never as its own suffix.
# Classes 13/14 (r12) exercise the no/se geographic tranche: a
# grunnskole THIRD-level suffix (gs.oslo.no) and a Swedish
# county-letter suffix (press.se).
# Classes 15/16 (r13, VERDICT r12 #3) exercise the .no municipality
# block: an ASCII kommune suffix (bergen.no) and an IDN kommune in its
# punycode twin form (xn--troms-zua.no = tromsø.no).
# Class 17 (r14, VERDICT r13 #3) exercises the .jp municipality
# tranche: a host under a third-level municipality suffix
# (urayasu.chiba.jp) registers one level beneath it — an absent
# tranche would over-merge it to the prefecture rule (chiba.jp).
_PSL_HOST_SPARK = (
    "CASE CAST(doc_id % 18 AS INT) "
    "WHEN 0 THEN concat('deep.www.example', CAST(doc_id % 20 AS STRING), "
    "  '.co.uk') "
    "WHEN 1 THEN concat('user', CAST(doc_id % 20 AS STRING), '.github.io') "
    "WHEN 2 THEN concat('a.b.site', CAST(doc_id % 20 AS STRING), '.com') "
    "WHEN 3 THEN concat('shop.biz', CAST(doc_id % 20 AS STRING), '.ck') "
    "WHEN 4 THEN 'sub.www.ck' "
    "WHEN 5 THEN 'x.city.kawasaki.jp' "
    "WHEN 6 THEN concat('a.host', CAST(doc_id % 20 AS STRING), '.zzunk') "
    "WHEN 7 THEN concat('www.school', CAST(doc_id % 20 AS STRING), "
    "  '.k12.ak.us') "
    "WHEN 8 THEN concat('www.shi', CAST(doc_id % 20 AS STRING), "
    "  '.xn--55qx5d.cn') "
    "WHEN 9 THEN concat('ec2-10-0-0-', CAST(doc_id % 20 AS STRING), "
    "  '.us-east-1.compute.amazonaws.com') "
    "WHEN 10 THEN concat('b.corp', CAST(doc_id % 20 AS STRING), '.uk.com') "
    "WHEN 11 THEN concat('bucket', CAST(doc_id % 20 AS STRING), "
    "  '.s3.amazonaws.com') "
    "WHEN 12 THEN 'compute.amazonaws.com' "
    "WHEN 13 THEN concat('www.skole', CAST(doc_id % 20 AS STRING), "
    "  '.gs.oslo.no') "
    "WHEN 14 THEN concat('www.tidning', CAST(doc_id % 20 AS STRING), "
    "  '.press.se') "
    "WHEN 15 THEN concat('www.etat', CAST(doc_id % 20 AS STRING), "
    "  '.bergen.no') "
    "WHEN 16 THEN concat('www.etat', CAST(doc_id % 20 AS STRING), "
    "  '.xn--troms-zua.no') "
    "ELSE concat('www.ku', CAST(doc_id % 20 AS STRING), "
    "  '.urayasu.chiba.jp') END"
)


@query(
    "registrable_domains",
    oracle="""
SELECT doc_id,
  CASE (doc_id % 18)
    WHEN 0 THEN 'example' || (doc_id % 20) || '.co.uk'
    WHEN 1 THEN 'user' || (doc_id % 20) || '.github.io'
    WHEN 2 THEN 'site' || (doc_id % 20) || '.com'
    WHEN 3 THEN 'shop.biz' || (doc_id % 20) || '.ck'
    WHEN 4 THEN 'www.ck'
    WHEN 5 THEN 'city.kawasaki.jp'
    WHEN 6 THEN 'host' || (doc_id % 20) || '.zzunk'
    WHEN 7 THEN 'school' || (doc_id % 20) || '.k12.ak.us'
    WHEN 8 THEN 'shi' || (doc_id % 20) || '.xn--55qx5d.cn'
    WHEN 9 THEN 'ec2-10-0-0-' || (doc_id % 20)
      || '.us-east-1.compute.amazonaws.com'
    WHEN 10 THEN 'corp' || (doc_id % 20) || '.uk.com'
    WHEN 11 THEN 'bucket' || (doc_id % 20) || '.s3.amazonaws.com'
    WHEN 12 THEN 'amazonaws.com'
    WHEN 13 THEN 'skole' || (doc_id % 20) || '.gs.oslo.no'
    WHEN 14 THEN 'tidning' || (doc_id % 20) || '.press.se'
    WHEN 15 THEN 'etat' || (doc_id % 20) || '.bergen.no'
    WHEN 16 THEN 'etat' || (doc_id % 20) || '.xn--troms-zua.no'
    ELSE 'ku' || (doc_id % 20) || '.urayasu.chiba.jp'
  END AS domain
FROM documents
""",
)
def registrable_domains_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Public-Suffix-List registrable-domain extraction (functions/
    psl.py, VERDICT r8 #2) — the grouping key of domain quotas and
    crawl keep-rules. Hosts are synthesized per doc_id class to cover
    every PSL rule kind — multi-level ICANN suffix, private-section
    suffix, wildcard, exception, and the default '*' rule — and the
    oracle predicts each answer arithmetically (DuckDB has no PSL, so
    prediction, not replay, is the honest oracle). Scale shape: zero
    shuffle, one Arrow pass with the rule table shipped in the package
    (per-executor lazy sets + host LRU)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.expr(_PSL_HOST_SPARK), F.lit("/p")
        ).alias("url"),
    )
    return normalize_url_column(docs, "url").select("doc_id", "domain")


# ---------------------------------------------------------------------------
# curate_crawl funnel
# ---------------------------------------------------------------------------
# Synthesized WARC shard: each document becomes one fetched page; pairs
# of docs (2k, 2k+1) are the SAME canonical URL under two spellings
# (lowercase vs UPPERCASE+':80') fetched at different times, so the
# same-URL dedup keeps exactly the earlier fetch. Hosts rotate over 7
# names; even-numbered hosts serve a robots.txt disallowing /private,
# and every 5th page sits under /private — the robots gate drops those
# on policed hosts only. Page HTML wraps the document text in a
# nav/article/footer skeleton whose jusText classification is fixed
# (chrome nav + footer dropped; the article block kept iff >= 80 chars),
# so the oracle can predict the funnel end-to-end: robots -> canonical
# dedup -> boilerplate -> length floor -> content dedup.

_PAGE_HTML_PREFIX = "<html><body><nav>Menu Home About Contact</nav><p>"
_PAGE_HTML_SUFFIX = "</p><footer>copyright notice</footer></body></html>"

_ROBOTS_BODY = "User-agent: *\nDisallow: /private"

_CURATE_FUNNEL_ORACLE = f"""
WITH pages AS (
  SELECT doc_id,
         doc_id // 2 AS page_id,
         (doc_id // 2) % 7 AS hostnum,
         ((doc_id // 2) % 5 = 0) AS private,
         regexp_replace(trim(text), ' +', ' ', 'g') AS ptext,
         '2026-01-01T00:00:0'
         || (CASE WHEN (doc_id // 2) % 3 = 0 THEN 0 ELSE doc_id % 2 END)
         || 'Z' AS fetched_at
  FROM documents
), canon AS (
  SELECT *,
         'http://h' || hostnum || '.example.org'
         || (CASE WHEN private THEN '/private' ELSE '' END)
         || '/page' || page_id AS url_norm,
         (CASE WHEN doc_id % 2 = 0
               THEN 'http://h' || hostnum || '.example.org'
               ELSE 'HTTP://H' || hostnum || '.EXAMPLE.ORG:80' END)
         || (CASE WHEN private THEN '/private' ELSE '' END)
         || '/page' || page_id AS raw_url
  FROM pages
  WHERE NOT (private AND hostnum % 2 = 0)      -- robots gate
), firsts AS (
  SELECT *, row_number() OVER (
    PARTITION BY url_norm ORDER BY fetched_at, raw_url) AS rn
  FROM canon
), floored AS (
  SELECT * FROM firsts WHERE rn = 1 AND length(ptext) >= 100
), deduped AS (
  SELECT *, row_number() OVER (
    PARTITION BY md5(ptext) ORDER BY url_norm) AS rn2
  FROM floored
)
SELECT md5(url_norm) AS cid,
       url_norm AS url,
       'example.org' AS domain,
       fetched_at,
       length(ptext)::INT AS n_chars,
       md5(ptext) AS digest,
       1 AS blocks_kept,
       3 AS blocks_total,
       round(2.0 / 3.0, 6) AS bp_ratio
FROM deduped WHERE rn2 = 1
"""


def _synth_warc(docs: DataFrame) -> DataFrame:
    """The synthesized WARC shard both funnel twins read: pairs of docs
    are the same canonical URL under two spellings at different fetch
    times — except every 3rd page, whose two spellings fetch at the
    SAME second, forcing the (fetched_at, raw url) tiebreak (the
    uppercase spelling sorts first and must win in batch, stream, and
    oracle alike); every 5th page sits under /private; even hosts are
    policed."""
    page_id = F.floor(F.col("doc_id") / 2).cast("long")
    hostnum = (page_id % 7).cast("string")
    private = page_id % 5 == 0
    path = F.concat(
        F.when(private, F.lit("/private")).otherwise(F.lit("")),
        F.lit("/page"),
        page_id.cast("string"),
    )
    url = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("http://h"), hostnum, F.lit(".example.org"), path),
    ).otherwise(
        F.concat(F.lit("HTTP://H"), hostnum, F.lit(".EXAMPLE.ORG:80"), path)
    )
    return docs.select(
        F.lit("response").alias("warc_type"),
        F.lit(200).alias("http_status"),
        url.alias("target_uri"),
        F.concat(
            F.lit("2026-01-01T00:00:0"),
            F.when(page_id % 3 == 0, F.lit(0))
            .otherwise(F.col("doc_id") % 2)
            .cast("string"),
            F.lit("Z"),
        ).alias("warc_date"),
        F.concat(
            F.lit(_PAGE_HTML_PREFIX), F.col("text"), F.lit(_PAGE_HTML_SUFFIX)
        ).alias("html"),
    )


def _robots_table(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(f"h{n}.example.org", _ROBOTS_BODY) for n in (0, 2, 4, 6)],
        "host string, robots_txt string",
    )


def _curated_output(curated: DataFrame) -> DataFrame:
    return curated.select(
        F.col("doc_id").alias("cid"),
        "url",
        "domain",
        "fetched_at",
        F.length("text").alias("n_chars"),
        F.md5("text").alias("digest"),
        "blocks_kept",
        "blocks_total",
        F.round("boilerplate_ratio", 6).alias("bp_ratio"),
    )


@query("curate_crawl", oracle=_CURATE_FUNNEL_ORACLE)
def curate_crawl_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl curation funnel (operators/crawl.py curate_crawl:
    robots policy -> URL canonicalization + first-fetch dedup -> jusText
    boilerplate removal -> length floor -> exact content dedup) over a
    WARC shard synthesized from documents by doc_id arithmetic. The
    oracle predicts every stage. Scale shape: one broadcast robots join,
    two map-side-combined min_by shuffles (url_norm, digest), Arrow
    scans otherwise — the per-WARC-shard parallelism a 100 TB crawl
    ships in."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    curated = curate_crawl(_synth_warc(docs), _robots_table(spark), min_text_chars=100)
    return _curated_output(curated)


_DOCS_STREAM_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


@query("stream_curate", oracle=_CURATE_FUNNEL_ORACLE)
def stream_curate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``curate_crawl`` — curation at ingest time
    (§2.13 extension, round 8): pages arrive as a file stream, the
    stateless head (robots gate, URL canonicalization — both Arrow
    passes over the stream) runs per micro-batch, and the same-URL
    first-fetch keep rule becomes a STREAMING min_by aggregation in
    update mode whose state is one best-so-far row per canonical URL —
    a re-crawl arriving later simply loses the min_by and updates
    nothing. The drain's emissions are re-reduced by the identical
    min_by in the batch epilogue (associative, so any micro-batch split
    yields the same final rows), then the funnel tail (boilerplate,
    length floor, content dedup) runs exactly as in the batch query —
    in production that tail is the periodic compaction over the
    incrementally-maintained URL-keyed table. Sharing the batch
    oracle proves ingest-time curation computes the relational funnel.

    The keep rule orders on (fetched_at, RAW url) — byte-identical to
    the batch operator since r9, with the raw spelling carried through
    the state struct — and the fixture deliberately contains
    same-timestamp fetches (every 3rd page) so the tiebreak is
    exercised, not just declared."""
    from ..functions.web import robots_filter
    from ..operators.crawl import finalize_curated

    with capped_partitions(spark, 8):
        docs = (
            spark.readStream.schema(_DOCS_STREAM_SCHEMA)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
            .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
        )
        pages = _synth_warc(docs).filter(
            (F.col("warc_type") == "response")
            & (F.col("http_status") == 200)
            & F.col("html").isNotNull()
        ).select(
            F.col("target_uri").alias("url"),
            F.col("warc_date").alias("fetched_at"),
            "html",
        )
        pages = robots_filter(pages, _robots_table(spark))
        pages = normalize_url_column(pages, "url").filter(
            F.col("url_norm").isNotNull()
        )
        # order by (fetched_at, RAW url) — exactly the batch keep-rule
        # (operators/crawl.py) so same-timestamp fetches of one
        # canonical URL pick the same spelling in both engines
        order_key = F.struct(
            F.coalesce(F.col("fetched_at"), F.lit("￿")).alias("_o1"),
            F.col("url").alias("_o2"),
        )
        keep = F.struct("url", "fetched_at", "html", "domain")
        best = pages.groupBy("url_norm").agg(
            F.min_by(keep, order_key).alias("_keep")
        )
        name = f"stream_curate_sink_{next(_STREAM_SINK_SEQ)}"
        q = (
            best.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # batch epilogue: re-reduce update emissions (idempotent), then the
    # funnel tail shared with the batch operator
    emitted = spark.table(name).select(
        "url_norm",
        F.col("_keep.url").alias("url"),
        F.col("_keep.fetched_at").alias("fetched_at"),
        F.col("_keep.html").alias("html"),
        F.col("_keep.domain").alias("domain"),
    )
    order_key = F.struct(
        F.coalesce(F.col("fetched_at"), F.lit("￿")).alias("_o1"),
        F.col("url").alias("_o2"),
    )
    best = (
        emitted.groupBy("url_norm")
        .agg(
            F.min_by(
                F.struct("fetched_at", "html", "domain"), order_key
            ).alias("_k")
        )
        .select(
            F.md5(F.col("url_norm")).alias("doc_id"),
            F.col("url_norm").alias("url"),
            F.col("_k.domain").alias("domain"),
            F.col("_k.fetched_at").alias("fetched_at"),
            F.col("_k.html").alias("html"),
        )
    )
    return _curated_output(finalize_curated(best, min_text_chars=100))


# ---------------------------------------------------------------------------
# sitemap expansion (crawl discovery)
# ---------------------------------------------------------------------------
# Every doc becomes one synthesized sitemap document: urlset files with
# two <url> entries (one fully-tagged, one loc-only) for most docs, and
# a <sitemapindex> with two child sitemaps every 5th doc — covering the
# kind switch, optional-field NULLs, and the regex walk's tolerance of
# attribute-carrying tags. The oracle predicts every discovered row
# from the same arithmetic.

_SITEMAP_XML_SPARK = (
    "CASE WHEN doc_id % 5 = 0 THEN concat("
    "  '<?xml version=\"1.0\"?><sitemapindex xmlns=\"x\">',"
    "  '<sitemap><loc>https://h', CAST(doc_id % 20 AS STRING),"
    "  '.example.org/maps/a', CAST(doc_id AS STRING), '.xml</loc>',"
    "  '<lastmod>2026-01-0', CAST(1 + doc_id % 9 AS STRING), '</lastmod>',"
    "  '</sitemap>',"
    "  '<sitemap><loc>https://h', CAST(doc_id % 20 AS STRING),"
    "  '.example.org/maps/b', CAST(doc_id AS STRING), '.xml</loc></sitemap>',"
    "  '</sitemapindex>') "
    "ELSE concat("
    "  '<?xml version=\"1.0\"?><urlset xmlns=\"x\">',"
    "  '<url><loc>https://h', CAST(doc_id % 20 AS STRING),"
    "  '.example.org/page', CAST(doc_id AS STRING), '</loc>',"
    "  '<lastmod>2026-02-0', CAST(1 + doc_id % 9 AS STRING), '</lastmod>',"
    "  '<changefreq>daily</changefreq>',"
    "  '<priority>0.', CAST(doc_id % 10 AS STRING), '</priority></url>',"
    "  '<url><loc>https://h', CAST(doc_id % 20 AS STRING),"
    "  '.example.org/extra', CAST(doc_id AS STRING), '</loc></url>',"
    "  '</urlset>') END"
)


@query(
    "sitemap_expand",
    oracle="""
WITH hosts AS (
  SELECT doc_id, 'h' || (doc_id % 20) || '.example.org' AS host FROM documents
)
SELECT host,
       'https://' || host || '/maps/a' || doc_id || '.xml' AS loc,
       '2026-01-0' || (1 + doc_id % 9) AS lastmod,
       NULL AS changefreq, NULL AS priority, 'sitemap' AS kind
FROM hosts WHERE doc_id % 5 = 0
UNION ALL
SELECT host, 'https://' || host || '/maps/b' || doc_id || '.xml',
       NULL, NULL, NULL, 'sitemap'
FROM hosts WHERE doc_id % 5 = 0
UNION ALL
SELECT host, 'https://' || host || '/page' || doc_id,
       '2026-02-0' || (1 + doc_id % 9), 'daily', '0.' || (doc_id % 10), 'url'
FROM hosts WHERE doc_id % 5 <> 0
UNION ALL
SELECT host, 'https://' || host || '/extra' || doc_id,
       NULL, NULL, NULL, 'url'
FROM hosts WHERE doc_id % 5 <> 0
""",
)
def sitemap_expand_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap.org discovery walk (operators/crawl.py parse_sitemap /
    expand_sitemaps — the frontier companion to robots.txt): synthesized
    urlset and sitemapindex documents expand to one row per discovered
    URL or child sitemap. Covers the kind switch, optional-tag NULLs and
    attribute-bearing root tags; the oracle predicts every row. Scale
    shape: one Arrow pass, zero shuffle, scan-parallel over fetched
    sitemap bodies."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("h"), (F.col("doc_id") % 20).cast("string"),
            F.lit(".example.org"),
        ).alias("host"),
        F.expr(_SITEMAP_XML_SPARK).alias("sitemap_xml"),
    )
    return expand_sitemaps(docs)
