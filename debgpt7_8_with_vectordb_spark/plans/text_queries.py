"""Text-analysis query catalog — LLM-training-pipeline operators.

Language-ID (marker-word heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), fingerprinting (min-hash over char
shingles), plus the reference's scalar string ops (SURVEY.md §2.8).
All pure Catalyst expressions — per-row, no shuffle, no UDFs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.hashing import md5_long
from ..functions.text import char_shingles, tokens, word_shingles
from ..loops import checkpoint_observed, loop_confs, release
from ..operators.textprofile import repetition_counts
from ..tables import fan_out, load_table
from ..functions.rounding import (
    half_up_ratio,
    half_up_ratio_nonneg,
    half_up_ratio_nonneg_sql,
    half_up_ratio_sql,
    half_up_scaled_ratio,
    half_up_scaled_ratio_sql,
)
from .catalog import oracle_artifact_path, query, tag_artifact

# DuckDB: whitespace tokens with empties dropped (matches functions.text.tokens)
_TOKS = r"list_filter(string_split_regex({t}, '\s+'), x -> x <> '')"
# DuckDB twin of functions.hashing.md5_long
_MD5L = "(('0x' || substr(md5({e}), 1, 15))::BIGINT)"

_STOP = ("the", "a", "of", "and", "to", "in", "is", "it")
_STOP_SQL = "('the','a','of','and','to','in','is','it')"


@query(
    "text_stats",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS.format(t='text')} AS toks, text FROM documents)
SELECT doc_id,
       len(toks)::BIGINT AS n_tokens,
       strlen(text)::BIGINT AS n_bytes,
       length(text)::BIGINT AS n_chars_actual,
       CASE WHEN len(toks) = 0 THEN NULL
            ELSE (floor((2 * (list_sum(list_transform(toks, x -> strlen(x)::BIGINT)) * 1000000)::BIGINT + len(toks)) / (2.0 * (len(toks))))::BIGINT) / 1000000.0
       END AS avg_token_bytes
FROM t
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + byte/char stats (F3 octet_length semantics —
    reference mapreduce.py:73 sizes chunks in UTF-8 bytes, not chars).

    Staged projections (the round-5 rule, re-measured late round 6):
    the tokenize and the per-token byte fold each land in their OWN
    projection so every downstream reference reads a column, not a
    re-evaluated expression tree — measured 0.57 s → 0.47 s at sf0.1
    with identical rows."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.length("text").cast("long").alias("n_chars_actual"),
        tokens(F.col("text")).alias("toks"),
    ).select(
        "doc_id",
        "n_bytes",
        "n_chars_actual",
        F.size("toks").cast("long").alias("n_tokens"),
        F.aggregate(
            "toks",
            F.lit(0).cast("long"),
            lambda a, x: a + F.octet_length(x).cast("long"),
        ).alias("tok_bytes"),
    )
    return staged.select(
        "doc_id",
        "n_tokens",
        "n_bytes",
        "n_chars_actual",
        F.when(
            F.col("n_tokens") > 0,
            # bytes/tokens is a ratio of integers -> exact half-up units
            half_up_ratio_nonneg(
                (F.col("tok_bytes") * F.lit(1_000_000)).cast("long"),
                F.greatest(F.col("n_tokens"), F.lit(1)).cast("long"),
            ).cast("double")
            / 1e6,
        ).alias("avg_token_bytes"),  # NULL for token-less docs (ANSI: no /0)
    )


@query(
    "quality_score",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS.format(t='text')} AS toks FROM documents)
SELECT doc_id,
       CASE WHEN n = 0 THEN NULL ELSE (floor((2 * (p * 1000000) + q) / (2.0 * (q)))::BIGINT) / 1000000.0 END AS stopword_ratio,
       (least(n, 100) * 10000) / 1000000.0 AS length_score,
       CASE WHEN n = 0 THEN NULL ELSE (floor((2 * ((100 * p + q * m) * 1000000) + (200 * q)) / (2.0 * ((200 * q))))::BIGINT) / 1000000.0 END AS quality
FROM (
  SELECT doc_id, len(toks) AS n, greatest(len(toks), 1)::BIGINT AS q,
         len(list_filter(toks, x -> x IN {_STOP_SQL}))::BIGINT AS p,
         least(len(toks), 100)::BIGINT AS m
  FROM t
)
""",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring for corpus filtering: stopword ratio
    (fluency proxy) + length saturation, combined 50/50.

    Staged projections (the round-5 rule, re-measured late round 6):
    tokenize + stopword count land in their own projection first, so
    the ratio expressions downstream reference columns instead of
    re-evaluating the split/filter tree per reference — measured
    0.78 s → 0.38 s at sf0.1 with identical rows (within-projection
    CSE does NOT cover all the duplicated subtrees here)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    stats = docs.select(
        "doc_id",
        F.size(toks).alias("n"),
        F.size(F.filter(toks, lambda x: x.isin(*_STOP))).cast("long").alias("p"),
    )
    n, p = F.col("n"), F.col("p")
    q = F.greatest(n, F.lit(1)).cast("long")  # guard INSIDE (ANSI)
    m = F.least(n, F.lit(100)).cast("long")
    # all three outputs are ratios of integers (blend = (100p+qm)/200q)
    # -> exact half-up units (functions/rounding.py, round 5)
    sr_u = half_up_ratio_nonneg((p * F.lit(1_000_000)).cast("long"), q)
    qu_u = half_up_ratio_nonneg(
        ((F.lit(100) * p + q * m) * F.lit(1_000_000)).cast("long"),
        (F.lit(200) * q).cast("long"),
    )
    nonempty = n > 0
    return stats.select(
        "doc_id",
        F.when(nonempty, sr_u.cast("double") / 1e6).alias("stopword_ratio"),
        ((m * F.lit(10_000)).cast("double") / 1e6).alias("length_score"),
        F.when(nonempty, qu_u.cast("double") / 1e6).alias("quality"),
    )


_EN = "('the','a','of','and','is','fast','slow','small','big')"
_DE = "('der','die','das','und','ist','schnell','klein')"


@query(
    "lang_id",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, {_TOKS.format(t='text')} AS toks FROM documents),
v AS (SELECT doc_id, lang,
             len(list_filter(toks, x -> x IN {_EN}))::BIGINT AS en_votes,
             len(list_filter(toks, x -> x IN {_DE}))::BIGINT AS de_votes
      FROM t)
SELECT doc_id, lang AS labeled_lang, en_votes, de_votes,
       CASE WHEN en_votes >= de_votes AND en_votes > 0 THEN 'en'
            WHEN de_votes > en_votes THEN 'de'
            ELSE 'und' END AS predicted_lang
FROM v
""",
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/marker-word language ID heuristic: count marker-word votes
    per language, argmax with deterministic tie-break order."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = tokens(F.col("text"))
    en = F.size(F.filter(toks, lambda x: x.isin("the", "a", "of", "and", "is", "fast", "slow", "small", "big"))).cast("long")
    de = F.size(F.filter(toks, lambda x: x.isin("der", "die", "das", "und", "ist", "schnell", "klein"))).cast("long")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        en.alias("en_votes"),
        de.alias("de_votes"),
        F.when((en >= de) & (en > 0), "en").when(de > en, "de").otherwise("und").alias(
            "predicted_lang"
        ),
    )


@query(
    "doc_fingerprint",
    oracle=f"""
WITH s AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(length(text) - 4, 1)),
                        i -> substr(text, i, 5)) AS sh
  FROM documents
)
SELECT doc_id,
       list_min(list_transform(sh, g -> {_MD5L.format(e='g')})) AS fingerprint
FROM s
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: min hash over all character
    5-gram shingles — a 1-permutation MinHash; identical docs get
    identical fingerprints, near-identical docs collide with prob ≈
    Jaccard similarity of their shingle sets.

    One md5 per character 5-gram is the per-row cost (L ≈ doc length
    hashes per doc, interpreted HOF): fan the single-split bench scan
    out first so the hashing parallelizes (guide §2.5; measured
    2.7 s → 0.33 s at sf0.1; no-op at real split counts — tried and
    rejected instead: an explode+codegen rewrite, which was no faster
    single-task because the md5 itself dominates)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    sh = char_shingles(F.col("text"), 5)
    return docs.select(
        "doc_id",
        F.array_min(F.transform(sh, lambda g: md5_long(g))).alias("fingerprint"),
    )


@query(
    "token_count_bpe",
    oracle=r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))::BIGINT AS n_bpe_tokens
FROM documents
""",
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish tokenizer proxy: regex token classes (letter runs, digit
    runs, single punctuation) — the standard pre-tokenization split."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


@query(
    "line_span_slice",
    oracle="""
SELECT doc_id,
       coalesce(array_to_string(list_slice(string_split(text, ' '), 2, 5), ' '), '')
         AS span
FROM documents
""",
)
def line_span_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 line-span slice (reference reader.py:1061-1063
    `lines[start:end]`): slice tokens 2..5 and re-join."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.array_join(F.slice(F.split("text", " "), 2, 4), " ").alias("span"),
    )


@query(
    "regex_extract_span",
    oracle="""
SELECT doc_id, regexp_extract(text, 'key ([a-z]+)', 1) AS after_key
FROM documents
WHERE regexp_matches(text, 'key [a-z]+')
""",
)
def regex_extract_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 regex span extraction (reference reader.py:256-284 extracts the
    Build→Changes block of sbuild logs with a DOTALL regex)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("text").rlike("key [a-z]+")).select(
        "doc_id", F.regexp_extract("text", "key ([a-z]+)", 1).alias("after_key")
    )


@query(
    "whitespace_collapse",
    oracle="""
SELECT doc_id, md5(trim(regexp_replace(text, ' +', ' ', 'g'))) AS digest
FROM documents
""",
)
def whitespace_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/F9 whitespace normalization (reference reader.py:464-465
    collapses blank runs + rstrips lines); digest keeps output compact."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.trim(F.regexp_replace("text", " +", " ")).cast("binary")).alias("digest"),
    )


@query(
    "string_shorten",
    oracle="""
SELECT doc_id,
       CASE WHEN length(text) > 64 THEN substr(text, 1, 64) || '...'
            ELSE text END AS short_text
FROM documents
""",
)
def string_shorten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 string clamp (reference frontend.py:250-251: 512-char clamp +
    ellipsis for retrieved snippets; 64 here)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.when(
            F.length("text") > 64, F.concat(F.substring("text", 1, 64), F.lit("..."))
        )
        .otherwise(F.col("text"))
        .alias("short_text"),
    )


@query(
    "hash_embedding",
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
def hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 deterministic embedding backend. The reference's test embedding
    is np.random — NONdeterministic (embeddings.py:137,151); ours hashes
    (dim_index | text) through md5 so tests are reproducible, then applies
    the same truncate+normalize insert invariant (vectordb.py:81-86).
    dim=8 shown; per-row expression, embarrassingly parallel."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: (
            md5_long(F.concat_ws("|", i.cast("string"), F.col("text"))) % 1000
        ).cast("double")
        / 1000.0
        - 0.5,
    )
    nrm = F.sqrt(F.aggregate(raw, F.lit(0.0), lambda a, x: a + x * x))
    # nrm must not sit inside the per-element lambda (the fold — and
    # the 8 md5s feeding it — would re-evaluate per element, the
    # nested-fold class the expr-blowup audit flags); array_repeat
    # evaluates its element argument once per row
    normed = F.zip_with(
        raw, F.array_repeat(nrm, F.size(raw)), lambda x, n: x / n
    )
    unit = F.sqrt(F.aggregate(normed, F.lit(0.0), lambda a, y: a + y * y))
    return docs.select(
        "doc_id",
        F.round(F.element_at(raw, 1) / nrm, 6).alias("c0"),
        F.round(F.element_at(raw, 2) / nrm, 6).alias("c1"),
        F.round(unit, 6).alias("unit_norm"),
    )


from ..functions.htmltext import DUCKDB_NORMALIZE as _DUCKDB_NORM  # noqa: E402

_HTML_STRIP_RAW = (
    "repeat(chr(10), 2) || source || repeat(chr(10), 3) || source"
    " || ' & more' || repeat(chr(10), 2) || text || ' ' || chr(8212)"
    " || ' tail' || repeat(chr(10), 2) || 'nested bold' || chr(10)"
    " || 'end' || repeat(chr(10), 3)"
)


@query(
    "html_strip",
    oracle=f"""
SELECT doc_id, {_DUCKDB_NORM.format(e=_HTML_STRIP_RAW)} AS stripped
FROM documents
""",
)
def html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 HTML→text at bs4 parity (reference reader.py:462-466:
    BeautifulSoup.get_text → strip → collapse blank runs → rstrip
    lines). Round 7 upgrade (VERDICT r6 #2): the default extractor is
    now a REAL HTML tokenizer (functions/htmltext.html_to_text, the
    same stdlib parser bs4's 'html.parser' backend wraps) run as an
    Arrow-batched stage — not a tag regexp. The rendered fixture is
    deliberately adversarial: a DOCTYPE, a comment, a script body
    containing markup (`"<p>not text</p>"` — CDATA content model, must
    not leak), a quoted attribute containing '>' (`title="a>b"` — a
    regexp stripper truncates the tag there), named + numeric entities
    (&amp;, &#8212;), a CDATA marked section, and nested inline tags.
    Document columns are entity-escaped into the HTML and decoded back
    out by the parser, so the oracle predicts the exact extracted text
    from the raw columns and replays the engine's normalize pipeline
    (strip → collapse 3+ newlines → rstrip lines) in SQL. Scale shape:
    zero shuffle, scan-parallel Arrow batches; the JVM regexp chain
    survives as read_html(fast=True) for throughput-first passes.

    No fan_out here (round 15): the r14 repartition before the Arrow
    tokenizer stage was a driver-measured regression (0.845→1.084 s at
    32 cores vs 0.586 s at 8 — inverse scaling; VERDICT r14 #2). The
    per-row tokenizer work on this corpus is too light to amortize a
    32-way exchange of the full text payload; the Arrow stage rides
    the scan's own splits instead (guide §2 partition sizing)."""
    from ..functions.htmltext import extract_html_text

    docs = load_table(spark, sf_dir, "documents")

    def esc(col):
        return F.replace(
            F.replace(
                F.replace(col, F.lit("&"), F.lit("&amp;")),
                F.lit("<"),
                F.lit("&lt;"),
            ),
            F.lit(">"),
            F.lit("&gt;"),
        )

    html = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>"),
        esc(F.col("source")),
        F.lit(
            '</title><script type="text/javascript">var s = '
            '"<p>not text</p>";</script></head><body><!-- hidden -->'
            '<h1 class="x" title="a>b">'
        ),
        esc(F.col("source")),
        F.lit(" &amp; more</h1><p>"),
        esc(F.col("text")),
        F.lit(" &#8212; tail</p><![CDATA[ not text ]]><div>nested <b>bold</b><br>end</div></body></html>"),
    )
    return extract_html_text(docs.select("doc_id", html.alias("html")))


@query(
    "section_split",
    oracle="""
WITH lines AS (
  SELECT doc_id, s.i AS i,
         CASE WHEN s.i % 11 = 1 THEN '====' ELSE s.w END AS line
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(string_split(text, ' '))),
                  i -> {'i': i, 'w': string_split(text, ' ')[i]})) AS s
    FROM documents
  )
),
sectioned AS (
  SELECT doc_id, i, line,
         sum(CASE WHEN line SIMILAR TO '=+' THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i) AS section
  FROM lines
)
SELECT doc_id, section::BIGINT AS section, count(*)::BIGINT AS n_lines,
       array_to_string(array_agg(line ORDER BY i), ' ') AS body
FROM sectioned WHERE line NOT SIMILAR TO '=+'
GROUP BY doc_id, section
""",
)
def section_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18 sectioned-document source (reference policy.py:23-137: scan a
    manual for separator lines, index sections, random access by section
    number). Spark shape per SURVEY §2.1: posexplode the line axis →
    DETECT separator lines by regex → section id = running count of
    separators (window over line numbers) → group lines back into
    section bodies. Separator lines are injected deterministically
    (every 11th word-line) since the synthetic docs are separator-free;
    detection is still by regex, as the reference does it.

    Scale: the window partitions by doc_id — per-document state only,
    no global sort; a billion-doc corpus sections in one pass.

    No fan_out here (round 15): the heavy work happens AFTER the
    posexplode + Window.partitionBy(doc_id), whose own Exchange already
    redistributes by doc_id — an upstream repartition buys nothing that
    shuffle doesn't and was a driver-measured regression (0.783→1.912 s
    at 32 cores vs 0.585 s at 8 — inverse scaling; VERDICT r14 #1,
    guide §2.4 "two operations keyed the same way share one exchange")."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    ).select(
        "doc_id",
        (F.col("pos") + 1).alias("i"),
        F.when(F.col("pos") % 11 == 0, F.lit("====")).otherwise(F.col("word")).alias(
            "line"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    sectioned = lines.withColumn(
        "section",
        F.sum(F.when(F.col("line").rlike("^=+$"), 1).otherwise(0)).over(w),
    )
    return (
        sectioned.filter(~F.col("line").rlike("^=+$"))
        .groupBy("doc_id", "section")
        .agg(
            F.count("*").alias("n_lines"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "line"))),
                    lambda s: s["line"],
                ),
                " ",
            ).alias("body"),
        )
    )


@query(
    "section_lookup",
    oracle="""
WITH lines AS (
  SELECT doc_id, s.i AS i,
         CASE WHEN s.i % 11 = 1 THEN '====' ELSE s.w END AS line
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(string_split(text, ' '))),
                  i -> {'i': i, 'w': string_split(text, ' ')[i]})) AS s
    FROM documents
  )
),
lv AS (
  SELECT doc_id, i, line,
         CASE WHEN line SIMILAR TO '=+'
              THEN CASE WHEN ((i - 1) // 11) % 3 = 0 THEN 1 ELSE 2 END
              ELSE 0 END AS lev
  FROM lines
),
s1 AS (
  SELECT *, sum(CASE WHEN lev = 1 THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY i) AS sec1
  FROM lv
),
s2 AS (
  SELECT *, sum(CASE WHEN lev = 2 THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id, sec1 ORDER BY i) AS sec2
  FROM s1
)
SELECT doc_id, '2.1' AS section_no, count(*)::BIGINT AS n_lines,
       array_to_string(array_agg(line ORDER BY i), ' ') AS body
FROM s2
WHERE lev = 0 AND sec1 = 2 AND sec2 = 1
GROUP BY doc_id
""",
)
def section_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18 random access by DOTTED section number (reference
    policy.py:92-137 ``__getitem__('4.9.2')``: map a dotted index to a
    separator level, scan to the section start, collect lines until the
    next same-level separator). Spark shape: the sectioning pass assigns
    every line a hierarchical (sec1, sec2) number — level-1 separators
    bump sec1, level-2 separators bump sec2 *within* the current sec1
    (window partitioned by (doc_id, sec1), so the subsection counter
    resets at each section boundary exactly like the reference's
    scan-until-next-same-level rule) — then the lookup is a plain
    equality filter on the dotted key.

    Separator levels are derived arithmetically from the deterministic
    injection (every 11th word-line; ordinal % 3 == 1 -> level 1) so no
    extra window is needed to rank separators.

    Scale: both windows partition by doc_id — per-document state, no
    global sort; the dotted key is filterable/partition-prunable at
    rest, so ``doc['2.1']`` on a billion-doc corpus is a pruned scan,
    not a gather."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    ).select(
        "doc_id",
        (F.col("pos") + 1).alias("i"),
        F.when(F.col("pos") % 11 == 0, F.lit("====")).otherwise(F.col("word")).alias(
            "line"
        ),
        F.when(
            F.col("pos") % 11 == 0,
            F.when((F.expr("pos div 11") % 3) == 0, F.lit(1)).otherwise(F.lit(2)),
        )
        .otherwise(F.lit(0))
        .alias("lev"),
    )
    w1 = Window.partitionBy("doc_id").orderBy("i")
    s1 = lines.withColumn(
        "sec1", F.sum(F.when(F.col("lev") == 1, 1).otherwise(0)).over(w1)
    )
    w2 = Window.partitionBy("doc_id", "sec1").orderBy("i")
    s2 = s1.withColumn(
        "sec2", F.sum(F.when(F.col("lev") == 2, 1).otherwise(0)).over(w2)
    )
    return (
        s2.filter((F.col("lev") == 0) & (F.col("sec1") == 2) & (F.col("sec2") == 1))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "line"))),
                    lambda s: s["line"],
                ),
                " ",
            ).alias("body"),
        )
        .select(
            "doc_id", F.lit("2.1").alias("section_no"), "n_lines", "body"
        )
    )


@query(
    "repetition_stats",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS.format(t='text')} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
wc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
tw AS (SELECT doc_id, sum(c) AS n, count(*) AS nd, max(c) AS topc FROM wc GROUP BY doc_id),
bg AS (SELECT doc_id,
              unnest(list_transform(range(1, len(toks)),
                                    i -> toks[i] || ' ' || toks[i + 1])) AS b
       FROM t WHERE len(toks) >= 2),
bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
tb AS (SELECT doc_id, max(c) AS topb FROM bc GROUP BY doc_id)
SELECT t.doc_id,
       coalesce(n, 0)::BIGINT AS n_tokens,
       coalesce(nd, 0)::BIGINT AS n_distinct,
       coalesce(topc, 0)::BIGINT AS top_token_count,
       coalesce(topb, 0)::BIGINT AS top_bigram_count,
       CASE WHEN n IS NULL THEN NULL
            ELSE (floor((2 * ((n - nd) * 1000000) + greatest(n, 1)) / (2.0 * (greatest(n, 1))))::BIGINT) / 1000000.0 END AS dup_token_frac,
       CASE WHEN n IS NULL THEN NULL
            ELSE (floor((2 * (topc * 1000000) + greatest(n, 1)) / (2.0 * (greatest(n, 1))))::BIGINT) / 1000000.0 END AS top_token_frac,
       CASE WHEN n >= 2 THEN (floor((2 * (topb * 1000000) + greatest(n - 1, 1)) / (2.0 * (greatest(n - 1, 1))))::BIGINT) / 1000000.0
            ELSE NULL END AS top_bigram_frac
FROM t LEFT JOIN tw USING (doc_id) LEFT JOIN tb USING (doc_id)
""",
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): fraction
    of duplicate tokens, and the occurrence fraction of the most common
    token / adjacent bigram — the standard "degenerate repetition" gate
    a training-data pipeline applies before dedup.

    Counts come from one zero-shuffle Arrow pass
    (operators/textprofile.py — modal counts have no Catalyst builtin
    and HOF folds are interpreted); all ratios + round(6) stay JVM-side
    so both engines share identical IEEE division. NULL ratios for
    token-less docs (ANSI: no /0), NULL bigram fraction for 1-token
    docs. The oracle replays the same counts via unnest + GROUP BY."""
    docs = load_table(spark, sf_dir, "documents")
    counts = repetition_counts(docs)
    nl = F.col("n_tokens").cast("long")
    dn = F.greatest(nl, F.lit(1))
    dn1 = F.greatest(nl - 1, F.lit(1))
    # all three fractions are ratios of integer counts -> exact units
    dup_u = half_up_ratio_nonneg(((nl - F.col("n_distinct")) * F.lit(1_000_000)).cast("long"), dn)
    top_u = half_up_ratio_nonneg((F.col("top_token_count") * F.lit(1_000_000)).cast("long"), dn)
    bg_u = half_up_ratio_nonneg((F.col("top_bigram_count") * F.lit(1_000_000)).cast("long"), dn1)
    has = nl > 0
    return counts.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "top_token_count",
        "top_bigram_count",
        F.when(has, dup_u.cast("double") / 1e6).alias("dup_token_frac"),
        F.when(has, top_u.cast("double") / 1e6).alias("top_token_frac"),
        F.when(nl >= 2, bg_u.cast("double") / 1e6).alias("top_bigram_frac"),
    )


@query(
    "topk_ngrams",
    oracle=f"""
WITH t AS (SELECT {_TOKS.format(t='text')} AS toks FROM documents),
bg AS (SELECT unnest(list_transform(range(1, len(toks)),
                                    i -> toks[i] || ' ' || toks[i + 1])) AS ngram
       FROM t WHERE len(toks) >= 2)
SELECT ngram, count(*)::BIGINT AS cnt
FROM bg GROUP BY ngram
ORDER BY cnt DESC, ngram LIMIT 20
""",
)
def topk_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics op: global top-20 adjacent word bigrams —
    the vocabulary/phrase census a pipeline runs to spot boilerplate
    (navigation strings, license headers) worth filtering.

    Scale shape: bigrams are per-row array math (no self-join), the
    count is a map-side-combined groupBy on the ngram (the only
    shuffle, already shrunk to distinct-ngrams-per-partition), and the
    top-k plans TakeOrderedAndProject — never a global sort. Ties at
    the k-boundary break on the ngram string so the result SET is
    deterministic cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return (
        docs.filter(F.size(toks) >= 2)
        .select(F.explode(word_shingles(F.col("text"), 2)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("ngram"))
        .limit(20)
    )


@query(
    "ngram_lm_score",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS.format(t='text')} AS toks FROM documents),
bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                                            i -> toks[i] || ' ' || toks[i + 1])) AS bg
       FROM t WHERE len(toks) >= 2),
cbg AS (SELECT bg, count(*) AS c FROM bg GROUP BY bg),
cw1 AS (SELECT string_split(bg, ' ')[1] AS w1, count(*) AS c FROM bg GROUP BY w1),
scored AS (
  SELECT b.doc_id,
         round(ln(cbg.c::DOUBLE / cw1.c::DOUBLE), 6)::DECIMAL(24, 6) AS lp
  FROM bg b
  JOIN cbg ON b.bg = cbg.bg
  JOIN cw1 ON string_split(b.bg, ' ')[1] = cw1.w1
)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       ((CASE WHEN (sum(lp) * 1000000)::BIGINT < 0 THEN -1 ELSE 1 END) * (((abs((sum(lp) * 1000000)::BIGINT) - abs((sum(lp) * 1000000)::BIGINT) % count(*)) // count(*)) + (CASE WHEN 2 * (abs((sum(lp) * 1000000)::BIGINT) % count(*)) >= count(*) THEN 1 ELSE 0 END))) / 1000000.0 AS avg_logp
FROM scored GROUP BY doc_id
""",
)
def ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality signal WITHOUT a model: per-doc average
    bigram conditional log-likelihood ln c(w1,w2)/c(w1,·) under the
    corpus's OWN bigram statistics (the classic cheap LM-quality proxy
    — boilerplate and fluent text score high, shredded/duplicated-token
    junk scores low; CCNet-style pipelines use exactly this shape to
    rank documents before an expensive model pass).

    Scale shape: bigrams are per-row array math; the LM "training" is
    two map-side-combined groupBys (bigram counts, prefix counts); the
    scoring pass is two equi-joins on those keys + one per-doc agg. At
    100 TB the LM table is truncated to top-K bigrams with a floor
    probability and BROADCAST — the joins disappear; here both joins
    shuffle on the count keys, which is the same plan family as
    dedup_exact.

    IEEE discipline: the per-bigram log is rounded to 6 dp then summed
    as DECIMAL(24,6) — exact integer arithmetic, so the cross-engine
    hash never depends on float summation order (only on libm ln
    agreeing to 6 dp on identical doubles, the same bet every rounded
    query makes on identical scalars)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = tokens(F.col("text"))
    bg = docs.filter(F.size(toks) >= 2).select(
        "doc_id", F.explode(word_shingles(F.col("text"), 2)).alias("bg")
    )
    cbg = bg.groupBy("bg").agg(F.count("*").alias("cb"))
    cw1 = (
        bg.select(F.split("bg", " ").getItem(0).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("cw"))
    )
    scored = (
        bg.join(cbg, "bg")
        .withColumn("w1", F.split("bg", " ").getItem(0))
        .join(cw1, "w1")
        .select(
            "doc_id",
            F.round(F.log(F.col("cb").cast("double") / F.col("cw").cast("double")), 6)
            .cast("decimal(24,6)")
            .alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        # sum(lp) is DECIMAL(24,6): avg = (S*1e6)/c in exact units
        (
            half_up_ratio(
                (F.sum("lp") * F.lit(1_000_000)).cast("long"),
                F.count("*").cast("long"),
            ).cast("double")
            / 1e6
        ).alias("avg_logp"),
    )


# PII patterns — deliberately restricted to constructs Java regex and
# RE2 (DuckDB) interpret identically: literal classes, bounded repeats,
# \b word boundaries; no backreferences or lookarounds. Redaction order
# is email → IP → phone (emails may contain digits; IPs contain dots the
# phone class excludes, so later passes never see earlier matches).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+?\d[\d\- ]{7,13}\d"

_PII_ORACLE = """
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
         '@EMAIL@', '<EMAIL>', 'g'),
         '@IP@', '<IP>', 'g'),
         '@PHONE@', '<PHONE>', 'g') AS clean_text,
       len(regexp_extract_all(text, '@EMAIL@'))::BIGINT AS n_emails,
       len(regexp_extract_all(text, '@IP@'))::BIGINT AS n_ips,
       len(regexp_extract_all(text, '@PHONE@'))::BIGINT AS n_phones
FROM documents
""".replace("@EMAIL@", _PII_EMAIL).replace("@IP@", _PII_IP).replace(
    "@PHONE@", _PII_PHONE
)


@query("pii_redact", oracle=_PII_ORACLE)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass a curation pipeline runs
    before a corpus ships (emails, IPv4 addresses, phone-shaped number
    runs → typed placeholders), with per-doc match counts for the
    removal report.

    Scale shape: a per-row chain of three codegen'd regexp_replace
    calls + three regexp_count probes on the original text — zero
    shuffle, zero UDFs, pushable behind any upstream filter. Counts are
    taken on the RAW text so they are independent of redaction order;
    the replace chain is ordered so no pass can match inside an earlier
    pass's output. The synthetic corpus contains no PII (counts are 0
    — cross-engine agreement on the identity transform); planted
    PII docs are pinned in tests and the edge-corpus gate."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    t = F.col("text")
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _PII_EMAIL, "<EMAIL>"), _PII_IP, "<IP>"
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        F.regexp_count(t, F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(_PII_IP)).cast("long").alias("n_ips"),
        F.regexp_count(t, F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
    )


@query(
    "corpus_quantiles",
    oracle=f"""
SELECT lang, count(*)::BIGINT AS n_docs,
       ({half_up_scaled_ratio_sql("sum(n_chars)", "count(*)")}) / 1000000.0 AS mean_chars,
       round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
       round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
       round(quantile_cont(n_chars, 0.99), 6) AS p99_chars
FROM documents GROUP BY lang
""",
)
def corpus_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length-distribution profile: per-language doc counts and
    exact n_chars percentiles — the profiling pass a pipeline runs
    BEFORE choosing length-filter thresholds (the min/max-length cuts
    in quality_score are someone's p1/p99 read off this table).

    EXACT percentiles (both engines interpolate identically on the
    sorted values) so the query oracles; at 100 TB the same query ships
    with ``approx_percentile`` (t-digest: one pass, mergeable sketches,
    no per-group sort) — the swap is one function name, and the exact
    variant stays as the sketch's accuracy gate at sample scale. The
    groupBy key is low-cardinality (languages), so the shuffle moves
    one sketch per (partition, lang), not rows."""
    docs = load_table(spark, sf_dir, "documents")
    pcts = {"p50_chars": 0.5, "p90_chars": 0.9, "p99_chars": 0.99}
    return docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        # n_chars is integral: mean is a ratio of integers -> exact
        # units. CORPUS-SCALE sum numerator -> decimal-exact scaled
        # helper (sum(n_chars)*1e6 passes 2^53 at ~4.5e9 chars — well
        # inside 100 TB; ADVICE r5).
        (
            half_up_scaled_ratio(
                F.sum("n_chars"),
                F.count("*").cast("long"),
            ).cast("double")
            / 1e6
        ).alias("mean_chars"),
        *[
            F.round(F.percentile(F.col("n_chars"), F.lit(p)), 6).alias(name)
            for name, p in pcts.items()
        ],
    )


# ---------------------------------------------------------------------------
# BM25 full-text retrieval
# ---------------------------------------------------------------------------

#: fixed literal search query (engine capability demo — at serving time the
#: terms are parameters; the plan shape is identical for any short query).
_BM25_TERMS = ("vector", "merge", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_tf_sql(term: str) -> str:
    return f"len(list_filter(toks, x -> x = '{term}'))::DOUBLE"


def _bm25_w_sql(i: int) -> str:
    """Per-term BM25 weight (Lucene idf variant — always positive)."""
    return (
        f"ln(1.0 + (s.n - s.df{i} + 0.5) / (s.df{i} + 0.5)) * "
        f"(b.tf{i} * ({_BM25_K1} + 1.0)) / "
        f"(b.tf{i} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * "
        f"(CASE WHEN s.avgdl > 0 THEN b.dl / s.avgdl ELSE 0.0 END)))"
    )


@query(
    "bm25_search",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS.format(t='lower(text)')} AS toks FROM documents),
b AS (SELECT doc_id, len(toks)::DOUBLE AS dl,
             {', '.join(f'{_bm25_tf_sql(t)} AS tf{i}' for i, t in enumerate(_BM25_TERMS))}
      FROM t),
s AS (SELECT count(*)::DOUBLE AS n, coalesce(avg(dl), 0.0) AS avgdl,
             {', '.join(f'sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)::DOUBLE AS df{i}' for i in range(len(_BM25_TERMS)))}
      FROM b)
SELECT b.doc_id,
       round({' + '.join(_bm25_w_sql(i) for i in range(len(_BM25_TERMS)))}, 6) AS bm25
FROM b CROSS JOIN s
ORDER BY bm25 DESC, b.doc_id LIMIT 10
""",
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked full-text retrieval: top-10 documents for a fixed
    multi-term query (k1=1.2, b=0.75, Lucene's always-positive idf
    ``ln(1 + (N-df+0.5)/(df+0.5))``). The text twin of
    ``topk_retrieval`` — the reference serves vector search (app.py
    /context); a drop-in engine needs the lexical side of hybrid
    retrieval too.

    Scale shape: the query is a SHORT literal term list, so per-doc
    term frequencies are per-row array expressions (one tokenize, one
    ``filter``-count per term — no explode, no join, no shuffle over
    data rows). Corpus statistics (N, avgdl, per-term df) reduce to ONE
    row via map-side partial aggregation, then broadcast back with a
    1-row cross join (same pattern as corpus_mixture's totals). Scoring
    is a pure map pass; the top-10 plans TakeOrderedAndProject — never
    a global sort. At 100 TB this is two scans (a stats pass feeding a
    scalar agg, then the scoring pass — the shape of any
    global-normalization op); for
    arbitrary ad-hoc queries the same tf/df machinery persists as a
    (term → posting list) table bucketed by term, exactly like the
    minhash signature table — scoring then joins the tiny query-term
    slice of the index instead of rescanning text.

    IEEE discipline: dl and tf are integer-valued doubles, so N/avgdl/
    df aggregate EXACTLY in any summation order; idf and the per-term
    weights are computed from those exact scalars by an identical
    formula on both engines, summed in fixed term order, rounded to
    6 dp, and the sort key is the ROUNDED score (tie-break doc_id) so
    the top-10 set and order are deterministic cross-engine."""
    docs = load_table(spark, sf_dir, "documents")

    def tf(term: str) -> F.Column:
        # NB: single-parameter lambda — a second parameter (even with a
        # default) makes PySpark pass the ELEMENT INDEX as that arg.
        return F.size(F.filter(F.col("toks"), lambda x: x == F.lit(term)))

    base = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("toks")
    ).select(
        "doc_id",
        F.size("toks").cast("double").alias("dl"),
        *[tf(t).cast("double").alias(f"tf{i}") for i, t in enumerate(_BM25_TERMS)],
    )
    stats = base.agg(
        F.count("*").cast("double").alias("n"),
        F.coalesce(F.avg("dl"), F.lit(0.0)).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))

    def weight(i: int) -> F.Column:
        idf = F.log(
            F.lit(1.0)
            + (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
        )
        norm_dl = F.when(
            F.col("avgdl") > 0, F.col("dl") / F.col("avgdl")
        ).otherwise(F.lit(0.0))
        return idf * (
            (F.col(f"tf{i}") * (_BM25_K1 + 1.0))
            / (
                F.col(f"tf{i}")
                + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * norm_dl)
            )
        )

    total = weight(0)
    for i in range(1, len(_BM25_TERMS)):
        total = total + weight(i)
    return (
        scored.select("doc_id", F.round(total, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "tfidf_topterms",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS.format(t='text')} AS toks FROM documents),
total AS (SELECT count(*) AS n_docs FROM documents),
e AS (SELECT doc_id, len(toks) AS n_toks, unnest(toks) AS term FROM t),
tf AS (
  SELECT doc_id, term, count(*) AS cnt, any_value(n_toks) AS n_toks
  FROM e GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT doc_id, term,
         round((cnt::DOUBLE / n_toks) * ln(n_docs::DOUBLE / df), 6) AS score
  FROM tf JOIN dfreq USING (term), total
)
SELECT doc_id, term, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= 3
""",
)
def tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction: top-3 terms per doc by
    (tf / doc_len) * ln(N / df) — the classic salience score a corpus
    profiler runs alongside topk_ngrams (global census) to get
    per-document descriptors.

    Scale shape: term frequencies are ONE (doc_id, term) groupBy with
    map-side combine; document frequency reuses that result with a
    second, vocabulary-sized groupBy (no re-scan of the corpus); the
    vocab-sized df table broadcasts back (shuffle join on term if a
    web-scale vocab outgrows the broadcast threshold — the plan is the
    same either way, AQE picks); top-3 is a row_number window
    partitioned BY DOC — thousands of parallel partitions, never a
    single-partition sort. Scores are 6dp-rounded before ranking, ties
    to the lexicographically smaller term (cross-engine contract)."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    toks = tokens(F.col("text"))
    # tokenize in its OWN projection, explode in the NEXT one: putting
    # size(toks) and explode(toks) in one select makes Catalyst evaluate
    # the interpreted split+filter chain per EXPLODED row — O(tokens²)
    # per doc (the quality_classifier_trained lesson; measured 3.95 s →
    # 0.24 s at sf0.1 for this stage, guide §4.4's duplicated-expensive-
    # expression class)
    pre = docs.select("doc_id", F.size(toks).alias("n_toks"), toks.alias("tk"))
    exploded = pre.select("doc_id", "n_toks", F.explode("tk").alias("term"))
    tf = exploded.groupBy("doc_id", "term").agg(
        F.count("*").alias("cnt"), F.first("n_toks").alias("n_toks")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    total = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        # no broadcast hint on dfreq: the df table is VOCABULARY-sized
        # (unbounded at web scale), and an explicit hint would override
        # AQE's size check — let AQE broadcast while it fits and fall
        # back to a shuffle join on `term` when it doesn't (VERDICT r4
        # "What's wrong" #1). At every tested sf AQE still picks
        # broadcast, so the physical plan is unchanged.
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("cnt").cast("double") / F.col("n_toks"))
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "score", "rank")
    )


# logit is a RATIO OF INTEGERS (weight-sum / token-count): its 6dp
# rounding must run in exact integer arithmetic or the engines can
# disagree at half-boundaries (functions/rounding.py; found by the
# round-5 sf0.1 sweep — one boundary row in each classifier).
_HUR_SQL_WSU = half_up_ratio_sql("wsu", "dn")


@query(
    "quality_classifier",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS.format(t='text')} AS toks FROM documents),
s AS (
  SELECT doc_id, len(toks) AS n, greatest(len(toks), 1)::BIGINT AS dn,
         (coalesce(list_sum(list_transform(toks,
            x -> ({_MD5L.format(e="'w|' || x")} % 2001) - 1000)), 0)
          * 1000)::BIGINT AS wsu
  FROM t
),
lg AS (
  SELECT doc_id, n,
         ({_HUR_SQL_WSU}) / 1000000.0 AS logit
  FROM s
)
SELECT doc_id, n::BIGINT AS n_tokens,
       CASE WHEN n = 0 THEN NULL ELSE logit END AS logit,
       CASE WHEN n = 0 THEN NULL
            ELSE round(1.0 / (1.0 + exp(-4.0 * logit)), 6) END AS prob,
       CASE WHEN n = 0 THEN false
            ELSE round(1.0 / (1.0 + exp(-4.0 * logit)), 6) >= 0.5 END AS keep
FROM lg
""",
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering in the fasttext SHAPE (the
    CCNet/LLaMA-recipe "quality classifier" stage): a linear model over
    hashed bag-of-words features — per token, weight = hashed-bucket
    lookup; per doc, logit = mean token weight, prob = sigmoid(4·logit),
    keep = prob >= 0.5. The weights here are the deterministic
    md5-derived stand-in (same seam discipline as hash_embedding vs
    provider_embedding): a TRAINED model drops in by replacing the
    weight expression with a broadcast weight-table join on the token
    hash — the plan shape (per-row fold, zero shuffle) is identical,
    and that is what this query pins.

    Scale shape: pure per-row Catalyst expressions — the token fold
    runs inside the row, no explode, no shuffle, scan-parallel at any
    corpus size. The weight sum folds as EXACT INTEGERS (weights are
    thousandths, summed as numerators), and logit's 6dp rounding is
    exact integer half-up (functions/rounding.py) — a float ws/n can
    land on a half-boundary where the engines' round() disagree (one
    real row at sf0.1, round 5). prob stays a transcendental round
    (measure-zero boundary) computed from the ROUNDED logit; keep
    reads the rounded prob (ties-at-boundary convention, ADVICE r3
    #1)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = tokens(F.col("text"))
    wu = lambda t: (md5_long(F.concat(F.lit("w|"), t)) % 2001) - 1000
    base = docs.select(
        "doc_id",
        F.size(toks).alias("n"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, t: a + wu(t)
        ).alias("wsu"),
    )
    lu = half_up_ratio(
        (F.col("wsu") * 1000).cast("long"),
        F.greatest(F.col("n"), F.lit(1)).cast("long"),  # guard INSIDE (ANSI)
    )
    logit = lu.cast("double") / 1e6
    prob = F.round(1.0 / (1.0 + F.exp(-4.0 * logit)), 6)
    nonempty = F.col("n") > 0
    return base.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.when(nonempty, logit).alias("logit"),
        F.when(nonempty, prob).alias("prob"),
        # token-less docs fail the filter OUTRIGHT (false, not NULL) —
        # a tri-state keep column helps nobody downstream
        F.when(nonempty, prob >= 0.5).otherwise(F.lit(False)).alias("keep"),
    )


_QC_BUCKETS = 4096  # hashed feature space — bounds the weight table

# The trained-classifier cache key embeds the LABEL HEURISTIC identity
# (stopword set + 50/50 blend constants + keep threshold + weight
# scale), not just corpus + bucket count: changing the bootstrap
# heuristic must RETRAIN, or the Spark side silently reuses stale
# weights while the DuckDB oracle retrains inline — the stale-artifact
# class tag_artifact was added to eliminate (ADVICE r5 #3).
import hashlib as _hashlib

_QC_HEUR = _hashlib.md5(
    ("|".join(_STOP) + "|blend=100p+qm/200q|thr=500000|w=round(ln*1e6)").encode()
).hexdigest()[:8]

_QC_B_SQL = f"({_MD5L.format(e=chr(39) + 'qw|' + chr(39) + ' || x')} % {_QC_BUCKETS})"


@query(
    "quality_classifier_trained",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS.format(t='text')} AS toks FROM documents),
lab AS (
  SELECT CASE WHEN (floor((2 * ((100 * p + q * m) * 1000000) + (200 * q)) / (2.0 * ((200 * q))))::BIGINT) >= 500000 THEN 1 ELSE 0 END AS pos, toks
  FROM (
    SELECT toks, greatest(len(toks), 1)::BIGINT AS q,
           len(list_filter(toks, x -> x IN {_STOP_SQL}))::BIGINT AS p,
           least(len(toks), 100)::BIGINT AS m
    FROM t WHERE len(toks) > 0
  )
),
e AS (SELECT pos, {_QC_B_SQL} AS b
      FROM (SELECT pos, unnest(toks) AS x FROM lab)),
w AS (
  SELECT b, round(ln((sum(pos) + 1)::DOUBLE
                     / (count(*) - sum(pos) + 1)) * 1000000.0)::BIGINT AS wu
  FROM e GROUP BY b
),
occ AS (SELECT doc_id, {_QC_B_SQL} AS b
        FROM (SELECT doc_id, unnest(toks) AS x FROM t)),
inf AS (
  SELECT occ.doc_id, sum(w.wu) AS ws FROM occ JOIN w USING (b)
  GROUP BY occ.doc_id
),
s0 AS (
  SELECT t.doc_id, len(t.toks) AS n, greatest(len(t.toks), 1)::BIGINT AS dn,
         coalesce(inf.ws, 0)::BIGINT AS wsu
  FROM t LEFT JOIN inf ON t.doc_id = inf.doc_id
),
s AS (
  SELECT doc_id, n,
         CASE WHEN n = 0 THEN NULL
              ELSE ({_HUR_SQL_WSU}) / 1000000.0 END AS logit
  FROM s0
)
SELECT doc_id, n::BIGINT AS n_tokens, logit,
       CASE WHEN n = 0 THEN NULL
            ELSE round(1.0 / (1.0 + exp(-4.0 * logit)), 6) END AS prob,
       CASE WHEN n = 0 THEN false
            ELSE round(1.0 / (1.0 + exp(-4.0 * logit)), 6) >= 0.5 END AS keep
FROM s
""",
)
def quality_classifier_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``quality_classifier`` with the md5 stand-in weights replaced by
    a REAL TRAINED weight table — the seam the md5 variant pins,
    exercised end-to-end (VERDICT r4 #4). Training is the CCNet
    bootstrap: label every document with the cheap heuristic
    (``quality_score``'s 50/50 stopword+length blend ≥ 0.5), hash each
    token occurrence into 4096 buckets, and fit per-bucket
    naive-Bayes log-odds ln((pos+1)/(neg+1)), stored as exact integer
    MICRO-UNITS (round(ln·10⁶)) so inference sums integers and the
    cross-engine hash never depends on float order (the
    ngram_lm_score discipline).

    Scale shape: training is one explode + one groupBy on a key space
    structurally bounded at 4096 (_QC_BUCKETS; map-side combine collapses
    it executor-side), run once per corpus; the learned table collapses
    to a SINGLE array literal (one Catalyst Literal node — the
    embedding_pca_project codegen-literal pattern), so inference is the
    IDENTICAL zero-shuffle per-row fold as the md5 variant: no explode,
    no join, no shuffle, scan-parallel at any corpus size. At
    fasttext-scale vocab (~2M buckets) the literal swaps for the
    hash_embedding Arrow path (weights in the worker closure); never a
    per-token equi-join."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    # CCNet-bootstrap label = the quality_score blend in exact integer
    # units ((100p + qm)/200q — the round-5 ratio convention), so the
    # pos/neg split can never flip cross-engine at a float boundary
    _p = F.size(F.filter(toks, lambda x: x.isin(*_STOP))).cast("long")
    _q = F.greatest(n, F.lit(1)).cast("long")
    _m = F.least(n, F.lit(100)).cast("long")
    quality_u = half_up_ratio_nonneg(
        ((F.lit(100) * _p + _q * _m) * F.lit(1_000_000)).cast("long"),
        (F.lit(200) * _q).cast("long"),
    )

    def bucket(t: F.Column) -> F.Column:
        return md5_long(F.concat(F.lit("qw|"), t)) % _QC_BUCKETS

    # -- train (cached per corpus like centroids/codebooks: the model
    # is fit once at ingest, read by every inference run; the key
    # embeds the bucket count so a _QC_BUCKETS bump retrains)
    import json as _json
    import os as _os

    from ..operators.artifacts import corpus_cache_path

    src = _os.path.join(sf_dir, "documents.parquet")
    wpath = corpus_cache_path(
        src,
        f"qcw_b{_QC_BUCKETS}_h{_QC_HEUR}_v1",
        "/tmp/spark_graft_artifacts/qc_weights",
        ext=".json",
    )
    if _os.path.exists(wpath):
        with open(wpath) as fh:
            weights = _json.load(fh)
    else:
        # bounded-key census + JVM-side ln (same libm pairing as
        # ngram_lm_score), collected as <=4096 rows — the centroid/BPE
        # class of bounded driver collect, run once per corpus.
        # label in its OWN projection BEFORE the explode: putting q and
        # explode(toks) in one select makes Catalyst evaluate the full
        # stopword-filter expression per EXPLODED row — O(tokens²) per
        # doc (measured 6.3 s -> 0.7 s at sf0.1 for the split)
        lab0 = docs.filter(n > 0).select(
            (quality_u >= 500_000).cast("int").alias("pos"), toks.alias("tk")
        )
        lab = lab0.select("pos", F.explode(F.col("tk")).alias("tok"))
        wdf = (
            lab.select("pos", bucket(F.col("tok")).alias("b"))
            .groupBy("b")
            .agg(
                F.sum("pos").alias("cpos"),
                (F.count("*") - F.sum("pos")).alias("cneg"),
            )
            .select(
                "b",
                F.round(
                    F.log(
                        (F.col("cpos") + 1).cast("double")
                        / (F.col("cneg") + 1).cast("double")
                    )
                    * 1e6
                )
                .cast("long")
                .alias("wu"),
            )
        )
        weights = [0] * _QC_BUCKETS
        for r in wdf.collect():
            weights[int(r["b"])] = int(r["wu"])
        _os.makedirs(_os.path.dirname(wpath), exist_ok=True)
        tmp = f"{wpath}.tmp-{_os.getpid()}"
        with open(tmp, "w") as fh:
            _json.dump(weights, fh)
        _os.replace(tmp, wpath)  # atomic; concurrent first-builds race benignly

    # -- infer: one array literal, zero-shuffle integer fold per row.
    # The literal is built from ONE parsed SQL string, not F.lit(list):
    # py4j converts a Python list literal element-by-element, and the
    # 4096-entry table measured 2.5 s of plan-CONSTRUCTION time per call
    # (the query ran in 0.7 s) — same Catalyst Literal node either way.
    warr = F.expr(f"array({','.join(str(w) for w in weights)})")
    ws = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.element_at(warr, (bucket(t) + 1).cast("int")),
    )
    base = docs.select("doc_id", n.alias("n"), ws.alias("ws"))
    # exact integer half-up: ws is micro-units, so logit's 6dp value IS
    # round(ws/n) — never a float boundary (functions/rounding.py)
    lu = half_up_ratio(
        F.col("ws"), F.greatest(F.col("n"), F.lit(1)).cast("long")
    )
    logit = lu.cast("double") / 1e6
    prob = F.round(1.0 / (1.0 + F.exp(-4.0 * logit)), 6)
    nonempty = F.col("n") > 0
    return base.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.when(nonempty, logit).alias("logit"),
        F.when(nonempty, prob).alias("prob"),
        F.when(nonempty, prob >= 0.5).otherwise(F.lit(False)).alias("keep"),
    )


# BPE merge training (tokenizer-training stage). The oracle unrolls
# N_MERGES rounds as a generated WITH chain: per round, weighted
# adjacent-pair census over the vocab's symbol lists -> argmax pair
# (ties lexicographic) -> left-to-right non-overlapping fold-merge.
N_MERGES = 4
tag_artifact("__BPE_MERGES__", f"m{N_MERGES}")


def _bpe_oracle() -> str:
    toks = _TOKS.format(t="text")
    ctes = [
        f"""v AS (
  SELECT word, count(*) AS cnt
  FROM (SELECT unnest({toks}) AS word FROM documents) GROUP BY word
),
w0 AS (SELECT word, cnt, string_split(word, '') AS syms FROM v)"""
    ]
    for r in range(1, N_MERGES + 1):
        p = r - 1
        ctes.append(f"""p{r} AS (
  SELECT syms[i] AS lhs, syms[i + 1] AS rhs, sum(cnt) AS total
  FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM w{p})
  GROUP BY lhs, rhs
),
b{r} AS (SELECT lhs, rhs, total FROM p{r}
         ORDER BY total DESC, lhs ASC, rhs ASC LIMIT 1),
w{r} AS (
  SELECT word, cnt,
         list_reduce(
           list_prepend([]::VARCHAR[], list_transform(syms, s -> [s])),
           (a, x) -> CASE WHEN len(a) > 0 AND a[-1] = b{r}.lhs AND x[1] = b{r}.rhs
                          THEN a[1:len(a)-1] || [b{r}.lhs || b{r}.rhs]
                          ELSE a || x END) AS syms
  FROM w{p}, b{r}
)""")
    selects = " UNION ALL ".join(
        f"SELECT {r} AS merge_rank, lhs, rhs, lhs || rhs AS merged,"
        f" total::BIGINT AS pair_count FROM b{r}"
        for r in range(1, N_MERGES + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


@query("bpe_train_merges", oracle=_bpe_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TOKENIZER TRAINING — the first N_MERGES merge rules learned
    from the corpus (Sennrich et al. 2016, the algorithm behind every
    GPT/Llama tokenizer): start from character symbols, repeatedly take
    the adjacent symbol pair with the highest corpus-weighted count
    (ties to the lexicographically smaller pair) and fuse its
    left-to-right non-overlapping occurrences.

    Scale shape — the reason BPE training is feasible at 100 TB: the
    CORPUS is touched exactly once, by the word-frequency census (one
    groupBy with map-side combine); every merge round after that runs
    on the weighted VOCABULARY (millions of rows however big the
    corpus), so the iteration cost is corpus-size-independent. Per
    round: one vocab-sized pair groupBy + a 1-row argmax collect (loop
    control reads only the winner — the repo's driver-loop rule), then
    the fold-merge is a per-row expression. Both engines fold symbols
    left-to-right, so merge application is bit-identical; the oracle
    replays all rounds as an unrolled CTE chain.

    The vocab size rides the census checkpoint and sizes the rounds'
    shuffles (:func:`loop_confs`); each round's superseded symbol table
    is freed once the next one is checkpointed."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    # vocab-sized checkpoint: truncates the per-round lineage
    syms, m = checkpoint_observed(
        vocab.select(
            "word",
            "cnt",
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.substring(F.col("word"), i, F.lit(1)),
            ).alias("syms"),
        ),
        n=F.count(F.lit(1)),
    )
    rows = []
    with loop_confs(spark, int(m["n"]), 2_000_000):  # ~2M vocab rows per part
        for r in range(1, N_MERGES + 1):
            pairs = (
                syms.select(
                    "cnt",
                    F.explode(
                        F.when(
                            F.size("syms") >= 2,
                            F.transform(
                                F.sequence(F.lit(1), F.size("syms") - 1),
                                lambda i: F.struct(
                                    F.element_at("syms", i).alias("lhs"),
                                    F.element_at("syms", i + 1).alias("rhs"),
                                ),
                            ),
                        ).otherwise(F.array().cast(
                            "array<struct<lhs:string,rhs:string>>"
                        ))
                    ).alias("pr"),
                )
                .groupBy("pr.lhs", "pr.rhs")
                .agg(F.sum("cnt").alias("total"))
                .orderBy(F.desc("total"), F.asc("lhs"), F.asc("rhs"))
                .limit(1)
            )
            best = pairs.head()
            if best is None:
                break
            lhs, rhs, total = best["lhs"], best["rhs"], int(best["total"])
            rows.append((r, lhs, rhs, lhs + rhs, total))
            merged_sym = F.lit(lhs + rhs)
            merged = syms.withColumn(
                "syms",
                F.aggregate(
                    F.col("syms"),
                    F.array().cast("array<string>"),
                    lambda acc, x: F.when(
                        (F.size(acc) > 0)
                        & (F.try_element_at(acc, F.lit(-1)) == F.lit(lhs))
                        & (x == F.lit(rhs)),
                        F.concat(
                            F.slice(acc, F.lit(1), F.size(acc) - 1),
                            F.array(merged_sym),
                        ),
                    ).otherwise(F.concat(acc, F.array(x))),
                ),
            ).localCheckpoint(eager=True)
            release(syms)
            syms = merged
    release(syms)
    return spark.createDataFrame(
        rows,
        "merge_rank long, lhs string, rhs string, merged string, pair_count long",
    )


# Winnowing (Schleimer/Wilkerson/Aiken 2003, the MOSS fingerprinter):
# guarantee-threshold local fingerprints — any shared substring of
# length >= WINNOW_W + WINNOW_K - 1 chars is caught by at least one
# shared fingerprint, while storing only ~2/(w+1) of the k-gram hashes.
WINNOW_K = 5  # char k-gram width (same as doc_fingerprint's shingles)
WINNOW_W = 4  # hashes per winnowing window


@query(
    "winnow_fingerprints",
    oracle=f"""
WITH s AS (
  SELECT doc_id,
         list_transform(
           list_transform(generate_series(1, greatest(length(text) - {WINNOW_K - 1}, 1)),
                          i -> substr(text, i, {WINNOW_K})),
           g -> {_MD5L.format(e='g')}) AS hs
  FROM documents
),
w AS (
  SELECT doc_id,
         CASE WHEN len(hs) < {WINNOW_W} THEN [list_min(hs)]
              ELSE list_transform(generate_series(1, len(hs) - {WINNOW_W - 1}),
                                  i -> list_min(hs[i : i + {WINNOW_W - 1}]))
         END AS mins
  FROM s
)
SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM w
""",
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING document fingerprints (the MOSS algorithm): hash every
    char {WINNOW_K}-gram, slide a window of {WINNOW_W} consecutive
    hashes, keep each window's MINIMUM, emit the distinct minima per
    doc. Unlike doc_fingerprint (one global minimum = whole-doc
    near-identity), winnowed fingerprints are LOCAL: two docs sharing
    any run of >= w+k-1 chars share at least one fingerprint — the
    guarantee threshold — so a fingerprint equi-join finds partial
    overlaps (plagiarized paragraphs, quoted boilerplate) that
    whole-doc MinHash dilutes away. Density is ~2/(w+1) of the k-gram
    count, the storage bound the paper proves optimal.

    Scale shape: entirely per-row array math (shingle → hash → sliding
    min → distinct) — zero shuffle, scan-parallel; the output
    fingerprint table is the thing you bucket/join downstream, and at
    rest it is written bucketed by fp exactly like the minhash
    signature table."""
    # the per-row work here (L md5'd k-grams + an O(L·W) sliding min,
    # both interpreted HOF expressions) dwarfs the scan: spread the
    # single-split bench file across the cluster first (guide §2.5;
    # measured 4.8 s → 0.7 s at sf0.1; no-op at real split counts)
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    hs = F.transform(char_shingles(F.col("text"), WINNOW_K), md5_long)

    def mins_of(arr):
        return F.when(
            F.size(arr) < WINNOW_W, F.array(F.array_min(arr))
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(arr) - (WINNOW_W - 1)),
                lambda i: F.array_min(F.slice(arr, i, WINNOW_W)),
            )
        )

    # bind the hash array ONCE per row (the word_shingles trick) —
    # referencing `hs` inside the window lambda would recompute the
    # whole shingle+md5 subtree per window
    mins = F.element_at(
        F.transform(F.array(hs), lambda arr: mins_of(arr)), 1
    )
    return docs.select(
        "doc_id", F.explode(F.array_distinct(mins)).alias("fp")
    )


# a fingerprint shared by more docs than this is boilerplate, not
# evidence — it is dropped before pairing (the discriminative-
# fingerprint rule; also the bucket-size bound that keeps the
# self-join from going quadratic on a hot fingerprint)
OVERLAP_MAX_DF = 50
OVERLAP_MIN_SHARED = 3


def winnow_fp_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED winnowed-fingerprint table — computed once per
    corpus (at ingest, exactly like the minhash signature table, and
    with the same file-identity cache key) and read by every
    overlap-detection run. At rest it is bucketed by fp, the pairing
    join's shuffle key. Consumers pay census + join, never the
    shingle/hash/sliding-min pass again."""
    import os

    from ..operators.artifacts import corpus_cache_path

    src = os.path.join(sf_dir, "documents.parquet")
    # tag embeds the winnowing parameters (k-gram width, window) —
    # the tag_artifact / qcw stale-cache lesson
    path = corpus_cache_path(
        src, f"wfp1_k{WINNOW_K}w{WINNOW_W}", "/tmp/spark_graft_signatures"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # keyed repartition (no explicit N) before the write: AQE
        # coalesces the post-shuffle partitions to the advisory size,
        # so the artifact lands as few, sensibly-sized, fp-clustered
        # files at any scale (guide §6 output sizing) — without it the
        # round-14 fan_out upstream would spray one tiny file per core
        winnow_fingerprints(spark, sf_dir).repartition(F.col("fp")).write.mode(
            "overwrite"
        ).parquet(path)
    from ..tables import read_parquet_plan_cached

    return read_parquet_plan_cached(spark, path)


@query(
    "fingerprint_overlap",
    oracle=f"""
WITH s AS (
  SELECT doc_id,
         list_transform(
           list_transform(generate_series(1, greatest(length(text) - {WINNOW_K - 1}, 1)),
                          i -> substr(text, i, {WINNOW_K})),
           g -> {_MD5L.format(e='g')}) AS hs
  FROM documents
),
w AS (
  SELECT doc_id,
         CASE WHEN len(hs) < {WINNOW_W} THEN [list_min(hs)]
              ELSE list_transform(generate_series(1, len(hs) - {WINNOW_W - 1}),
                                  i -> list_min(hs[i : i + {WINNOW_W - 1}]))
         END AS mins
  FROM s
),
fp AS (SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM w),
keep AS (
  SELECT fp FROM fp GROUP BY fp HAVING count(*) <= {OVERLAP_MAX_DF}
),
fpk AS (SELECT fp.* FROM fp JOIN keep USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared
FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY doc_a, doc_b
HAVING count(*) >= {OVERLAP_MIN_SHARED}
""",
)
def fingerprint_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap candidate pairs from the winnowed fingerprint
    table — the MOSS matching step: docs sharing >= {OVERLAP_MIN_SHARED}
    local fingerprints, with the shared count as the overlap score.
    Catches quoted paragraphs and shared boilerplate between otherwise
    different documents — the case doc-level MinHash dilutes away.

    Scale shape: pairing is an equi-join on the fingerprint value (one
    shuffle key — never a cross join), and the hot-bucket hazard is
    CAPPED before the join: a fingerprint appearing in >
    {OVERLAP_MAX_DF} docs is corpus boilerplate with no discriminative
    value and is dropped (the same ubiquity rule CommonCrawl pipelines
    apply to boilerplate shingles), which bounds any bucket's pair
    fan-out at {OVERLAP_MAX_DF}²/2. At rest the fingerprint table is
    bucketed by fp, making the join shuffle-free."""
    fp = winnow_fp_table(spark, sf_dir)
    keep = (
        fp.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= OVERLAP_MAX_DF)
        .select("fp")
    )
    fpk = fp.join(keep, "fp")
    a, b = fpk.alias("a"), fpk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= OVERLAP_MIN_SHARED)
    )


CONTAIN_MIN = 0.5  # report pairs where either side is >= half-contained
CONTAIN_DROP = 0.8  # removal threshold: drop a doc this contained in a larger one

# exact-integer 6dp containment units (functions/rounding.py — the
# round-5 ratio-rounding convention): containment is count/count, so
# its rounding and the >= thresholds run in integer arithmetic
_CONTAIN_MIN_U = int(round(CONTAIN_MIN * 1_000_000))
_CONTAIN_DROP_U = int(round(CONTAIN_DROP * 1_000_000))
_CU_A = half_up_ratio_nonneg_sql("(n_shared * 1000000)", "n_a")
_CU_B = half_up_ratio_nonneg_sql("(n_shared * 1000000)", "n_b")
_CU_V = half_up_ratio_nonneg_sql("cn", "vd")

# shared CTE chain: winnow -> df-cap -> pair join -> per-doc denominators;
# ends at `scored` = (doc_a, doc_b, n_shared, n_a, n_b) — consumed by the
# containment REPORT and the keep-rule TRANSFORM below
_CONTAIN_CTES = f"""s AS (
  SELECT doc_id,
         list_transform(
           list_transform(generate_series(1, greatest(length(text) - {WINNOW_K - 1}, 1)),
                          i -> substr(text, i, {WINNOW_K})),
           g -> {_MD5L.format(e='g')}) AS hs
  FROM documents
),
w AS (
  SELECT doc_id,
         CASE WHEN len(hs) < {WINNOW_W} THEN [list_min(hs)]
              ELSE list_transform(generate_series(1, len(hs) - {WINNOW_W - 1}),
                                  i -> list_min(hs[i : i + {WINNOW_W - 1}]))
         END AS mins
  FROM s
),
fp AS (SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM w),
keep AS (
  SELECT fp FROM fp GROUP BY fp HAVING count(*) <= {OVERLAP_MAX_DF}
),
fpk AS (SELECT fp.* FROM fp JOIN keep USING (fp)),
cnt AS (SELECT doc_id, count(*) AS n FROM fpk GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
  HAVING count(*) >= {OVERLAP_MIN_SHARED}
),
scored AS (
  SELECT doc_a, doc_b, n_shared, ca.n AS n_a, cb.n AS n_b
  FROM shared
  JOIN cnt ca ON ca.doc_id = doc_a
  JOIN cnt cb ON cb.doc_id = doc_b
)"""


@query(
    "fingerprint_containment",
    oracle=f"""
WITH {_CONTAIN_CTES}
SELECT doc_a, doc_b, n_shared::BIGINT AS n_shared,
       ({_CU_A}) / 1000000.0 AS cont_a,
       ({_CU_B}) / 1000000.0 AS cont_b
FROM scored
WHERE greatest(({_CU_A}), ({_CU_B})) >= {_CONTAIN_MIN_U}
""",
)
def fingerprint_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment over winnowed fingerprints — the
    doc-in-doc detector: cont_a = |FP(A) ∩ FP(B)| / |FP(A)| is high
    when A's content sits inside B even if B is far larger, exactly
    the pair Jaccard-style symmetric measures dilute to noise (a
    quoted article inside a digest page has Jaccard ~0.1 but
    containment ~1.0). This is MOSS's actual report ("% of A's
    fingerprints matched") and Broder's containment coefficient.

    Scale shape: everything downstream of the PERSISTED winnow table
    (winnow_fp_table — computed once per corpus at ingest): the pair
    join is the same df-capped fingerprint equi-join as
    fingerprint_overlap (bucket fan-out bounded at
    {OVERLAP_MAX_DF}^2/2), the per-doc denominators are one keyed
    count each, and the two denominator joins key on doc_id against
    pair rows — no corpus-sized broadcast, no cross join. The
    >= {OVERLAP_MIN_SHARED}-shared floor drops single-fingerprint
    coincidences before the ratio is taken; thresholds compare the
    6dp-ROUNDED ratios (both engines, the dedup_recall convention) so
    a boundary pair can't hash-flake."""
    scored = _containment_scored(spark, sf_dir)
    ca_u = half_up_ratio_nonneg(
        (F.col("n_shared") * F.lit(1_000_000)).cast("long"),
        F.col("n_a").cast("long"),
    )
    cb_u = half_up_ratio_nonneg(
        (F.col("n_shared") * F.lit(1_000_000)).cast("long"),
        F.col("n_b").cast("long"),
    )
    return (
        scored.filter(F.greatest(ca_u, cb_u) >= _CONTAIN_MIN_U)
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (ca_u.cast("double") / 1e6).alias("cont_a"),
            (cb_u.cast("double") / 1e6).alias("cont_b"),
        )
    )


def _containment_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_shared, n_a, n_b) over the persisted winnow
    table — the Spark twin of the oracle's `scored` CTE."""
    fp = winnow_fp_table(spark, sf_dir)
    keep = (
        fp.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= OVERLAP_MAX_DF)
        .select("fp")
    )
    fpk = fp.join(keep, "fp")
    cnt = fpk.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = fpk.alias("a"), fpk.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= OVERLAP_MIN_SHARED)
    )
    ca = cnt.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "n_a")
    cb = cnt.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b")
    return shared.join(ca, "doc_a").join(cb, "doc_b")


@query(
    "dedup_containment_keep",
    oracle=f"""
WITH {_CONTAIN_CTES},
drops AS (
  SELECT victim AS doc_id FROM (
    SELECT CASE WHEN n_a < n_b OR (n_a = n_b AND doc_a > doc_b)
                THEN doc_a ELSE doc_b END AS victim,
           (n_shared * 1000000)::BIGINT AS cn,
           (CASE WHEN n_a < n_b OR (n_a = n_b AND doc_a > doc_b)
                 THEN n_a ELSE n_b END)::BIGINT AS vd
    FROM scored
  ) WHERE ({_CU_V}) >= {_CONTAIN_DROP_U}
)
SELECT d.doc_id, (dr.doc_id IS NULL) AS keep
FROM documents d
LEFT JOIN (SELECT DISTINCT doc_id FROM drops) dr USING (doc_id)
""",
)
def dedup_containment_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRANSFORM half of containment dedup (the report/transform
    pairing the dedup family follows: substring/substring_clean,
    lsh/lsh_keep): drop a document when it is >= {CONTAIN_DROP}
    contained in a doc with MORE discriminative fingerprints (ties to
    the smaller doc_id) — i.e. quoted-inside/boilerplate-subset pages
    go, their hosts stay. The smaller side of each pair is the drop
    candidate and ONLY its containment is thresholded, so a pair of
    near-equals (mutual high containment) keeps exactly one.

    Scale shape: identical to fingerprint_containment through the
    df-capped pair join (everything downstream of the persisted winnow
    table); the verdict join back to documents keys on doc_id. Output
    is corpus-sized by contract (a keep flag per document — the shape
    corpus_pipeline's dedup stage consumes)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = _containment_scored(spark, sf_dir)
    a_drops = (F.col("n_a") < F.col("n_b")) | (
        (F.col("n_a") == F.col("n_b")) & (F.col("doc_a") > F.col("doc_b"))
    )
    victim = F.when(a_drops, F.col("doc_a")).otherwise(F.col("doc_b"))
    victim_n = F.when(a_drops, F.col("n_a")).otherwise(F.col("n_b"))
    drops = (
        scored.filter(
            half_up_ratio_nonneg(
                (F.col("n_shared") * F.lit(1_000_000)).cast("long"),
                victim_n.cast("long"),
            )
            >= _CONTAIN_DROP_U
        )
        .select(victim.alias("doc_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return docs.join(drops, "doc_id", "left").select(
        "doc_id", F.coalesce(~F.col("dropped"), F.lit(True)).alias("keep")
    )


_BPE_MERGES = "__BPE_MERGES__"


def _bpe_merges_cached(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str]]:
    """The learned merge table, persisted once per corpus to the
    corpus-keyed oracle-handoff parquet (the PCA/IVF pattern). Cold
    path runs bpe_train_merges (corpus census once, vocab-sized
    rounds); warm consumers — bpe_apply and its oracle — read the
    artifact."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq_

    path = oracle_artifact_path(_BPE_MERGES, sf_dir)
    if not os.path.exists(path):
        rows = bpe_train_merges(spark, sf_dir).collect()
        tbl = pa.table(
            {
                "merge_rank": pa.array([r["merge_rank"] for r in rows], type=pa.int64()),
                "lhs": pa.array([r["lhs"] for r in rows]),
                "rhs": pa.array([r["rhs"] for r in rows]),
            }
        )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        pq_.write_table(tbl, tmp)
        os.replace(tmp, path)
    t = pq_.read_table(path).to_pydict()
    out = sorted(zip(t["merge_rank"], t["lhs"], t["rhs"]))
    return [(int(r), l, rh) for r, l, rh in out]


def _bpe_apply_oracle() -> str:
    toks = _TOKS.format(t="text")
    mp_cols = ", ".join(
        f"max(CASE WHEN merge_rank = {r} THEN lhs END) AS a{r}, "
        f"max(CASE WHEN merge_rank = {r} THEN rhs END) AS b{r}"
        for r in range(1, N_MERGES + 1)
    )
    ctes = [
        f"m AS (SELECT {mp_cols} FROM '{_BPE_MERGES}')",
        f"words AS (SELECT doc_id, unnest({toks}) AS word FROM documents)",
        "vocab AS (SELECT DISTINCT word FROM words)",
        "v0 AS (SELECT word, string_split(word, '') AS syms FROM vocab)",
    ]
    for r in range(1, N_MERGES + 1):
        ctes.append(f"""v{r} AS (
  SELECT word,
         list_reduce(
           list_prepend([]::VARCHAR[], list_transform(syms, s -> [s])),
           (a, x) -> CASE WHEN len(a) > 0 AND a[-1] = m.a{r} AND x[1] = m.b{r}
                          THEN a[1:len(a)-1] || [m.a{r} || m.b{r}]
                          ELSE a || x END) AS syms
  FROM v{r - 1}, m
)""")
    ctes.append(
        f"vc AS (SELECT word, len(syms) AS n_syms FROM v{N_MERGES})"
    )
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT w.doc_id AS doc_id,
       count(*)::BIGINT AS n_words,
       sum(length(w.word))::BIGINT AS n_chars,
       sum(vc.n_syms)::BIGINT AS n_tokens,
       round(sum(length(w.word)) / sum(vc.n_syms), 6) AS chars_per_token
FROM words w JOIN vc USING (word)
GROUP BY w.doc_id
"""
    )


@query("bpe_apply", oracle=_bpe_apply_oracle())
def bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZE the corpus with the learned BPE merges — the apply half
    of bpe_train_merges, i.e. what a training pipeline actually runs
    over 100 TB once the tokenizer is trained. Merge application is the
    trainer's exact convention (rank order; per rule, one left-to-right
    non-overlapping fold pass), replayed from the PERSISTED merge
    artifact so trainer, applier, and oracle all consume one table.

    Scale shape — the reason this is NOT a per-character pass over the
    corpus: merges apply to the distinct-word VOCABULARY (vocab-sized
    fold work, corpus-size-independent, same argument as training),
    and the corpus itself is touched by exactly two cheap passes — the
    word explode and a keyed join word -> post-merge token count
    (vocab broadcasts at test scale; AQE keeps it a shuffle join when
    a web-scale vocab outgrows the threshold), then one per-doc agg.
    Output is the per-doc token accounting (n_words / n_chars /
    n_tokens / chars_per_token) every budget-planning stage needs;
    token-less docs are absent by contract on both engines (inner
    word join). Empty-word edge impossible (tokens() drops '')."""
    docs = load_table(spark, sf_dir, "documents")
    merges = _bpe_merges_cached(spark, sf_dir)

    words = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    )
    vocab = words.select("word").distinct()
    syms = vocab.select(
        "word",
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.substring(F.col("word"), i, F.lit(1)),
        ).alias("syms"),
    )
    for _, lhs, rhs in merges:
        merged_sym = F.lit(lhs + rhs)
        syms = syms.withColumn(
            "syms",
            F.aggregate(
                F.col("syms"),
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.try_element_at(acc, F.lit(-1)) == F.lit(lhs))
                    & (x == F.lit(rhs)),
                    F.concat(
                        F.slice(acc, F.lit(1), F.size(acc) - 1),
                        F.array(merged_sym),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ),
        )
    vc = syms.select("word", F.size("syms").alias("n_syms"))
    return (
        words.join(vc, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
            F.sum("n_syms").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.length("word")) / F.sum("n_syms"), 6
            ).alias("chars_per_token"),
        )
    )
