"""End-to-end crawl curation: WARC shards -> training documents.

Composes the session's crawl pieces into the pipeline a pretraining
corpus actually runs, all as one declarative DataFrame DAG:

1. ``read_warc`` pages (sources/readers.py) filtered to successful HTML
   responses;
2. robots.txt policy (functions/web.robots_filter — one broadcast join
   + Arrow matcher pass);
3. URL canonicalization (functions/web.normalize_url_column) and
   same-URL dedup: the same page fetched under different spellings
   collapses to ONE row (first by crawl date, ties on raw URL — a
   deterministic keep rule, not dropDuplicates' partition luck);
4. boilerplate removal (functions/boilerplate.extract_main_text);
5. exact content dedup on the md5 of the main text (mirror-site
   collapse), same deterministic keep rule;
6. length floor on the surviving main text.

Scale shape: the only shuffles are the two dedup groupBys (url_norm,
content digest), both expressed as ``min_by`` AGGREGATIONS rather than
window rank cuts so the partial-aggregation pass collapses duplicates
map-side — the shuffle carries ~unique volume, not fetch volume
(round 8; a row_number window must shuffle and sort every row). The
robots join broadcasts the (small) per-host policy table; everything
else is zero-shuffle Arrow scans over the WARC files — the same unit
of parallelism the crawl ships in.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.web import normalize_url_column, robots_filter


def curate_crawl(
    warc_records: DataFrame,
    robots: DataFrame | None = None,
    agent: str = "sparkbot",
    min_text_chars: int = 100,
    quality: bool = False,
) -> DataFrame:
    """Returns curated documents: ``(doc_id, url, domain, fetched_at,
    text, blocks_kept, blocks_total, boilerplate_ratio)`` where doc_id
    is the md5 of the canonical URL (stable across re-crawls).
    ``quality=True`` additionally runs the published text gates after
    boilerplate removal: C4 line cleaning, then the Gopher Table-A1
    page filter (operators/quality_rules.py) — both pure Catalyst, so
    they fold into the same zero-shuffle scan."""
    pages = (
        warc_records.filter(
            (F.col("warc_type") == "response")
            & (F.col("http_status") == 200)
            & F.col("html").isNotNull()
        )
        .select(
            F.col("target_uri").alias("url"),
            F.col("warc_date").alias("fetched_at"),
            "html",
        )
    )
    if robots is not None:
        pages = robots_filter(pages, robots, agent=agent)
    pages = normalize_url_column(pages, "url").filter(
        F.col("url_norm").isNotNull()
    )
    # same-URL dedup: deterministic first-fetch keep rule. min_by
    # instead of a window row_number: an aggregation gets MAP-SIDE
    # partial combine, so the shuffle carries ~one row per distinct URL
    # per mapper instead of every fetch sorted within partitions — the
    # difference between shuffling the dup volume and the unique volume
    # at crawl scale. NULL fetched_at sorts LAST (asc_nulls_last
    # semantics) via a coalesce sentinel above any ISO-8601 date.
    keep_cols = [c for c in pages.columns if c != "url_norm"]
    order_key = F.struct(
        F.coalesce(F.col("fetched_at"), F.lit("￿")).alias("_o1"),
        F.col("url").alias("_o2"),
    )
    pages = (
        pages.groupBy("url_norm")
        .agg(
            F.min_by(F.struct(*keep_cols), order_key).alias("_keep")
        )
        .select("url_norm", *[F.col(f"_keep.{c}").alias(c) for c in keep_cols])
    )
    # crawl keys are md5 strings of the normalized URL
    docs = (
        pages.select(
            F.md5(F.col("url_norm")).alias("doc_id"),
            F.col("url_norm").alias("url"),
            "domain",
            "fetched_at",
            "html",
        )
    )
    extracted = _extract_main_str_ids(docs)
    if quality:
        from .quality_rules import c4_clean_lines, gopher_quality_filter

        order = extracted.columns  # c4 stage moves text_col to the end
        extracted = gopher_quality_filter(
            c4_clean_lines(extracted).drop("lines_total", "lines_dropped")
        ).select(*order)
    curated = extracted.filter(
        F.length(F.col("text")) >= min_text_chars
    )
    # exact content dedup across mirrors: keep the lexicographically
    # first canonical URL per digest (deterministic) — same min_by
    # shape as the URL stage for the same map-side-combine reason
    out_cols = [c for c in curated.columns if c != "html"]
    return (
        curated.withColumn("digest", F.md5("text"))
        .groupBy("digest")
        .agg(F.min_by(F.struct(*out_cols), F.col("url")).alias("_keep"))
        .select(*[F.col(f"_keep.{c}").alias(c) for c in out_cols])
    )


def _extract_main_str_ids(docs: DataFrame) -> DataFrame:
    """Arrow-batched boilerplate stage: page HTML -> main text plus the
    monitor columns (kept/total blocks, boilerplate ratio), carrying the
    crawl columns through. NULL text for NULL html; a page with zero
    blocks reports ratio NULL (nothing to judge)."""
    import pandas as pd

    from ..functions.boilerplate import extract_main_text

    def run(batches):
        for pdf in batches:
            texts, kept, total, ratio = [], [], [], []
            for html in pdf["html"]:
                if not isinstance(html, str):
                    texts.append(None)
                    kept.append(None)
                    total.append(None)
                    ratio.append(None)
                    continue
                t, k, n = extract_main_text(html)
                texts.append(t)
                kept.append(k)
                total.append(n)
                ratio.append((1.0 - k / n) if n else None)
            out = pdf.copy()
            out["text"] = texts
            out["blocks_kept"] = pd.array(kept, dtype="Int32")
            out["blocks_total"] = pd.array(total, dtype="Int32")
            out["boilerplate_ratio"] = ratio
            yield out

    schema = (
        "doc_id string, url string, domain string, fetched_at string, "
        "html string, text string, blocks_kept int, blocks_total int, "
        "boilerplate_ratio double"
    )
    return docs.mapInPandas(run, schema=schema)


def finalize_curated(
    best_pages: DataFrame, min_text_chars: int = 100
) -> DataFrame:
    """The funnel TAIL over an already URL-deduplicated page set
    ``(doc_id, url, domain, fetched_at, html)``: boilerplate removal,
    length floor, exact content dedup with the lexicographic keep rule.
    stream_curate's drain runs it; in production this is the periodic
    compaction pass over the incrementally maintained URL-keyed table."""
    extracted = _extract_main_str_ids(best_pages)
    floored = extracted.filter(F.length("text") >= min_text_chars)
    cols = [c for c in floored.columns if c != "html"]
    return (
        floored.withColumn("digest", F.md5("text"))
        .groupBy("digest")
        .agg(F.min_by(F.struct(*cols), F.col("url")).alias("_keep"))
        .select(*[F.col(f"_keep.{c}").alias(c) for c in cols])
    )


def crawl_to_documents(curated: DataFrame) -> DataFrame:
    """Bridge into the engine's ``documents`` table shape
    ``(doc_id long, source string, lang string, ts, text string)`` so
    every existing corpus operator (near-dup families, quality
    scoring, chunk+pack, BPE, mixture) applies to crawl output
    unchanged. doc_id = the top 60 bits of the canonical-URL md5 —
    deterministic across re-crawls, collision odds ~n^2/2^61 (a 10^8
    -doc corpus: ~0.003), and the same key the curation stage already
    dedups on."""
    return curated.select(
        F.conv(F.substring(F.col("doc_id"), 1, 15), 16, 10)
        .cast("long")
        .alias("doc_id"),
        F.col("url").alias("source"),
        F.lit(None).cast("string").alias("lang"),
        F.to_timestamp("fetched_at").alias("ts"),
        F.col("text"),
    )


def parse_sitemap(body: str) -> list[dict]:
    """Sitemap.org XML walk (the discovery companion to robots.txt):
    returns one dict per ``<url>`` entry (loc, lastmod, changefreq,
    priority) for urlset documents, or per child sitemap (loc, lastmod,
    kind='sitemap') for index documents — the caller feeds child locs
    back through its fetch stage. Regex-tokenized like the OPF walk:
    resilient to the truncated/invalid XML crawls actually return."""
    import re

    out: list[dict] = []
    is_index = "<sitemapindex" in body
    tag = "sitemap" if is_index else "url"
    for m in re.finditer(rf"<{tag}(?:\s[^>]*)?>(.*?)</{tag}>", body, re.S):
        entry = m.group(1)

        def field(name: str) -> str | None:
            f = re.search(rf"<{name}(?:\s[^>]*)?>\s*(.*?)\s*</{name}>", entry, re.S)
            return f.group(1) if f else None

        loc = field("loc")
        if not loc:
            continue
        out.append(
            {
                "loc": loc,
                "lastmod": field("lastmod"),
                "changefreq": None if is_index else field("changefreq"),
                "priority": None if is_index else field("priority"),
                "kind": "sitemap" if is_index else "url",
            }
        )
    return out


SITEMAP_SCHEMA = (
    "host string, loc string, lastmod string, changefreq string, "
    "priority string, kind string"
)


def expand_sitemaps(sitemaps: DataFrame) -> DataFrame:
    """Arrow-batched stage over ``(host, sitemap_xml)`` rows -> one row
    per discovered URL (or child sitemap for index files). The frontier
    loop — fetch child sitemaps, feed back in — is the caller's, same
    bounded-breadth pattern as ``paginated_fetch``."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            rows = []
            for host, xml in zip(pdf["host"], pdf["sitemap_xml"]):
                if not isinstance(xml, str):
                    continue
                for e in parse_sitemap(xml):
                    rows.append(
                        (host, e["loc"], e["lastmod"], e["changefreq"],
                         e["priority"], e["kind"])
                    )
            yield pd.DataFrame(
                rows,
                columns=["host", "loc", "lastmod", "changefreq",
                         "priority", "kind"],
            )

    return sitemaps.select("host", "sitemap_xml").mapInPandas(
        run, schema=SITEMAP_SCHEMA
    )


def crawl_report(curated: DataFrame) -> DataFrame:
    """Corpus-level monitor over the curated output: per-domain doc
    counts, mean boilerplate ratio and text volume — the table a
    domain-quota pass (operators' ``domain_quota``) consumes next."""
    return curated.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("boilerplate_ratio"), 4).alias("avg_boilerplate"),
        F.sum(F.length("text")).alias("text_chars"),
    )
