"""Explain-plan audit: the plan you'd want, not the first one that passed.

For every headline query, capture the formatted physical plan and check
scale-critical properties:

- parquet scans carry PushedFilters / pruned ReadSchema when the query
  filters/projects (predicate pushdown + column pruning reached the scan);
- small-side joins are broadcast (no shuffle of the big side);
- no CartesianProduct anywhere;
- no row-at-a-time Python UDF (BatchEvalPython) — only Arrow paths
  (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) are allowed;
- WholeStageCodegen covers the expression work (at least one span).

Writes each audited query's PLANS.md section (verdict line + notable
plan fragments) and no-broadcast line in place, appending the ones
PLANS.md lacks; every other byte of PLANS.md is kept. Exits non-zero if
any check regresses.

Usage: python tools/explain_audit.py [sf_dir] [query ...]
(no query names: every bench.HEADLINE query)
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from debgpt7_8_with_vectordb_spark.loops import scoped_confs  # noqa: E402
from debgpt7_8_with_vectordb_spark.session import get_spark  # noqa: E402

# queries where a full-table scan with no pushed filters is the correct
# plan (they genuinely read everything)
FULL_SCAN_OK = {
    "vector_normalize",
    "hash_embedding",
    "provider_embedding",
    "image_pixels",  # stamps/decodes EVERY row by design
    "ingest_messages",
    # round-8 curation head: every document is scored/cleaned/routed by
    # design — the ONLY filterable predicate (the quality verdict) is
    # computed, not stored, so there is nothing to push to the scan
    "gopher_signals",
    "c4_line_clean",
    "url_normalize",
    "registrable_domains",  # synthesizes + PSL-keys EVERY row by design
    "curate_crawl",
    "sitemap_expand",
    "text_stats",
    "quality_score",
    "lang_id",
    "repetition_stats",  # per-doc stats over the whole corpus
    "topk_ngrams",  # global census over the whole corpus
    "bm25_search",  # scores every doc (corpus stats + map-pass scoring)
    "contamination_check",  # every train doc is checked by design
    "doc_fingerprint",
    "winnow_fingerprints",  # per-row fingerprinting over the whole corpus by definition
    "fingerprint_overlap",  # fingerprint census + capped equi-join over the whole corpus
    "fingerprint_containment",  # same capped join + per-doc denominators over the whole corpus
    "dedup_containment_keep",  # keep flag per document by contract (full verdict join)
    "token_count_bpe",
    "dedup_exact",
    "dedup_simhash",
    "dedup_simhash_pairs",  # banded fingerprint join over the whole corpus by definition
    "dedup_minhash_lsh",
    "dedup_minhash_verified",
    "dedup_ngram_jaccard",
    "embedding_neardup",
    "chunk_documents",
    "binpack_chunks",
    "binpack_crossdoc",  # packs the whole corpus by definition; range shuffle is the op
    "html_strip",
    "section_split",
    "source_router",
    "whitespace_collapse",
    "string_shorten",
    "group_counts",
    "last_n_window",  # window over ALL users; rank filter = WindowGroupLimit, not a scan filter
    "rolling_user_stats",  # trailing range frame over ALL events by definition
    "sessionize_events",
    "skew_salted_agg",
    "union_sources",
    "cache_upsert",
    "spec_expansion",
    "multimodal_metadata",
    "multimodal_decode",  # encode+decode round-trip over every doc by definition
    "audio_metadata",  # same round-trip shape, WAV headers
    "video_metadata",  # same round-trip shape, ISO BMFF box walk
    "frame_sample",
    "knn_join",
    "topk_retrieval",
    "context_injection",
    "ann_ivf",
    "corpus_pipeline",  # curation DAG reads the whole corpus by definition
    "asof_join",  # window over all purchases/clicks
    "range_join",  # bucketed join reads all events by definition
    "hypertable_rollup",  # full-corpus rollup
    "orders_rollup",  # full-corpus rollup
    "ann_recall",
    "ann_recall_sweep",  # centroid build + exact oracle read every vector by definition
    "sample_stratified",  # the md5 sampling ticket is per-row math, not a pushable predicate
    "embedding_quantize",  # per-row transform over every vector by definition
    "embedding_gram",  # one full corpus pass is the definition (X-transpose-X)
    "embedding_pca_project",  # projects every vector by definition (train pass is cached)
    "ann_srp_lsh",  # signature scan reads all vectors; bucket filter is the partition key at rest
    "section_lookup",  # sectioning pass reads every doc; the dotted key prunes at rest
    "pii_redact",  # per-row redaction over the whole corpus by definition
    "corpus_quantiles",  # distribution profile reads every doc by definition
    "sample_upweight",  # the md5 epoch ticket is per-row math, not a pushable predicate
    "dedup_clusters",  # label propagation reads the whole pair graph
    "dedup_recall",  # the recall gate replays both pair generators in full
    "dedup_recall_sampled",  # doc_id % 4 is per-row math, not a pushable predicate
    "dedup_embedding_clusters",  # components over the whole semantic pair graph
    "ngram_lm_score",  # corpus-self LM: trains on and scores every doc
    "pack_sequences",  # packs the whole corpus by definition
    "cached_fetch",  # reads the whole seeded cache table + the miss fetch
    "contamination_filter",  # scans the whole train corpus by definition
    "corpus_mixture",  # full-corpus census
    "ann_pq",  # encode scans every vector by definition; codes are the index at rest
    "ann_pq_recall",  # recall gate replays exact + ADC over every vector
    "ann_pq_rerank",  # ADC shortlist scans the codes table by definition; rerank reads 50 rows
    "dedup_substring",  # window census over the whole corpus by definition
    "dedup_substring_clean",  # full rewrite pass over the whole corpus by definition
    "tfidf_topterms",  # tf/df census over the whole corpus by definition
    "quality_classifier",  # per-row scoring over the whole corpus by definition
    "quality_classifier_trained",  # same per-row scoring; train census cached per corpus
    "bpe_apply",  # tokenizes every doc by definition (merge folds run on the vocab)
    "bpe_train_merges",  # the word-frequency census reads every doc by definition
    "domain_quota",  # per-source quota ranks the whole corpus by definition
    "minhash_fidelity",  # reads every signature + the pair table by definition
    "ann_srp_recall",  # recall gate replays exact + bucket scan over every vector
}

# queries whose driver loops / streaming sinks make a single static plan
# unavailable — audited by their operator plans elsewhere
SKIP = {
    "mapreduce_echo",
    "mapreduce_echo_compact",
    "sessionize_stream",
    "stream_windowed_topk",  # streaming drain — audited via its batch twin
    "stream_neardup_screen",  # streaming drain — audited via its batch twin (dedup_incremental_neardup)
    "stream_event_funnel",  # streaming drain — audited via its batch twin (event_funnel)
}

_AQE_OFF = {"spark.sql.adaptive.enabled": "false"}


def audit_one(name: str, df) -> tuple[list[str], str]:
    # audit the STATIC plan with AQE off: the adaptive wrapper hides
    # codegen stage ids and join strategies until runtime; the static
    # plan shows what Catalyst picked (AQE can only improve on it).
    # load_table re-enables AQE per session conf, so flip it off after
    # the query function built its DataFrame, before plan compilation —
    # and restore it after (the session outlives the audit call).
    with scoped_confs(df.sparkSession, _AQE_OFF):
        return _audit_one_static(name, df)


def _audit_one_static(name: str, df) -> tuple[list[str], str]:
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    formatted = qe.explainString(mode)
    problems: list[str] = []

    if "CartesianProduct" in plan:
        problems.append("CartesianProduct present")
    if "BatchEvalPython" in plan:
        problems.append("row-at-a-time Python UDF (BatchEvalPython)")
    scans = re.findall(r"FileScan parquet [^\n]*", plan)
    # '*(n)' markers = whole-stage-codegen stage ids in the final plan
    if scans and not re.search(r"\*\(\d+\)", plan):
        problems.append("no WholeStageCodegen span")
    # every filter the query declares should reach a scan unless the
    # query is a declared full-scan; a partition-pruning filter (e.g.
    # the IVF probe on a cluster_id-partitioned index) counts — it is
    # the strongest pushdown there is (whole directories never open)
    if name not in FULL_SCAN_OK and scans:
        pushed = any(
            ("PushedFilters: [" in s and "PushedFilters: []" not in s)
            or ("PartitionFilters: [" in s and "PartitionFilters: []" not in s)
            for s in scans
        )
        if not pushed:
            problems.append("no pushed filters on any parquet scan")
    return problems, formatted


# plan lines PLANS.md keeps: scans (checkpoints included), joins,
# exchanges and single-partition funnels, aggregates, Python stages
FRAGMENT = re.compile(
    r"Scan parquet|Scan ExistingRDD|Join|Exchange|SinglePartition|Coalesce|"
    r"TakeOrderedAndProject|ArrowEval|MapInPandas|MapInArrow|"
    r"FlatMapGroupsInPandas|HashAggregate|"
    r"PartitionFilters: \[[^]]|PushedFilters: \[[^]]"
)


# BroadcastNestedLoopJoin sites that are CORRECT even in no-broadcast
# mode: their build side is an explicit F.broadcast hint on a
# structurally bounded table (k rows / 1 row), so the hint surviving a
# disabled threshold is the intended behavior, not a fallback failure.
BNLJ_OK = {
    "knn_join",  # k-query build side
    "bm25_search",  # 1-row corpus-stats build side
    "tfidf_topterms",  # 1-row total-docs build side
    "corpus_mixture",  # 1-row totals build side
    "contamination_filter",  # via contamination_check's 1-row shape
    "dedup_recall",  # 3-row tier table theta-join
    "dedup_recall_sampled",  # 3-row tier table theta-join
    "minhash_fidelity",  # scalar-agg crossJoin
    "ann_recall_sweep",  # k-row exact-set build side
    "ann_srp_recall",  # k-row exact-set build side
    "ann_pq_recall",  # k-row exact-set build side
    "corpus_quantiles",  # 1-row quantile-struct crossJoin
    "quality_score",
    "corpus_pipeline",  # composes the quantile/stats crossJoins above
    "embedding_pca_project",  # 1-row mean/component literals path
    "repetition_stats",
}


def audit_nobroadcast(name: str, df) -> list[str]:
    """Fallback-plan sanity with size-based broadcasts DISABLED
    (autoBroadcastJoinThreshold=-1): what the STATIC plan degrades to
    when no join side fits in memory — the 100 TB shape. AQE is off for
    the read (a pre-execution adaptive plan would only show the same
    initial static plan anyway; AQE's own runtime re-plan decisions are
    not observable without executing) and RESTORED after — the session
    outlives the audit. Explicit F.broadcast hints
    survive by design (they are only on structurally bounded tables
    after round 5); everything else must fall back to a shuffled join,
    never a cartesian product or an unbounded nested loop."""
    with scoped_confs(df.sparkSession, _AQE_OFF):
        plan = df._jdf.queryExecution().executedPlan().toString()
    problems: list[str] = []
    if "CartesianProduct" in plan:
        problems.append("CartesianProduct in no-broadcast fallback")
    if "BatchEvalPython" in plan:
        problems.append("row-at-a-time Python UDF (BatchEvalPython)")
    if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
        problems.append(
            "unexpected BroadcastNestedLoopJoin in no-broadcast fallback"
        )
    return problems


PLANS = "PLANS.md"
_NB_MARKER = "\n\n# No-broadcast fallback audit\n"
_SKELETON = (
    "# Physical-plan audit (tools/explain_audit.py)\n\n"
    "sf_dir: {sf_dir}. Checks: no cartesian products, no\n"
    "row-at-a-time Python UDFs (Arrow paths only), codegen spans\n"
    "present, filters pushed to parquet scans where the query\n"
    "filters. Full-scan queries are declared as such.\n\n"
    + _NB_MARKER
    + "\nSame queries re-planned with autoBroadcastJoinThreshold=-1\n"
    "(static planner; AQE is off during the read — a runtime\n"
    "adaptive re-plan is not observable without executing): the\n"
    "shape every join degrades to when no side fits executor\n"
    "memory — the 100 TB fallback. Explicit\n"
    "F.broadcast hints survive by design (they mark structurally\n"
    "bounded build sides: top-k rows, 1-row scalar aggs, tier\n"
    "tables); everything unhinted must become a shuffled join,\n"
    "never a CartesianProduct or an unbounded nested loop.\n\n"
)


def splice(text: str, sections: dict[str, str], nb_lines: dict[str, str]) -> str:
    """``text`` (a PLANS.md) with the named queries' sections and
    no-broadcast lines replaced in place and the missing ones appended;
    every other byte is kept."""
    sections, nb_lines = dict(sections), dict(nb_lines)
    head, marker, tail = text.partition(_NB_MARKER)
    preamble, *blocks = re.split(r"(?m)^(?=## )", head)
    kept = []
    for block in blocks:
        name = block[3 : block.index("\n")]
        kept.append(sections.pop(name, block.rstrip("\n") + "\n"))
    lines = tail.split("\n")
    last = len(lines) - 2
    for i, line in enumerate(lines):
        m = re.match(r"- (\S+): ", line)
        if m:
            lines[i], last = nb_lines.pop(m[1], line), i
    lines[last + 1 : last + 1] = list(nb_lines.values())
    kept += sections.values()
    return preamble + "\n".join(kept) + marker + "\n".join(lines)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import bench
    from debgpt7_8_with_vectordb_spark.plans import QUERIES

    names = [
        n for n in (sys.argv[2:] or bench.HEADLINE) if n in QUERIES and n not in SKIP
    ]

    spark = get_spark(shuffle_partitions=8)
    failures = 0
    sections: dict[str, str] = {}
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            problems, formatted = audit_one(name, df)
        except Exception as exc:
            problems, formatted = [f"audit error: {exc}"], ""
        verdict = "CLEAN" if not problems else "; ".join(problems)
        print(("OK    " if not problems else "FLAG  ") + f"{name}: {verdict}")
        if problems:
            failures += 1
        frags = [ln for ln in formatted.splitlines() if FRAGMENT.search(ln)][:24]
        sections[name] = (
            f"## {name}\n\n**verdict:** {verdict}\n\n```\n" + "\n".join(frags) + "\n```\n"
        )

    # -- pass 2: no-broadcast fallback mode (VERDICT r4 #7) -------------
    nb_lines: dict[str, str] = {}
    with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        for name in names:
            try:
                df = QUERIES[name](spark, sf_dir)
                problems = audit_nobroadcast(name, df)
            except Exception as exc:
                problems = [f"audit error: {exc}"]
            verdict = "CLEAN" if not problems else "; ".join(problems)
            print(("OK nb " if not problems else "FLAGnb") + f"{name}: {verdict}")
            if problems:
                failures += 1
            nb_lines[name] = f"- {name}: {verdict}"
    spark.stop()

    try:
        with open(PLANS) as f:
            text = f.read()
    except FileNotFoundError:
        text = _SKELETON.format(sf_dir=sf_dir)
    with open(PLANS, "w") as f:
        f.write(splice(text, sections, nb_lines))
    print(f"\n{failures} flagged; {len(names)} sections of {PLANS} written")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
