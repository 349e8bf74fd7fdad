"""Optimizer expression-blowup audit (round 6).

The dedup_ngram_jaccard incident: Catalyst's projection collapse +
filter pushdown INLINE an aliased expression at every reference, so an
expensive per-row tree (array_intersect, shingle+md5+distinct, a fold)
referenced by both a filter and a projection is re-evaluated per
reference — a silent 2-5× CPU tax invisible to row-count correctness.

This audit compiles every headline query, plus the compositions in
COMPOSITIONS that no registered query builds, and compares occurrence
counts of expensive-expression markers between the ANALYZED plan (what
the query declares) and the OPTIMIZED physical plan (what will run).
Optimization must not multiply expensive work: a count that grows by
2+ is flagged. Fix pattern: bind the value once with
``functions.bind.let`` (consumed inside one expression) or
``functions.bind.materialize`` (read by several columns or a later
filter).

Blind spot: duplication DECLARED in the code is in both plans, so the
comparison cannot see it — ``c4_clean_lines`` wrote
``filter(_lines, keep)`` twice and the analyzed count already carried
both copies. Repeated expensive expressions in the source need the same
helpers; tests/test_expr_blowup_nested_fold.py pins absolute marker
counts for the queries that use them.

Known-benign (suppressed):
- pii_redact: regexp_count is REWRITTEN to size(regexp_extract_all)
  by the optimizer (0 -> 3 is a representation change, not a blowup);
- dedup_substring / dedup_substring_clean: diamond DAG (window table
  feeds the dup-hash census AND the coverage join) — re-execution of a
  branch, not expression inlining; the single-agg restructure was
  measured a wash at sf0.1 (2.17 s vs 2.20 s) and rejected.

Usage: python tools/expr_blowup_audit.py [sf_dir]; exits non-zero on
new flags.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

MARKERS = [
    "array_intersect",
    "array_distinct",
    "array_union",
    "aggregate(",
    "regexp_extract_all",
    "regexp_replace",
    "zip_with",
    "md5(",
    "split(",
]

SKIP = {
    "mapreduce_echo",
    "mapreduce_echo_compact",
    "sessionize_stream",
    "paginated_fetch",
    "bpe_train_merges",
    "stream_windowed_topk",
    "stream_neardup_screen",
    "stream_event_funnel",
    "stream_dedup",
    "stream_join_attribution",
    "cached_fetch",
}

#: (query, marker) pairs explained in the module docstring. The split(
#: entries are DIAMOND-DAG branch re-execution (several consumers each
#: re-run the tokenize scan — by design: materializing the token table
#: is what you don't do at 100 TB), not per-row inlining; verified by
#: the analyzed counts already being multiples. Within ONE projection,
#: codegen subexpression elimination dedupes repeated subtrees
#: (measured: quality_score's 11 split references run at single-split
#: cost) — the blowups that matter are Filter+Project boundaries
#: (jaccard) and alias inlining across collapsed projections
#: (contamination, fixed round 6).
BENIGN = {
    ("pii_redact", "regexp_extract_all"),
    ("dedup_substring", "md5("),
    ("dedup_substring_clean", "md5("),
    ("dedup_substring", "split("),
    ("dedup_substring_clean", "split("),
    ("ngram_lm_score", "split("),
    ("contamination_check", "split("),
    ("contamination_filter", "split("),
    ("corpus_pipeline", "split("),
    # r14 split-projection fix: tokenize now lives in its OWN projection
    # below the Generate, so the only optimizer copies left are the
    # Generate null-check pushed into the scan filter — evaluated once
    # per INPUT row on each diamond branch. The pre-r14 shape had LOWER
    # static counts but evaluated size(split(...)) once per EXPLODED
    # row (O(tokens²)/doc — invisible to this static count); measured
    # 4.36 s → 0.74 s at sf0.1 with identical oracle rows.
    ("tfidf_topterms", "split("),
}


_FOLD = re.compile(r"\b(?:aggregate|reduce)\(")
# non-fold expensive calls that are just as wasteful when re-evaluated
# per element (r12: _c4_lines_spark re-ran the full-text split+filter
# once PER CHUNK because projection collapse inlined it into the
# transform lambda — O(words x chunks)/doc)
_EXPENSIVE = re.compile(
    r"\b(?:aggregate|reduce|md5|regexp_replace|regexp_extract_all|split|"
    r"sha2|array_sort|array_distinct|array_intersect)\("
)
_LAMBDA = re.compile(r"lambdafunction\(")


def _balanced_close(s: str, open_idx: int) -> int:
    """Index of the ')' closing the '(' at ``open_idx`` (len(s) if the
    text is truncated — plan strings can elide deep trees).

    Parens inside quoted segments are skipped (ADVICE r12 #3: plan
    lines can print literal '(' inside quoted regex/separator text,
    shifting a lambda/fold span). A quote only OPENS a segment when a
    matching close exists later on the line — Spark prints most string
    literals unquoted, so an isolated apostrophe in unquoted literal
    text (e.g. "it's") must stay a plain character, not swallow the
    rest of the line (self-review r13). RESIDUAL LIMITATION,
    documented: an unbalanced literal paren outside quotes, or a PAIR
    of apostrophes split across two unquoted literals, can still shift
    a span — the per-line scoping in _invariant_in_lambda bounds that
    damage to the one line, and the audit's current corpus runs 0
    flags."""
    depth = 0
    quote: "str | None" = None
    i = open_idx
    while i < len(s):
        c = s[i]
        if quote is not None:
            if c == quote:
                quote = None
        elif c in "'\"" and s.find(c, i + 1) != -1:
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    return len(s)


_LAMBDA_VAR = re.compile(r"lambda \w+#\d+")


def find_nested_folds(plan: str) -> int:
    """LOOP-INVARIANT fold expressions (aggregate/reduce) nested inside
    a lambdafunction body — the r11 lesson class (VERDICT r11 #3): an
    O(n) fold referenced inside a later transform/filter/zip_with
    lambda is re-evaluated PER ELEMENT, turning a linear pass into
    O(n^2) — and O(n^3) when the fold itself scans the same array (the
    measured case: one 4096-row block pegged a core for 25+ minutes
    before the fold was hoisted). Higher-order functions are
    CodegenFallback, so nothing hoists the invariant subtree at
    runtime.

    A fold that REFERENCES the enclosing lambda's variable is real
    per-element work (a per-component dot product, a per-code LUT
    lookup), not a blowup — only folds whose span shares no lambda-var
    token with the enclosing lambda's surrounding text (i.e. the fold
    would compute the same value for every element) are counted. An
    outer fold's own merge/finish lambdas never count: their
    parameters live inside the fold span itself."""
    return _invariant_in_lambda(plan, _FOLD)


def find_invariant_lambda_exprs(plan: str) -> int:
    """Superset of :func:`find_nested_folds`: ANY expensive call
    (fold, hash, regexp, split, array sort/distinct/intersect) whose
    subtree is loop-invariant w.r.t. every enclosing lambda — the
    evaluator re-runs it per element (HOFs are CodegenFallback)."""
    return _invariant_in_lambda(plan, _EXPENSIVE)


def _invariant_in_lambda(plan: str, pattern: "re.Pattern[str]") -> int:
    count = 0
    # plan expressions never span lines; scoping the paren balancing to
    # one line stops an unbalanced literal paren (regex/separator text
    # prints raw) from bleeding a lambda span across the whole plan
    for line in plan.splitlines():
        lambda_spans = [
            (m.end(), _balanced_close(line, m.end() - 1))
            for m in _LAMBDA.finditer(line)
        ]
        if not lambda_spans:
            continue
        for f in pattern.finditer(line):
            enclosing = [
                (s, e) for s, e in lambda_spans if s <= f.start() < e
            ]
            if not enclosing:
                continue
            fold_end = _balanced_close(line, f.end() - 1)
            inner_vars = set(
                _LAMBDA_VAR.findall(line[f.start() : fold_end + 1])
            )
            dependent = any(
                inner_vars
                & set(
                    _LAMBDA_VAR.findall(
                        line[s : f.start()] + line[fold_end + 1 : e]
                    )
                )
                for s, e in enclosing
            )
            if not dependent:
                count += 1
    return count


def _curate_quality(spark, sf_dir):
    """The curate workload's quality pass: C4 line cleaning feeding the
    Gopher gates, the composition where filter pushdown once inlined
    the cleaned text into every gate."""
    from debgpt7_8_with_vectordb_spark.operators.quality_rules import (
        c4_clean_lines,
        gopher_quality_filter,
    )
    from debgpt7_8_with_vectordb_spark.tables import load_table

    return gopher_quality_filter(
        c4_clean_lines(load_table(spark, sf_dir, "documents"))
    )


COMPOSITIONS = {"curate_quality": _curate_quality}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import bench
    from debgpt7_8_with_vectordb_spark.plans import QUERIES
    from debgpt7_8_with_vectordb_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    flags = 0
    targets = [
        (name, QUERIES[name])
        for name in bench.HEADLINE
        if name not in SKIP and name in QUERIES
    ]
    for name, build in targets + list(COMPOSITIONS.items()):
        try:
            qe = build(spark, sf_dir)._jdf.queryExecution()
            ana = qe.analyzed().toString()
            opt = qe.executedPlan().toString()
        except Exception as exc:
            print(f"ERR   {name}: {str(exc)[:100]}")
            flags += 1
            continue
        for m in MARKERS:
            a, o = ana.count(m), opt.count(m)
            if o > a and o >= 2 and o - a >= 2:
                tag = "benign" if (name, m) in BENIGN else "FLAG "
                print(f"{tag} {name}: {m} analyzed={a} optimized={o}")
                if (name, m) not in BENIGN:
                    flags += 1
        nested = find_invariant_lambda_exprs(opt)
        if nested:
            tag = "benign" if (name, "nested_fold") in BENIGN else "FLAG "
            print(
                f"{tag} {name}: invariant expensive expr inside lambda "
                f"body x{nested}"
            )
            if (name, "nested_fold") not in BENIGN:
                flags += 1
    print(f"\n{flags} flagged")
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
