"""VERDICT r11 #3: the expr-blowup audit must catch the lambda-fold
class — an aggregate/reduce fold evaluated inside the lambda body of a
later higher-order function (per-element re-evaluation: the measured
O(n^3) case pegged a core 25+ minutes before the fold was hoisted).

The detector lives in tools/expr_blowup_audit.py (find_nested_folds);
these tests plant an offender through a real Spark plan and pin that
benign shapes (a top-level fold; a fold's own merge lambda) stay
unflagged. The last test pins the executed-plan marker counts of the
queries that bind values with functions.bind.
"""

import importlib.util
import os

import pyspark.sql.functions as F
import pytest

_here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "expr_blowup_audit", os.path.join(_here, "tools", "expr_blowup_audit.py")
)
audit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(audit)


def test_detector_on_plan_strings():
    # planted: fold under a transform's lambda
    offender = (
        "Project [transform(xs#1, lambdafunction(aggregate(xs#1, 0, "
        "lambdafunction((a#2 + b#3), a#2, b#3)), x#4)) AS y#5]"
    )
    assert audit.find_nested_folds(offender) >= 1
    # benign: a top-level fold — its OWN merge lambda is not a nesting
    benign = (
        "Project [aggregate(xs#1, 0, lambdafunction((a#2 + b#3), a#2, "
        "b#3), lambdafunction(id#9, id#9)) AS s#5]"
    )
    assert audit.find_nested_folds(benign) == 0
    assert audit.find_nested_folds("Project [col#1]") == 0
    # truncated plan text (elided tree) must not crash
    assert audit.find_nested_folds("lambdafunction(aggregate(xs") >= 1


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_planted_offender_flagged_through_real_plan(spark):
    df = spark.range(3).select(
        F.array(F.col("id"), F.col("id") + 1).alias("xs")
    )
    bad = df.select(
        F.expr(
            "transform(xs, x -> x + aggregate(xs, 0L, (a, b) -> a + b))"
        ).alias("y")
    )
    assert audit.find_nested_folds(_executed(bad)) >= 1


def test_plain_hoist_is_not_enough_collapse_reinlines(spark):
    # hoisting the fold into its own projection WITHOUT a barrier is
    # not a fix: Catalyst's projection collapse inlines it right back
    # into the lambda — the detector must still flag the OPTIMIZED plan
    df = spark.range(3).select(
        F.array(F.col("id"), F.col("id") + 1).alias("xs")
    )
    hoisted = df.select(
        "xs", F.expr("aggregate(xs, 0L, (a, b) -> a + b)").alias("total")
    ).select(F.expr("transform(xs, x -> x + total)").alias("y"))
    assert audit.find_nested_folds(_executed(hoisted)) >= 1


def test_barrier_hoisted_fold_is_clean_through_real_plan(spark):
    df = spark.range(3).select(
        F.array(F.col("id"), F.col("id") + 1).alias("xs")
    )
    # the REAL fix pattern (module docstring): a single-element
    # struct-explode Generate barrier between the fold projection and
    # its lambda consumer stops projection collapse from re-inlining
    barrier = (
        df.select(
            "xs",
            F.expr("aggregate(xs, 0L, (a, b) -> a + b)").alias("total"),
        )
        .select(F.explode(F.array(F.struct("xs", "total"))).alias("s"))
        .select("s.xs", "s.total")
    )
    good = barrier.select(
        F.expr("transform(xs, x -> x + total)").alias("y")
    )
    assert audit.find_nested_folds(_executed(good)) == 0


def test_headline_catalog_has_no_new_benign_entries():
    # the audit's benign list must not quietly grow a nested_fold
    # waiver — if a catalog query ever needs one, it must be argued in
    # the module docstring like the existing entries
    assert not any(kind == "nested_fold" for _q, kind in audit.BENIGN)


def test_invariant_expensive_expr_detector(spark):
    """r12 second instance of the class: an invariant split/md5/regexp
    inside a lambda is as wasteful as an invariant fold. The
    generalized detector flags it; element-dependent calls stay
    clean."""
    df = spark.range(3).select(F.col("id").cast("string").alias("t"))
    # planted: full-text split re-evaluated per element of a transform
    bad = df.select(
        F.expr(
            "transform(sequence(1, 3), i ->"
            " element_at(split(t, ','), 1))"
        ).alias("y")
    )
    assert audit.find_invariant_lambda_exprs(_executed(bad)) >= 1
    # element-dependent: the split input varies with the lambda var
    ok = df.select(
        F.expr(
            "transform(array(t, t), s -> element_at(split(s, ','), 1))"
        ).alias("y")
    )
    assert audit.find_invariant_lambda_exprs(_executed(ok)) == 0
    # the fold detector remains a strict subset
    assert audit.find_nested_folds(_executed(bad)) == 0


def test_l2_normalize_production_shape_is_invariant_free(spark):
    """Pin the r12 fix itself: the shipped l2_normalize (and the
    cosine path that embeds it) must never re-grow an invariant fold
    or expensive call inside a lambda — through the OPTIMIZED plan,
    so a projection-collapse re-inline regression is caught too."""
    import pyspark.sql.functions as F

    from debgpt7_8_with_vectordb_spark.functions.vector import (
        cosine_similarity,
        l2_normalize,
    )

    df = spark.range(4).select(
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("v"),
        F.array(F.lit(2.0), F.col("id").cast("double")).alias("w"),
    )
    normalized = df.select(l2_normalize(F.col("v")).alias("nv"))
    assert audit.find_invariant_lambda_exprs(_executed(normalized)) == 0
    scored = df.select(
        F.round(cosine_similarity(F.col("v"), F.col("w")), 6).alias("s")
    )
    assert audit.find_invariant_lambda_exprs(_executed(scored)) == 0


def test_quoted_parens_do_not_shift_spans():
    """ADVICE r12 #3: a literal '(' printed inside a QUOTED plan
    segment (regex/separator text) must not shift a lambda span — the
    unbalanced quote content previously extended the span to end of
    line and swallowed unrelated top-level expressions as false
    positives. Unquoted literal parens remain a documented residual
    limitation (bounded by the per-line scoping)."""
    # quoted '((' inside the lambda: the span must close at the real
    # ')', leaving the top-level md5 OUTSIDE the lambda -> 0 flags
    line = (
        "Project [transform(xs#1, lambdafunction("
        "regexp_replace(lambda x#4, '((', y, 1), lambda x#4, false))"
        " AS a#5, md5(q#7) AS b#8]"
    )
    assert audit.find_invariant_lambda_exprs(line) == 0
    # _balanced_close unit: quoted parens skipped, real close found
    s = "f('((' )x"
    assert audit._balanced_close(s, 1) == 7
    # unterminated-quote tail degrades to len(s), not a crash
    assert audit._balanced_close("f('((", 1) == 5
    # a REAL offender with quoted noise nearby still flags
    offender = (
        "Project [transform(xs#1, lambdafunction((lambda x#4 + "
        "md5(concat_ws('(', q#7))), lambda x#4, false)) AS y#5]"
    )
    assert audit.find_invariant_lambda_exprs(offender) >= 1


def test_unpaired_quote_in_unquoted_literal_stays_plain():
    """Self-review r13: Spark prints most string literals UNQUOTED, so
    an isolated apostrophe (e.g. a regex containing "it's") must not
    open a phantom quote that swallows the rest of the line."""
    line = (
        "Project [transform(xs#1, lambdafunction("
        "regexp_replace(lambda x#4, it's ok, y, 1), lambda x#4, false))"
        " AS a#5, md5(q#7) AS b#8]"
    )
    assert audit.find_invariant_lambda_exprs(line) == 0
    # _balanced_close unit: the unpaired quote is a plain character
    s = "f(it's, a)x"
    assert audit._balanced_close(s, 1) == s.rindex(")")
    # paired quotes still skip their parens
    s2 = "f('((' )x"
    assert audit._balanced_close(s2, 1) == 7


def test_hash_embed_fold_evaluated_once_per_row(spark):
    """l2_normalize binds its input once, so the 64-md5 fold of
    hash_embed_expr appears once in the executed plan, not once per
    reference the normalization makes."""
    from debgpt7_8_with_vectordb_spark.operators.embedding import hash_embed_expr

    df = spark.range(2).select(F.col("id").cast("string").alias("t"))
    plan = _executed(df.select(hash_embed_expr(F.col("t"), 8).alias("v")))
    assert plan.count("md5(") == 1
    assert audit.find_invariant_lambda_exprs(plan) == 0


#: Executed-plan marker counts at sf0.001 for the queries that reach a
#: ``functions.bind`` site. They are ceilings: an expensive expression
#: that the optimizer copies past its binding raises a count. Before the
#: helpers, c4_line_clean carried split( 4 times and dedup_pipeline
#: array_intersect 6 times; every other count is unchanged.
BOUND_SITE_MARKERS = {
    "dedup_ngram_jaccard": {"md5(": 2, "split(": 2, "array_intersect": 1},
    "dedup_minhash_lsh": {},
    "dedup_pipeline": {"md5(": 4, "array_intersect": 1},
    "contamination_check": {"md5(": 2, "split(": 6},
    "contamination_filter": {"md5(": 2, "split(": 6},
    "c4_line_clean": {"split(": 3},
    "gopher_signals": {"split(": 2, "array_intersect": 1, "aggregate(": 1},
    "winnow_fingerprints": {"md5(": 1},
    "vector_normalize": {"aggregate(": 5, "zip_with": 2},
}
PINNED_MARKERS = ("md5(", "split(", "array_intersect", "aggregate(", "zip_with")


@pytest.mark.parametrize("name", sorted(BOUND_SITE_MARKERS))
def test_bound_sites_do_not_multiply_markers(spark, sf_dir, name):
    from debgpt7_8_with_vectordb_spark.plans import QUERIES

    plan = _executed(QUERIES[name](spark, sf_dir))
    counts = {m: plan.count(m) for m in PINNED_MARKERS}
    ceilings = {m: BOUND_SITE_MARKERS[name].get(m, 0) for m in PINNED_MARKERS}
    assert all(counts[m] <= ceilings[m] for m in PINNED_MARKERS), (counts, ceilings)
