"""Gopher Table-A1 quality gates (operators/quality_rules.py): each
rule caught by a purpose-built degenerate doc, the good doc passing,
signal columns exposed, and the all-JVM plan shape (no Python stage)."""

from __future__ import annotations

import pytest

from debgpt7_8_with_vectordb_spark.operators.quality_rules import (
    gopher_quality_filter,
    gopher_quality_signals,
)

GOOD = (
    "The quick brown fox jumps over the lazy dog and runs far away "
    "to be with the other animals that have made their home beside "
    "the river of plenty. "
) * 3  # ~75 words of ordinary prose with stopwords

DOCS = [
    (1, GOOD),
    (2, "too short to pass the gate"),  # word-count floor
    (3, "a " * 80),  # mean word length 1 < 3
    (4, ("#tag " * 30) + GOOD),  # hash ratio
    (5, GOOD + " ... " * 12),  # ellipsis ratio (12 / ~90 words > 0.1)
    (6, "\n".join("- bullet item %d here" % i for i in range(60))),  # bullets
    (7, ("1234 5678 90 " * 30) + "the of and that"),  # alpha fraction
    (8, " ".join("zebra%d" % i for i in range(80))),  # no stopwords
    (9, None),  # NULL text fails, never crashes
]


@pytest.fixture(scope="module")
def spark():
    from debgpt7_8_with_vectordb_spark.session import get_spark

    return get_spark(shuffle_partitions=4)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_each_gate_fires(spark, docs):
    kept = sorted(r["doc_id"] for r in gopher_quality_filter(docs).collect())
    assert kept == [1]


def test_signal_columns(spark, docs):
    sig = {r["doc_id"]: r for r in gopher_quality_signals(docs).collect()}
    assert sig[1]["n_words"] >= 50 and sig[1]["stopword_hits"] >= 2
    assert sig[3]["mean_word_len"] < 3
    assert sig[4]["hash_ratio"] > 0.1
    assert sig[5]["ellipsis_ratio"] > 0.1
    assert sig[6]["bullet_line_frac"] > 0.9
    assert sig[7]["alpha_word_frac"] < 0.8
    assert sig[8]["stopword_hits"] < 2
    assert sig[9]["n_words"] == 0


def test_keep_signals_and_schema(spark, docs):
    plain = gopher_quality_filter(docs)
    assert plain.columns == ["doc_id", "text"]
    monitored = gopher_quality_filter(docs, keep_signals=True)
    assert "hash_ratio" in monitored.columns


def test_plan_is_jvm_only(spark, docs):
    plan = (
        gopher_quality_filter(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, marker


# ------------------------------------------------------- C4 line rules


def test_c4_clean_lines(spark):
    from debgpt7_8_with_vectordb_spark.operators.quality_rules import (
        c4_clean_lines,
    )

    page = "\n".join(
        [
            "This is a complete sentence that survives the cleaning pass.",
            "Menu",  # < 3 words
            "no terminal punctuation on this line",
            "Please enable JavaScript to view this site.",
            "We use cookie banners everywhere.",
            "Lorem ipsum dolor sit amet, consectetur.",
            "Another good sentence stays in the document!",
        ]
    )
    df = spark.createDataFrame(
        [(1, page), (2, "Menu\nHome\nAbout"), (3, None)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in c4_clean_lines(df).collect()}
    kept = rows[1]["text"].split("\n")
    assert kept == [
        "This is a complete sentence that survives the cleaning pass.",
        "Another good sentence stays in the document!",
    ]
    assert rows[1]["lines_total"] == 7 and rows[1]["lines_dropped"] == 5
    assert rows[2]["text"] == "" and rows[2]["lines_dropped"] == 3
    assert rows[3]["text"] == "" and rows[3]["lines_total"] == 0
    plan = c4_clean_lines(df)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan


# ------------------------------------------- bound once, same rows
# The formulations below are the operators as they were before the line
# and word arrays were bound with functions.bind.materialize; the bound
# operators must return the same rows.


def _reference_gopher_signals(docs, text_col="text"):
    import pyspark.sql.functions as F

    from debgpt7_8_with_vectordb_spark.operators.quality_rules import (
        GOPHER_STOPWORDS,
        _char_count,
    )

    text = F.coalesce(F.col(text_col), F.lit(""))
    staged = docs.withColumn(
        "_words",
        F.filter(F.split(text, "[ \t\r\n\f\v]+"), lambda w: w != ""),
    ).withColumn("_lines", F.filter(F.split(text, "\n"), lambda l: F.trim(l) != ""))
    n_words = F.size("_words")
    n_lines = F.size("_lines")
    total_chars = F.aggregate("_words", F.lit(0), lambda acc, w: acc + F.length(w))
    col = F.col(text_col)
    return staged.select(
        "*",
        n_words.alias("n_words"),
        (total_chars / F.nullif(n_words, F.lit(0))).alias("mean_word_len"),
        (_char_count(col, "#") / F.nullif(n_words, F.lit(0))).alias("hash_ratio"),
        (
            (
                _char_count(col, "…")
                + F.floor((F.length(col) - F.length(F.replace(col, F.lit("...")))) / 3)
            )
            / F.nullif(n_words, F.lit(0))
        ).alias("ellipsis_ratio"),
        (
            F.size(F.filter("_lines", lambda l: F.trim(l).rlike("^[-*•]")))
            / F.nullif(n_lines, F.lit(0))
        ).alias("bullet_line_frac"),
        (
            F.size(F.filter("_lines", lambda l: F.trim(l).rlike("(\\.\\.\\.|…)$")))
            / F.nullif(n_lines, F.lit(0))
        ).alias("ellipsis_line_frac"),
        (
            F.size(F.filter("_words", lambda w: w.rlike("[a-zA-Z]")))
            / F.nullif(n_words, F.lit(0))
        ).alias("alpha_word_frac"),
        F.size(
            F.array_intersect(
                F.array_distinct(F.transform("_words", lambda w: F.lower(w))),
                F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            )
        ).alias("stopword_hits"),
    ).drop("_words", "_lines")


def _reference_c4_clean_lines(docs, text_col="text"):
    import pyspark.sql.functions as F

    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(F.split(text, "\n"), lambda l: F.trim(l) != "")
    keep = lambda l: (  # noqa: E731
        (F.size(F.filter(F.split(F.trim(l), "[ \t]+"), lambda w: w != "")) >= 3)
        & F.trim(l).rlike("[.!?…\"']$")
        & ~F.lower(l).rlike("lorem ipsum")
        & ~F.lower(l).rlike("javascript")
        & ~F.lower(l).rlike("cookie")
    )
    return docs.withColumn("_lines", lines).select(
        *[c for c in docs.columns if c != text_col],
        F.array_join(F.filter("_lines", keep), "\n").alias(text_col),
        F.size("_lines").alias("lines_total"),
        (F.size("_lines") - F.size(F.filter("_lines", keep))).alias("lines_dropped"),
    )


EDGE_DOCS = [
    (9001, None),
    (9002, ""),
    (9003, "Menu\nHome\nAbout"),  # every line dropped
    (9004, "   \n\t\n  "),  # whitespace-only lines
    (9005, "Wait for what comes next…\nIt ended there...\n… and on it went."),
    (9006, "- a bulleted line here.\n* another bullet line.\n• third bullet line!"),
    # İ (U+0130) lower-cases to two code points; the Kelvin sign K
    # (U+212A) lower-cases to ASCII k
    (9007, "\u0130STANBUL IS THE CITY W\u0130TH TWO SHORES.\nLOREM \u0130PSUM DOLOR SIT."),
    (9008, "COOK\u0130E notice shown here.\nCOO\u212aIE banner here.\nThe \u212aelvin sign, not a K.\nTHE \u212aEY TO IT AND THAT."),
    (9009, "Please enable JavaScript now.\nWe use Cookie banners here.\n'Quoted line ends here'"),
    (9010, GOOD + "\n" + GOOD.upper() + "\n#tag #tag # ... …"),
]


@pytest.fixture(scope="module")
def parity_docs(spark, sf_dir):
    from debgpt7_8_with_vectordb_spark.tables import load_table

    edge = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
    sf = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return sf.unionByName(edge)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_c4_clean_lines_matches_reference(spark, parity_docs):
    from debgpt7_8_with_vectordb_spark.operators.quality_rules import (
        c4_clean_lines,
    )

    got = _rows(c4_clean_lines(parity_docs))
    assert got == _rows(_reference_c4_clean_lines(parity_docs))
    assert len(got) > len(EDGE_DOCS)


def test_gopher_signals_match_reference(spark, parity_docs):
    got = _rows(gopher_quality_signals(parity_docs))
    assert got == _rows(_reference_gopher_signals(parity_docs))
    assert len(got) > len(EDGE_DOCS)


def test_curate_quality_pass_evaluates_c4_keep_once(spark, docs):
    """C4 cleaning feeding the Gopher gates: the cleaned text is an
    attribute the gates read, so the executed plan carries the C4 keep
    predicate once and one split per array (filter pushdown used to
    inline the cleaned text into every gate, ~30 copies of the keep
    predicate)."""
    from debgpt7_8_with_vectordb_spark.operators.quality_rules import (
        c4_clean_lines,
    )

    plan = (
        gopher_quality_filter(c4_clean_lines(docs))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("lorem ipsum") == 1
    assert plan.count("cookie") == 1
    assert plan.count("split(") <= 4
