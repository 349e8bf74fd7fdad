"""Gopher quality rules (Rae et al. 2021, Table A1) as a named filter.

``repetition_stats`` (plans/text_queries.py) covers the paper's
REPETITION gates; this module composes the remaining document-level
QUALITY signals into the standard pass/fail preset a pretraining
pipeline applies before dedup:

- word count within [min_words, max_words] (paper: 50..100,000);
- mean word length within [3, 10];
- '#' and ellipsis symbol-to-word ratios <= 0.1;
- <= 90% of lines starting with a bullet, <= 30% ending with an
  ellipsis;
- >= 80% of words containing at least one alphabetic character;
- at least 2 of the 8 paper stopwords (the/be/to/of/and/that/have/with)
  — the "is this prose at all" check.

Everything is JVM-side Catalyst expressions — zero Python, zero
shuffle. The word and line arrays (and C4's kept lines) are bound once
with ``functions.bind.materialize``, so composed passes and the
gate filter read attributes instead of re-splitting the text. The
signals come back as columns so a corpus monitor can see WHICH gate
fires, and ``gopher_quality_filter`` applies the conjunction.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.bind import materialize

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _char_count(col, ch: str):
    return F.length(col) - F.length(F.replace(col, F.lit(ch)))


def gopher_quality_signals(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Adds the signal columns; see module doc for the rule set."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    staged = materialize(
        docs,
        docs.columns,
        _words=F.filter(F.split(text, "[ \t\r\n\f\v]+"), lambda w: w != ""),
        _lines=F.filter(F.split(text, "\n"), lambda l: F.trim(l) != ""),
    )
    n_words = F.size("_words")
    n_lines = F.size("_lines")
    total_chars = F.aggregate(
        "_words", F.lit(0), lambda acc, w: acc + F.length(w)
    )
    sig = staged.select(
        "*",
        n_words.alias("n_words"),
        (total_chars / F.nullif(n_words, F.lit(0))).alias("mean_word_len"),
        (
            _char_count(F.col(text_col), "#")
            / F.nullif(n_words, F.lit(0))
        ).alias("hash_ratio"),
        (
            (
                _char_count(F.col(text_col), "…")
                + F.floor(
                    (
                        F.length(F.col(text_col))
                        - F.length(F.replace(F.col(text_col), F.lit("...")))
                    )
                    / 3
                )
            )
            / F.nullif(n_words, F.lit(0))
        ).alias("ellipsis_ratio"),
        (
            F.size(
                F.filter(
                    "_lines",
                    lambda l: F.trim(l).rlike("^[-*•]"),
                )
            )
            / F.nullif(n_lines, F.lit(0))
        ).alias("bullet_line_frac"),
        (
            F.size(
                F.filter(
                    "_lines",
                    lambda l: F.trim(l).rlike("(\\.\\.\\.|…)$"),
                )
            )
            / F.nullif(n_lines, F.lit(0))
        ).alias("ellipsis_line_frac"),
        (
            F.size(F.filter("_words", lambda w: w.rlike("[a-zA-Z]")))
            / F.nullif(n_words, F.lit(0))
        ).alias("alpha_word_frac"),
        F.size(
            F.array_intersect(
                F.array_distinct(
                    F.transform("_words", lambda w: F.lower(w))
                ),
                F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            )
        ).alias("stopword_hits"),
    ).drop("_words", "_lines")
    return sig


def c4_clean_lines(
    docs: DataFrame,
    text_col: str = "text",
    min_line_words: int = 3,
    require_terminal_punct: bool = True,
) -> DataFrame:
    """C4-style LINE-level cleaning (Raffel et al. 2020 §2.2) — the
    complement to the page-level Gopher gates: keep only lines with at
    least ``min_line_words`` words and (optionally) a terminal
    punctuation mark; drop boilerplate lines mentioning javascript /
    cookies-consent / lorem ipsum; rebuild the document from the
    surviving lines and report how many were dropped. Documents whose
    every line drops keep an empty string (the caller's length floor
    decides their fate). All JVM expressions — one split, HOF filters,
    re-join; the line array and the kept lines are each bound once."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(F.split(text, "\n"), lambda l: F.trim(l) != "")
    keep = lambda l: (  # noqa: E731
        (
            F.size(F.filter(F.split(F.trim(l), "[ \t]+"), lambda w: w != ""))
            >= min_line_words
        )
        & (
            F.trim(l).rlike("[.!?…\"']$")
            if require_terminal_punct
            else F.lit(True)
        )
        & ~F.lower(l).rlike("lorem ipsum")
        & ~F.lower(l).rlike("javascript")
        & ~F.lower(l).rlike("cookie")
    )
    rest = [c for c in docs.columns if c != text_col]
    staged = materialize(docs, rest, _lines=lines)
    staged = materialize(staged, [*rest, "_lines"], _kept=F.filter("_lines", keep))
    return staged.select(
        *rest,
        F.array_join("_kept", "\n").alias(text_col),
        F.size("_lines").alias("lines_total"),
        (F.size("_lines") - F.size("_kept")).alias("lines_dropped"),
    )


def gopher_quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    keep_signals: bool = False,
) -> DataFrame:
    """The conjunction of the Table-A1 gates; NULL-text docs fail (a
    word count of 0 is outside the bounds). ``keep_signals`` retains
    the per-rule columns for monitoring."""
    sig = gopher_quality_signals(docs, text_col)
    passes = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("hash_ratio") <= 0.1)
        & (F.col("ellipsis_ratio") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("stopword_hits") >= 2)
    )
    out = sig.filter(passes)
    if keep_signals:
        return out
    return out.select(*docs.columns)
