"""Planted-span contract for dedup_substring (span-level exact dedup).

A 5-token boilerplate span is planted inside two otherwise-distinct
documents; a third document shares nothing. The operator must mark
exactly the planted windows, count covered positions per doc, and skip
within-doc-only repeats. The explode-first window construction must equal
the higher-order-function shape it replaced, and the lag-window coverage
formula must equal the distinct covered-position count.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from debgpt7_8_with_vectordb_spark.functions.hashing import md5_long
from debgpt7_8_with_vectordb_spark.functions.text import tokens, word_shingles
from debgpt7_8_with_vectordb_spark.plans import QUERIES
from debgpt7_8_with_vectordb_spark.plans.dedup_queries import (
    SUBSTR_WIN,
    _substring_windows,
)

SPAN = "alpha beta gamma delta epsilon"


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("substr")
    texts = [
        # doc 0 and 1 share the 5-token SPAN at different offsets
        f"one two three {SPAN} four five",
        f"{SPAN} six seven eight nine ten",
        # doc 2: no cross-doc window; repeats ITS OWN 5-gram twice —
        # within-doc repeats must NOT count (count_distinct(doc) >= 2)
        "p q r s t p q r s t",
        # doc 3: too short for any window
        "tiny doc",
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), type=pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["src0"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(tbl, str(d / "documents.parquet"))
    return str(d)


def test_planted_span_marked(spark, planted_dir):
    rows = {
        r["doc_id"]: r
        for r in QUERIES["dedup_substring"](spark, planted_dir).collect()
    }
    assert set(rows) == {0, 1}, f"expected docs 0,1 only, got {sorted(rows)}"
    # exactly one duplicated window each (the planted span), 5 tokens covered
    for d in (0, 1):
        assert rows[d]["n_dup_windows"] == 1
        assert rows[d]["covered_tokens"] == 5
    assert rows[0]["n_tokens"] == 10 and rows[0]["dup_frac"] == 0.5


def test_overlapping_windows_coverage(spark, tmp_path):
    """Two docs sharing a 6-token run produce 2 overlapping dup windows
    but coverage counts each position once: covered = 6, not 10."""
    run = "a b c d e f"
    texts = [f"x y {run} z", f"{run} u v w q1 q2"]
    tbl = pa.table(
        {
            "doc_id": pa.array([0, 1], type=pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en", "en"]),
            "source": pa.array(["s", "s"]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = {
        r["doc_id"]: r
        for r in QUERIES["dedup_substring"](spark, str(tmp_path)).collect()
    }
    for d in (0, 1):
        assert rows[d]["n_dup_windows"] == 2
        assert rows[d]["covered_tokens"] == 6


def test_clean_excises_planted_span(spark, planted_dir):
    rows = {
        r["doc_id"]: r
        for r in QUERIES["dedup_substring_clean"](spark, planted_dir).collect()
    }
    # all docs pass through (the transform is a full rewrite)
    assert set(rows) == {0, 1, 2, 3}
    assert rows[0]["clean_text"] == "one two three four five"
    assert rows[0]["n_removed"] == 5
    assert rows[1]["clean_text"] == "six seven eight nine ten"
    # untouched docs: token-rejoined original, zero removed
    assert rows[2]["n_removed"] == 0
    assert rows[2]["clean_text"] == "p q r s t p q r s t"
    assert rows[3]["clean_text"] == "tiny doc"


def test_clean_consistent_with_report(spark):
    """n_removed in the transform == covered_tokens in the report for
    every affected doc on real testdata."""
    sf = "/root/testdata/sf0.001"
    rep = {
        r["doc_id"]: r["covered_tokens"]
        for r in QUERIES["dedup_substring"](spark, sf).collect()
    }
    cln = {
        r["doc_id"]: r["n_removed"]
        for r in QUERIES["dedup_substring_clean"](spark, sf).collect()
    }
    for d, cov in rep.items():
        assert cln[d] == cov
    assert all(v == 0 for d, v in cln.items() if d not in rep)


def test_substring_windows_match_retired_hof_shape(spark, sf_dir):
    from debgpt7_8_with_vectordb_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    new = _substring_windows(docs)
    toks = tokens(F.col("text"))
    old_base = docs.filter(F.size(toks) >= SUBSTR_WIN).select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.transform(
            word_shingles(F.col("text"), SUBSTR_WIN), md5_long
        ).alias("hs"),
    )
    old = old_base.select(
        "doc_id", "n_tokens", F.posexplode("hs").alias("pos0", "h")
    ).select("doc_id", "n_tokens", (F.col("pos0") + 1).alias("start"), "h")
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_interval_union_equals_distinct_position_count(spark):
    # the lag-window coverage rewrite: sum(min(W, gap)) over sorted
    # unique starts == |union of [start, start+W-1]| for every overlap
    # pattern (adjacent, overlapping, disjoint, single)
    import itertools

    W = SUBSTR_WIN
    for starts in [
        [1],
        [1, 2, 3],
        [1, 6],
        [1, 2, 10, 11, 30],
        [5, 5 + W, 5 + 2 * W],
        list(range(1, 20, 2)),
    ]:
        brute = len(
            set(itertools.chain.from_iterable(range(s, s + W) for s in starts))
        )
        ssorted = sorted(starts)
        formula = W + sum(
            min(W, b - a) for a, b in zip(ssorted, ssorted[1:])
        )
        assert formula == brute, starts
