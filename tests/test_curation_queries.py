"""Invariants for the curation queries: domain_quota, tfidf_topterms,
quality_classifier, the simhash near-dup pairs and bit votes, and the
embedding near-dup block scorer."""

from __future__ import annotations

import pyspark.sql.functions as F

from debgpt7_8_with_vectordb_spark.plans import QUERIES
from debgpt7_8_with_vectordb_spark.plans.dedup_queries import (
    _score_cosine_block,
    _simhash_votes,
)

SF = "/root/testdata/sf0.001"


def test_domain_quota_caps_and_matches_single_stage(spark):
    from debgpt7_8_with_vectordb_spark.functions.hashing import md5_long
    from debgpt7_8_with_vectordb_spark.plans.dedup_queries import (
        _QUOTA_PER_SOURCE,
    )
    from debgpt7_8_with_vectordb_spark.tables import load_table
    from pyspark.sql import Window

    out = QUERIES["domain_quota"](spark, SF)
    per_src = out.groupBy("source").count().collect()
    assert per_src and all(r["count"] <= _QUOTA_PER_SOURCE for r in per_src)

    # the salted two-stage must equal the naive single-stage rank
    docs = load_table(spark, SF, "documents")
    ticket = md5_long(F.concat(F.lit("quota|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(ticket.asc(), F.col("doc_id").asc())
    naive = (
        docs.withColumn("quota_rank", F.row_number().over(w))
        .filter(F.col("quota_rank") <= _QUOTA_PER_SOURCE)
        .select("doc_id", "quota_rank")
    )
    got = {(r["doc_id"], r["quota_rank"]) for r in out.collect()}
    want = {(r["doc_id"], r["quota_rank"]) for r in naive.collect()}
    assert got == want


def test_domain_quota_deterministic(spark):
    a = sorted(map(tuple, QUERIES["domain_quota"](spark, SF).collect()))
    b = sorted(map(tuple, QUERIES["domain_quota"](spark, SF).collect()))
    assert a == b


def test_tfidf_top3_sorted_per_doc(spark):
    rows = QUERIES["tfidf_topterms"](spark, SF).collect()
    assert rows
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, rs in by_doc.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        scores = [r["score"] for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_quality_classifier_keep_consistent(spark):
    rows = QUERIES["quality_classifier"](spark, SF).collect()
    assert rows
    for r in rows:
        if r["n_tokens"] == 0:
            assert r["prob"] is None and r["keep"] is False
        else:
            assert r["keep"] == (r["prob"] >= 0.5)
            assert 0.0 <= r["prob"] <= 1.0


def test_stream_neardup_equals_batch(spark):
    """Drained stream-static screen == the batch incremental screen."""
    a = {
        (r["doc_id"], r["near_dup"])
        for r in QUERIES["stream_neardup_screen"](spark, SF).collect()
    }
    b = {
        (r["doc_id"], r["near_dup"])
        for r in QUERIES["dedup_incremental_neardup"](spark, SF).collect()
    }
    assert a == b and a


def test_simhash_pairs_exact_recall_vs_bruteforce(spark):
    """Manku banding is EXACT for hamming <= 3 (pigeonhole over 4 bands
    of 15 bits): the banded join must find precisely the brute-force
    all-pairs set — recall 1.0 AND precision 1.0 at the radius. The
    60-bit fingerprint is recomputed independently in pure Python from
    the raw parquet (md5 formula), so this also cross-checks the
    engine's fingerprint math."""
    import hashlib
    import re

    import duckdb

    from debgpt7_8_with_vectordb_spark.plans.dedup_queries import (
        SIMHASH_HAMMING_MAX,
        _SIMHASH_BITS,
    )

    def md5l(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rows = duckdb.sql(
        f"SELECT doc_id, coalesce(text,'') FROM '{SF}/documents.parquet'"
    ).fetchall()
    sh = {}
    for doc_id, text in rows:
        toks = []
        seen = set()
        for t in re.split(r"\s+", text):
            if t and t not in seen:
                seen.add(t)
                toks.append(t)
        hs = [md5l(t) for t in toks]
        v = 0
        for b in range(_SIMHASH_BITS):
            vote = sum(1 if (h >> b) & 1 else -1 for h in hs)
            if vote > 0:
                v |= 1 << b
        sh[doc_id] = v
    ids = sorted(sh)
    brute = {
        (a, b, bin(sh[a] ^ sh[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sh[a] ^ sh[b]).count("1") <= SIMHASH_HAMMING_MAX
    }
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in QUERIES["dedup_simhash_pairs"](spark, SF).collect()
    }
    assert got == brute and brute


def test_simhash_votes_match_bitfold_semantics(spark):
    # brute-force reference: per bit, vote = sum(+1 if bit set else -1),
    # bit set in the simhash iff vote > 0 — including the all-zero
    # cases (empty array, NULL array) and exact tie votes (bit NOT set)
    rows = [
        (1, [0b1011, 0b0011, 0b1000]),
        (2, []),
        (3, None),
        (4, [0b1, 0b1, 0b10, 0b10]),  # exact ties on bits 0 and 1
        (5, [(1 << 59) | 5]),  # top md5_long bit
    ]

    def ref(hs):
        if not hs:
            return 0
        out = 0
        for b in range(60):
            vote = sum(1 if (h >> b) & 1 else -1 for h in hs)
            if vote > 0:
                out |= 1 << b
        return out

    df = spark.createDataFrame(rows, "doc_id long, hs array<long>")
    got = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", _simhash_votes(60)("hs").alias("sh")
        ).collect()
    }
    assert got == {i: ref(hs) for i, hs in rows}


def test_cosine_block_zero_vector_scores_zero_without_dividing_by_zero():
    """A zero vector stays zeros: no 0/0 in the block scorer, and it
    pairs with nothing while the other rows still pair normally."""
    import numpy as np
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "vec_id": [7, 3, 5, 9],
            "embedding": [[0.0, 0.0], [1.0, 0.0], [2.0, 0.1], [0.0, 0.0]],
        }
    )
    with np.errstate(divide="raise", invalid="raise"):
        out = _score_cosine_block(pdf)
    assert list(zip(out["vec_a"], out["vec_b"])) == [(3, 5)]
    assert out["score"].tolist() == [round(2.0 / np.hypot(2.0, 0.1), 6)]
