"""write_corpus: partitioned shard layout, size bounds, manifest truth."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from debgpt7_8_with_vectordb_spark.sinks import read_manifest, write_corpus


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )


def test_partitioned_layout_and_roundtrip(spark, docs, tmp_path):
    out = str(tmp_path / "corpus")
    manifest = write_corpus(docs, out, partition_by=("lang",))
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    # one directory per lang, hive-style
    dirs = {d for d in os.listdir(out) if d.startswith("lang=")}
    assert dirs == {f"lang={lang}" for lang in langs}
    # read-back equals input exactly (partition column restored)
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    a = {r["doc_id"]: r["text"] for r in docs.collect()}
    b = {r["doc_id"]: r["text"] for r in back.collect()}
    assert a == b
    # manifest counts match reality and the file survives re-read
    assert manifest["n_rows"] == docs.count()
    assert read_manifest(out) == manifest
    assert sum(manifest["rows_per_partition"].values()) == manifest["n_rows"]


def test_max_records_per_file_bounds_shards(spark, docs, tmp_path):
    out = str(tmp_path / "sharded")
    cap = 20
    manifest = write_corpus(
        docs.repartition(1), out, partition_by=("lang",), max_records_per_file=cap
    )
    # every shard obeys the cap — check via per-file row counts
    for shard in manifest["shards"]:
        n = spark.read.parquet(os.path.join(out, shard)).count()
        assert n <= cap, f"{shard} has {n} rows > cap {cap}"
    # a skewed single upstream partition still split into many files
    per_lang = {
        r["lang"]: r["c"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("c")).collect()
    }
    biggest = max(per_lang.values())
    assert manifest["n_shards"] >= biggest // cap


def test_sort_within_orders_each_shard(spark, docs, tmp_path):
    out = str(tmp_path / "sorted")
    manifest = write_corpus(
        docs.repartition(4),
        out,
        partition_by=("lang",),
        sort_within=("doc_id",),
    )
    for shard in manifest["shards"]:
        ids = [
            r["doc_id"]
            for r in spark.read.parquet(os.path.join(out, shard)).collect()
        ]
        assert ids == sorted(ids), f"{shard} not locally sorted"


def test_compact_corpus_merges_small_shards(spark, sf_dir, tmp_path):
    from debgpt7_8_with_vectordb_spark.sinks import (
        compact_corpus,
        read_manifest,
        write_corpus,
    )
    from debgpt7_8_with_vectordb_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "corpus")
    # tiny shards on purpose: the small-file debt compaction pays down
    man0 = write_corpus(docs, out, partition_by=("lang",), max_records_per_file=7)
    assert man0["n_shards"] > 5 * 3

    before = sorted(
        tuple(r) for r in spark.read.parquet(out).select("doc_id", "lang").collect()
    )
    man1 = compact_corpus(spark, out, target_bytes=1 << 30)
    # one shard per lang partition at a huge target
    assert man1["n_shards"] == len(man1["rows_per_partition"])
    assert set(man1["compacted"]) == {f"lang={r}" for r in man1["rows_per_partition"]}
    assert man1["n_rows"] == man0["n_rows"]
    after = sorted(
        tuple(r) for r in spark.read.parquet(out).select("doc_id", "lang").collect()
    )
    assert after == before
    # manifest on disk refreshed; second pass is a no-op
    assert read_manifest(out)["n_shards"] == man1["n_shards"]
    man2 = compact_corpus(spark, out, target_bytes=1 << 30)
    assert man2["compacted"] == []
    assert man2["n_shards"] == man1["n_shards"]


def test_compact_crash_window_leaves_superset(spark, sf_dir, tmp_path, monkeypatch):
    """A crash between moving rewritten files in and deleting the old
    ones must leave a readable SUPERSET (duplicates detectable by a
    recount), never a partition whose only data lives in a tmp dir
    (ADVICE r4: the old remove-then-move order lost data)."""
    from debgpt7_8_with_vectordb_spark.sinks import compact_corpus, write_corpus
    from debgpt7_8_with_vectordb_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "corpus")
    write_corpus(docs, out, partition_by=("lang",), max_records_per_file=7)
    before = sorted(
        tuple(r) for r in spark.read.parquet(out).select("doc_id", "lang").collect()
    )

    real_remove = os.remove

    def crash_on_first_delete(p):
        raise OSError(f"simulated crash before deleting {p}")

    monkeypatch.setattr(os, "remove", crash_on_first_delete)
    with pytest.raises(OSError, match="simulated crash"):
        compact_corpus(spark, out, target_bytes=1 << 30)
    monkeypatch.setattr(os, "remove", real_remove)

    # every original row is still present (possibly duplicated) and the
    # partition is readable by a plain parquet reader
    after = spark.read.parquet(out).select("doc_id", "lang").collect()
    counts: dict[tuple, int] = {}
    for r in after:
        counts[tuple(r)] = counts.get(tuple(r), 0) + 1
    assert set(counts) == set(before)
    assert all(c >= 1 for c in counts.values())
    assert len(after) >= len(before)

    # a fresh compaction pass rolls the journal FORWARD before sizing:
    # the named old duplicates are deleted, not baked in by the re-read
    # (ADVICE r5 #4) — rows return to EXACTLY the original set
    man = compact_corpus(spark, out, target_bytes=1 << 30)
    assert man["recovered"], "interrupted journal should have been rolled forward"
    assert man["n_rows"] == len(before)
    final = sorted(
        tuple(r) for r in spark.read.parquet(out).select("doc_id", "lang").collect()
    )
    assert final == before


def test_compact_crash_mid_move_in_recovers_exactly(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A crash while MOVING rewritten shards into the live partition
    (marker written, some new files still in tmp) also recovers to the
    exact original rows: recover_compaction completes the move forward
    and deletes the journaled old shards. Recovery is idempotent."""
    from debgpt7_8_with_vectordb_spark.sinks import (
        COMPACT_MARKER,
        compact_corpus,
        recover_compaction,
        write_corpus,
    )
    from debgpt7_8_with_vectordb_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "corpus")
    write_corpus(docs, out, partition_by=("lang",), max_records_per_file=7)
    before = sorted(
        tuple(r) for r in spark.read.parquet(out).select("doc_id", "lang").collect()
    )

    real_replace = os.replace
    calls = {"n": 0}

    def crash_on_second_replace(a, b):
        # call 1 = the marker commit; call 2 = the first shard move-in
        calls["n"] += 1
        if calls["n"] >= 2:
            raise OSError(f"simulated crash moving {a}")
        real_replace(a, b)

    monkeypatch.setattr(os, "replace", crash_on_second_replace)
    with pytest.raises(OSError, match="simulated crash"):
        compact_corpus(spark, out, target_bytes=1 << 30)
    monkeypatch.setattr(os, "replace", real_replace)

    # the journal is on disk in exactly one partition and the live data
    # is still a complete set (old shards untouched)
    markers = [
        os.path.join(r, COMPACT_MARKER)
        for r, _, fs in os.walk(out)
        if COMPACT_MARKER in fs
    ]
    assert len(markers) == 1
    live = sorted(
        tuple(r) for r in spark.read.parquet(out).select("doc_id", "lang").collect()
    )
    assert live == before

    recovered = recover_compaction(out)
    assert len(recovered) == 1
    assert recover_compaction(out) == []  # idempotent: journal cleared
    final = sorted(
        tuple(r) for r in spark.read.parquet(out).select("doc_id", "lang").collect()
    )
    assert final == before


def test_compact_crash_at_every_file_op_recovers_exactly(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash-point sweep: kill the swap at the k-th file operation
    (marker commit, each shard move-in, each old-shard delete, marker
    removal) for EVERY k, and assert recover_compaction restores the
    exact original row set each time — the journal claim, not just two
    hand-picked windows."""
    from debgpt7_8_with_vectordb_spark.sinks import (
        compact_corpus,
        recover_compaction,
        write_corpus,
    )
    from debgpt7_8_with_vectordb_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(60)
    real_replace, real_remove = os.replace, os.remove

    # count the file ops of one full (uncrashed) compaction pass
    out0 = str(tmp_path / "probe")
    write_corpus(docs, out0, partition_by=("lang",), max_records_per_file=5)
    ops = {"n": 0}

    def counting_replace(a, b):
        ops["n"] += 1
        real_replace(a, b)

    def counting_remove(p):
        ops["n"] += 1
        real_remove(p)

    monkeypatch.setattr(os, "replace", counting_replace)
    monkeypatch.setattr(os, "remove", counting_remove)
    compact_corpus(spark, out0, target_bytes=1 << 30)
    monkeypatch.setattr(os, "replace", real_replace)
    monkeypatch.setattr(os, "remove", real_remove)
    total_ops = ops["n"]
    assert total_ops >= 6

    # sweep a spread of crash points across the op sequence (every
    # point would re-write the corpus ~total_ops times; every 3rd point
    # still crosses every phase boundary)
    for crash_at in range(1, total_ops + 1, 3):
        out = str(tmp_path / f"c{crash_at}")
        write_corpus(docs, out, partition_by=("lang",), max_records_per_file=5)
        before = sorted(
            tuple(r)
            for r in spark.read.parquet(out).select("doc_id", "lang").collect()
        )
        k = {"n": 0}

        def crashing(fn, *args, _k=k, _crash=crash_at):
            _k["n"] += 1
            if _k["n"] == _crash:
                raise OSError(f"crash at op {_crash}")
            fn(*args)

        monkeypatch.setattr(os, "replace", lambda a, b: crashing(real_replace, a, b))
        monkeypatch.setattr(os, "remove", lambda p: crashing(real_remove, p))
        try:
            compact_corpus(spark, out, target_bytes=1 << 30)
        except OSError:
            pass
        monkeypatch.setattr(os, "replace", real_replace)
        monkeypatch.setattr(os, "remove", real_remove)

        recover_compaction(out)
        after = sorted(
            tuple(r)
            for r in spark.read.parquet(out).select("doc_id", "lang").collect()
        )
        assert after == before, f"crash at op {crash_at} lost/duplicated rows"


def test_compact_sees_out_of_band_shards(spark, sf_dir, tmp_path):
    """Shards added without a manifest rewrite are compacted (disk walk,
    not manifest trust) and their rows survive; shards the manifest
    lists but which were removed out-of-band can't abort the pass."""
    import shutil

    from debgpt7_8_with_vectordb_spark.sinks import compact_corpus, write_corpus
    from debgpt7_8_with_vectordb_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "corpus")
    write_corpus(docs, out, partition_by=("lang",), max_records_per_file=7)

    # out-of-band ADD: clone one shard under a new name (no manifest
    # rewrite) — duplicates rows, which the recount must then report
    part = next(d for d in sorted(os.listdir(out)) if d.startswith("lang="))
    pdir = os.path.join(out, part)
    shard = next(f for f in sorted(os.listdir(pdir)) if f.endswith(".parquet"))
    oob = os.path.join(pdir, "part-oob-added-shard.c000.snappy.parquet")
    shutil.copy(os.path.join(pdir, shard), oob)
    oob_rows = spark.read.parquet(oob).count()

    # out-of-band REMOVE in a different partition: getsize on a
    # manifest-trusting pass would raise FileNotFoundError here
    part2 = next(
        d for d in sorted(os.listdir(out)) if d.startswith("lang=") and d != part
    )
    p2dir = os.path.join(out, part2)
    victim = next(f for f in sorted(os.listdir(p2dir)) if f.endswith(".parquet"))
    lost_rows = spark.read.parquet(os.path.join(p2dir, victim)).count()
    os.remove(os.path.join(p2dir, victim))

    expect = docs.count() + oob_rows - lost_rows
    man = compact_corpus(spark, out, target_bytes=1 << 30)
    assert man["n_rows"] == expect
    assert spark.read.parquet(out).count() == expect
    assert f"{part}" in man["compacted"]


# ---------------------------------------------------------------------------
# round 7: in-place rewrite sink (S23 second half) + F16 unified diff
# ---------------------------------------------------------------------------


def test_rewrite_corpus_inplace_roundtrip(spark, sf_dir, tmp_path):
    """Transform every row in place; rows changed where the transform
    bites, manifest recounted, corpus readable with the same schema."""
    import pyspark.sql.functions as F

    from debgpt7_8_with_vectordb_spark.sinks import (
        read_manifest,
        rewrite_corpus_inplace,
        write_corpus,
    )
    from debgpt7_8_with_vectordb_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(60)
    out = str(tmp_path / "corpus")
    write_corpus(docs, out, partition_by=("lang",), max_records_per_file=7)
    before = spark.read.parquet(out)
    n_before = before.count()
    n_upper = before.filter(F.col("text") != F.upper("text")).count()

    def upcase(df):
        return df.withColumn("text", F.upper("text"))

    man = rewrite_corpus_inplace(spark, out, upcase)
    assert man["n_changed"] == n_upper
    assert sorted(man["rewritten"]) == sorted(
        set(os.path.dirname(s) for s in man["shards"])
    )
    after = spark.read.parquet(out)
    assert after.count() == n_before == man["n_rows"]
    assert after.filter(F.col("text") != F.upper("text")).count() == 0
    assert after.columns == before.columns
    assert read_manifest(out)["n_rows"] == n_before

    # idempotent second pass: nothing left to change
    man2 = rewrite_corpus_inplace(spark, out, upcase)
    assert man2["n_changed"] == 0


def test_rewrite_corpus_inplace_schema_guard(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as F

    from debgpt7_8_with_vectordb_spark.sinks import (
        rewrite_corpus_inplace,
        write_corpus,
    )
    from debgpt7_8_with_vectordb_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    out = str(tmp_path / "corpus")
    write_corpus(docs, out, partition_by=("lang",))
    with pytest.raises(ValueError, match="preserve the column set"):
        rewrite_corpus_inplace(
            spark, out, lambda df: df.withColumn("extra", F.lit(1))
        )
    # corpus untouched after the rejected transform
    assert spark.read.parquet(out).count() == 20


def test_rewrite_corpus_inplace_crash_recovers(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A crash mid-swap leaves the shared COMPACT_MARKER journal;
    recover_compaction rolls the rewrite FORWARD (new content wins —
    the journal only exists once the rewrite fully landed in tmp)."""
    import pyspark.sql.functions as F

    from debgpt7_8_with_vectordb_spark.sinks import (
        COMPACT_MARKER,
        recover_compaction,
        rewrite_corpus_inplace,
        write_corpus,
    )
    from debgpt7_8_with_vectordb_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(40)
    out = str(tmp_path / "corpus")
    write_corpus(docs, out, partition_by=("lang",), max_records_per_file=5)
    n_before = spark.read.parquet(out).count()

    real_replace = os.replace
    calls = {"n": 0}

    def crash_mid_swap(a, b):
        calls["n"] += 1
        if calls["n"] >= 3:  # marker commits per partition; die mid-move
            raise OSError("simulated crash in rewrite swap")
        real_replace(a, b)

    monkeypatch.setattr(os, "replace", crash_mid_swap)
    with pytest.raises(OSError, match="simulated crash"):
        rewrite_corpus_inplace(
            spark, out, lambda df: df.withColumn("text", F.upper("text"))
        )
    monkeypatch.setattr(os, "replace", real_replace)

    markers = [
        os.path.join(r, COMPACT_MARKER)
        for r, _, fs in os.walk(out)
        if COMPACT_MARKER in fs
    ]
    assert len(markers) == 1
    recover_compaction(out)
    after = spark.read.parquet(out)
    assert after.count() == n_before  # no loss, no duplication
    # the journaled partition rolled FORWARD to the rewritten content
    assert recover_compaction(out) == []


def test_rewrite_file_inplace_diff_and_atomicity(tmp_path):
    from debgpt7_8_with_vectordb_spark.sinks import rewrite_file_inplace

    f = tmp_path / "notes.txt"
    f.write_text("alpha\nbeta\ngamma\n")
    diff = rewrite_file_inplace(str(f), "alpha\nBETA\ngamma")
    assert f.read_text() == "alpha\nBETA\ngamma\n"  # newline normalized
    assert "--- Original" in diff and "+++ Edited" in diff
    assert "-beta" in diff and "+BETA" in diff
    changed = [
        l[1:]
        for l in diff.splitlines()
        if l.startswith(("-", "+")) and not l.startswith(("---", "+++"))
    ]
    assert "alpha" not in changed  # context lines stay out of +/- hunks
    # unchanged rewrite -> empty diff
    assert rewrite_file_inplace(str(f), "alpha\nBETA\ngamma\n") == ""
    assert not (tmp_path / "notes.txt.inplace-tmp").exists()


# ---------------------------------------------------------------------------
# compaction recovery: vanished tmp must not delete the only copies
# ---------------------------------------------------------------------------


def test_recover_compaction_aborts_when_tmp_vanished(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash after the marker commit but before ANY shard move-in, then
    the journaled tmp dir disappears (tmp-style cleanup / relocation).
    Recovery must leave the old shards and the marker alone — deleting
    st['old'] would destroy the only copies of the data."""
    import shutil

    from debgpt7_8_with_vectordb_spark.sinks import (
        COMPACT_MARKER,
        compact_corpus,
        recover_compaction,
        write_corpus,
    )
    from debgpt7_8_with_vectordb_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(40)
    out = str(tmp_path / "corpus")
    write_corpus(docs, out, partition_by=("lang",), max_records_per_file=5)
    before = sorted(
        tuple(r) for r in spark.read.parquet(out).select("doc_id", "lang").collect()
    )

    real_replace = os.replace
    calls = {"n": 0}

    def crash_after_marker(a, b):
        calls["n"] += 1
        if calls["n"] >= 2:  # 1 = marker commit, 2 = first move-in
            raise OSError("simulated crash before any move-in")
        real_replace(a, b)

    monkeypatch.setattr(os, "replace", crash_after_marker)
    with pytest.raises(OSError, match="simulated crash"):
        compact_corpus(spark, out, target_bytes=1 << 30)
    monkeypatch.setattr(os, "replace", real_replace)

    markers = [
        os.path.join(r, COMPACT_MARKER)
        for r, _, fs in os.walk(out)
        if COMPACT_MARKER in fs
    ]
    assert len(markers) == 1
    import json

    with open(markers[0]) as fh:
        st = json.load(fh)
    shutil.rmtree(st["tmp"])  # simulate external tmp cleanup

    assert recover_compaction(out) == []  # aborted, nothing "recovered"
    assert os.path.exists(markers[0])  # journal left for a re-run
    after = sorted(
        tuple(r) for r in spark.read.parquet(out).select("doc_id", "lang").collect()
    )
    assert after == before  # zero data loss
