"""Persisted artifacts: the cache key and the build-if-absent idiom.

The oracle-handoff artifacts (IVF centroids, PQ codebooks, PCA
mean/components, BPE merges) embed their training parameters in the
tag, so bumping _PCA_K or N_MERGES re-keys the path instead of reading
an artifact trained under the old constant. The key also carries the
source stamp, so a part file rewritten in place re-keys every artifact
built from that source. Every persisted artifact goes through
operators/artifacts.py: one ``_SUCCESS`` check for directories, one
atomic writer for files, and ``corpus_cache_path`` looked up through
the module, so a harness that swaps it sees every site.
"""

import ast
import hashlib
import os
import types
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from debgpt7_8_with_vectordb_spark import tables
from debgpt7_8_with_vectordb_spark.operators import artifacts
from debgpt7_8_with_vectordb_spark.operators.ann import PQ_KSUB, PQ_SUBSPACES
from debgpt7_8_with_vectordb_spark.plans import catalog

# importing the plans package registers every tag
from debgpt7_8_with_vectordb_spark.plans.retrieval_queries import (
    _IVF_K,
    _IVF_SEED,
    _PCA_K,
    _PQ_SEED,
)
from debgpt7_8_with_vectordb_spark.plans.text_queries import N_MERGES

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "token,param",
    [
        ("__PCA_COMPONENTS__", lambda: f"k{_PCA_K}"),
        ("__BPE_MERGES__", lambda: f"m{N_MERGES}"),
        ("__IVF_CENTROIDS__", lambda: f"k{_IVF_K}s{_IVF_SEED}"),
        ("__PQ_CODEBOOKS__", lambda: f"m{PQ_SUBSPACES}k{PQ_KSUB}s{_PQ_SEED}"),
    ],
)
def test_tag_embeds_live_constant(token, param):
    tag = catalog.ORACLE_ARTIFACTS[token][1]
    assert tag.endswith(f"-{param()}"), (token, tag)


def test_qc_weight_tag_embeds_label_heuristic():
    """The trained-classifier weight cache must re-key
    when the bootstrap LABEL heuristic (stop list / blend / threshold)
    changes, not only when the bucket count does — otherwise Spark
    reuses stale weights while the DuckDB oracle retrains inline."""
    import hashlib

    from debgpt7_8_with_vectordb_spark.plans.text_queries import (
        _QC_BUCKETS,
        _QC_HEUR,
        _STOP,
    )

    assert _QC_HEUR in f"qcw_b{_QC_BUCKETS}_h{_QC_HEUR}_v1"
    # the hash is derived from the live stopword set: editing _STOP
    # yields a different tag
    other = hashlib.md5(
        ("|".join(_STOP + ("zzz",)) + "|blend=100p+qm/200q|thr=500000|"
         "w=round(ln*1e6)").encode()
    ).hexdigest()[:8]
    assert other != _QC_HEUR


def test_param_bump_changes_cache_path():
    token = "__PCA_COMPONENTS__"
    old_entry = catalog.ORACLE_ARTIFACTS[token]
    old_path = catalog.oracle_artifact_path(token, SF_DIR)
    try:
        src, tag = old_entry
        bumped = tag.replace(f"k{_PCA_K}", f"k{_PCA_K + 1}")
        assert bumped != tag
        catalog.ORACLE_ARTIFACTS[token] = (src, bumped)
        assert catalog.oracle_artifact_path(token, SF_DIR) != old_path
    finally:
        catalog.ORACLE_ARTIFACTS[token] = old_entry


def test_tag_registration_is_idempotent():
    token = "__BPE_MERGES__"
    before = catalog.ORACLE_ARTIFACTS[token]
    catalog.tag_artifact(token, f"m{N_MERGES}")  # re-register, same params
    assert catalog.ORACLE_ARTIFACTS[token] == before


def test_single_file_key_is_stable(tmp_path):
    """A single-file source keys on path|mtime_ns|size|tag, so caches
    written under that format keep their paths."""
    src = tmp_path / "documents.parquet"
    src.write_bytes(b"12345")
    os.utime(src, ns=(1_700_000_000_123_456_789, 1_700_000_000_123_456_789))
    key = hashlib.md5(
        f"{src}|1700000000123456789|5|sigv2_p32b16".encode()
    ).hexdigest()[:16]
    assert artifacts.corpus_cache_path(str(src), "sigv2_p32b16", "/r") == f"/r/{key}"
    assert artifacts.corpus_cache_path(str(src), "t", "/r", ext=".parquet").endswith(
        ".parquet"
    )


def test_part_file_rewritten_in_place_changes_the_key(tmp_path):
    """Rewriting a part file inside a directory source leaves the
    directory's own stamps unchanged; the artifact key and the plan-memo
    key must both still change, and agree that an untouched source did
    not."""
    src = tmp_path / "documents.parquet"
    src.mkdir()
    part = src / "part-0.parquet"
    pq.write_table(pa.table({"doc_id": pa.array([1, 2], pa.int64())}), part)
    fake_spark = types.SimpleNamespace(_graft_app_id="app")

    def keys():
        return (
            artifacts.corpus_cache_path(str(src), "t", "/r"),
            tables._plan_cache_key(fake_spark, str(src)),
        )

    before = keys()
    assert keys() == before  # untouched: both keys hold
    dir_stat = os.stat(src)
    pq.write_table(pa.table({"doc_id": pa.array([1, 2, 3], pa.int64())}), part)
    os.utime(src, ns=(dir_stat.st_atime_ns, dir_stat.st_mtime_ns))
    after = keys()
    assert after[0] != before[0]
    assert after[1] != before[1]


def test_directory_without_success_is_rebuilt(spark, tmp_path):
    path = str(tmp_path / "table")
    os.makedirs(path)
    (tmp_path / "table" / "part-00000-torn.parquet").write_bytes(b"torn")
    writes = []

    def write(p):
        writes.append(p)
        spark.range(3).write.mode("overwrite").parquet(p)

    assert artifacts.persisted_table(spark, path, write).count() == 3
    assert artifacts.persisted_table(spark, path, write).count() == 3
    assert writes == [path]  # the finished directory is reused


def test_orphan_tmp_file_is_ignored(tmp_path):
    path = str(tmp_path / "a" / "weights.parquet")
    os.makedirs(os.path.dirname(path))
    with open(f"{path}.tmp-1", "wb") as fh:
        fh.write(b"left by a crashed build")
    builds = []

    def build():
        builds.append(1)
        return pa.table({"wu": pa.array([3, 1, 2], pa.int64())})

    assert artifacts.persisted_file(path, build) == {"wu": [3, 1, 2]}
    assert artifacts.persisted_file(path, build) == {"wu": [3, 1, 2]}
    assert builds == [1]
    assert sorted(os.listdir(os.path.dirname(path))) == [
        "weights.parquet",
        "weights.parquet.tmp-1",
    ]


def test_every_site_uses_the_swappable_key_and_cold_equals_warm(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Swapping ``artifacts.corpus_cache_path`` the way perfbench's
    ArtifactCounter does redirects every persisted artifact into a
    fresh root; each of the five file artifacts reads the same value
    cold (built) and warm (read back)."""
    from debgpt7_8_with_vectordb_spark.operators.ann import unit_vectors
    from debgpt7_8_with_vectordb_spark.plans import QUERIES
    from debgpt7_8_with_vectordb_spark.plans.dedup_queries import (
        jaccard_truth_table,
        minhash_signature_table,
        verified_pairs_table,
    )
    from debgpt7_8_with_vectordb_spark.plans.retrieval_queries import (
        _ivf_index_cached,
        _pca_components_cached,
        _pq_codebooks_cached,
    )
    from debgpt7_8_with_vectordb_spark.plans.text_queries import (
        _bpe_merges_cached,
        winnow_fp_table,
    )
    from debgpt7_8_with_vectordb_spark.tables import load_table

    orig, paths = artifacts.corpus_cache_path, []

    def lookup(src_file, tag, root, ext=""):
        assert root.startswith("/tmp/")
        path = orig(src_file, tag, os.path.join(tmp_path, os.path.basename(root)), ext)
        paths.append(path)
        return path

    monkeypatch.setattr(artifacts, "corpus_cache_path", lookup)
    emb = load_table(spark, sf_dir, "embeddings")
    file_sites = {
        "ivf": lambda: _ivf_index_cached(spark, sf_dir, emb)[1],
        "pq": lambda: _pq_codebooks_cached(spark, sf_dir, unit_vectors(emb)),
        "pca": lambda: _pca_components_cached(spark, sf_dir),
        "bpe": lambda: _bpe_merges_cached(spark, sf_dir),
        "qc": lambda: sorted(
            QUERIES["quality_classifier_trained"](spark, sf_dir).collect()
        ),
    }
    cold = {name: site() for name, site in file_sites.items()}
    warm = {name: site() for name, site in file_sites.items()}
    assert cold == warm
    for table in (
        minhash_signature_table,
        verified_pairs_table,
        jaccard_truth_table,
        winnow_fp_table,
    ):
        table(spark, sf_dir).count()
    built = set(paths)
    # ivf centroids + index, pq, pca, bpe, qc weights, signatures,
    # verified pairs, jaccard truth, winnow fingerprints
    assert len(built) == 10, sorted(built)
    assert all(p.startswith(str(tmp_path)) and os.path.exists(p) for p in built)


PKG = Path(__file__).resolve().parents[1] / "debgpt7_8_with_vectordb_spark"


def test_one_success_check_and_one_atomic_writer():
    """Under plans/ and operators/, only artifacts.py checks ``_SUCCESS``
    or publishes by ``.tmp-{…}`` + ``os.replace`` (kvcache.py keeps its
    own commit protocol)."""
    for f in [*PKG.glob("plans/*.py"), *PKG.glob("operators/*.py")]:
        src = f.read_text()
        if f.name == "artifacts.py":
            assert src.count('"_SUCCESS"') == 1
            assert src.count(".tmp-{") == 1 and src.count("os.replace(") == 1
        elif f.name != "kvcache.py":
            assert '"_SUCCESS"' not in src, f
            assert ".tmp-{" not in src and "os.replace(" not in src, f


def test_no_module_binds_corpus_cache_path():
    """Sites call ``artifacts.corpus_cache_path`` so a swapped function
    is seen; a ``from … import corpus_cache_path`` would pin the
    original."""
    for f in PKG.rglob("*.py"):
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.ImportFrom):
                names = {a.name for a in node.names}
                assert "corpus_cache_path" not in names, f
