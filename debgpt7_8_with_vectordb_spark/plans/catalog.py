"""Registry mapping query names → Spark builders (+ DuckDB oracle SQL).

Contract (driver's ``__spark_entry__``): each builder takes
``(spark, sf_dir)`` and returns a DataFrame; the oracle string is ANSI SQL
DuckDB runs over the same parquet registered as views. Column names are
aligned on both sides (the driver sorts columns by name before hashing).
Queries without an oracle entry (non-SQL-expressible dataflow ops) get the
driver's weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# Engine-wide data contract: documents.text is never NULL — a NULL text
# reads as the empty document. The Spark side normalizes in
# tables.load_table; this subquery applies the SAME normalization inside
# every oracle (the driver registers views over the RAW parquet, so the
# contract must live in the SQL itself). Both engines then agree on
# degenerate rows — see tests/test_edge_documents.py.
_DOCS_NORMALIZED = (
    "(SELECT doc_id, coalesce(text, '') AS text, lang, source, n_chars"
    " FROM documents)"
)


def _apply_contract(sql: str) -> str:
    return sql.replace("FROM documents", f"FROM {_DOCS_NORMALIZED}").replace(
        "JOIN documents", f"JOIN {_DOCS_NORMALIZED}"
    )


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        assert name not in QUERIES, f"duplicate query {name}"
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = _apply_contract(oracle)
        return fn

    return deco


# Oracle-handoff artifacts: tiny trained tables (IVF centroids, PQ
# codebooks) the Spark query persists and the DuckDB oracle replays
# from. The path is CORPUS-KEYED (file-identity hash of the table the
# artifact was trained on), not a fixed global — a concurrent run at a
# different sf (bench at sf0.1 alongside the gate at sf0.01) writes a
# DIFFERENT file and can never swap wrong-corpus contents between a
# query and its oracle replay (round-3 review caveat, now structural).
# Oracle SQL embeds a __TOKEN__; both the query (write side) and
# resolve_oracles (read side) derive the same literal path from sf_dir.
ORACLE_ARTIFACTS: dict[str, tuple[str, str]] = {
    "__IVF_CENTROIDS__": ("embeddings.parquet", "ivf_handoff_v2"),
    "__PQ_CODEBOOKS__": ("embeddings.parquet", "pq_handoff_v2"),
    "__PCA_COMPONENTS__": ("embeddings.parquet", "pca_handoff_v1"),
    "__BPE_MERGES__": ("documents.parquet", "bpe_handoff_v1"),
}

_HANDOFF_ROOT = "/tmp/spark_graft_artifacts/oracle_handoff"


def tag_artifact(token: str, params: str) -> None:
    """Embed the TRAINING PARAMETERS in a handoff artifact's cache tag
    (round 5, VERDICT r4 #5): the cache key was (corpus identity, name)
    only, so bumping a constant like _PCA_K or N_MERGES would silently
    read a stale artifact trained under the old value. The module that
    owns each parameter calls this at import time (before any
    oracle_artifact_path use); idempotent under re-registration."""
    src_name, tag = ORACLE_ARTIFACTS[token]
    suffix = f"-{params}"
    if not tag.endswith(suffix):
        ORACLE_ARTIFACTS[token] = (src_name, f"{tag}{suffix}")


def oracle_artifact_path(token: str, sf_dir: str) -> str:
    """The corpus-keyed path for one handoff artifact at one sf_dir."""
    import os

    from ..operators.artifacts import corpus_cache_path

    src_name, tag = ORACLE_ARTIFACTS[token]
    return corpus_cache_path(
        os.path.join(sf_dir, src_name), tag, _HANDOFF_ROOT, ext=".parquet"
    )


def resolve_oracles(sf_dir: str) -> dict[str, str]:
    """ORACLE with every __TOKEN__ replaced by its corpus-keyed literal
    path for ``sf_dir`` — what the driver/check tools should execute."""
    resolved: dict[str, str] = {}
    for name, sql in ORACLE.items():
        for token in ORACLE_ARTIFACTS:
            if token in sql:
                sql = sql.replace(token, oracle_artifact_path(token, sf_dir))
        resolved[name] = sql
    return resolved
