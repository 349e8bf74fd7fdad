"""Cold-start correctness sweep.

Warm runs can mask an artifact bug: if a cached handoff artifact (IVF
centroids/index, PQ codebooks, PCA, BPE merges, the parquet
quality-classifier weights, minhash signature / verified-pair /
jaccard-truth / winnow-fingerprint tables, fetch cache) is stale or
was written by broken training code, every warm oracle check replays
the same wrong artifact on BOTH engines and stays green.
This sweep deletes every /tmp handoff root, then runs the FULL oracle
gate — proving each train-then-replay query is green from a genuinely
cold cache (training re-runs, persistence re-runs, the oracle reads the
freshly written artifact).

Usage: python tools/cold_sweep.py [sf_dir]    (default sf0.01)
Exit status is the oracle gate's. Record runs in NOTES.md.
"""

from __future__ import annotations

import shutil
import subprocess
import sys

#: every persistent artifact root the engine writes (grep-audited:
#: `grep -rho "/tmp/spark_graft[a-z_/]*" …` — update when a new cache
#: root appears; test_cold_sweep_roots pins the list against that grep)
ARTIFACT_ROOTS = [
    "/tmp/spark_graft_artifacts",  # ivf/pq/pca/bpe/qc + oracle_handoff
    "/tmp/spark_graft_signatures",  # minhash signature + winnow fp tables
    "/tmp/spark_graft_verified_pairs",  # verified-pair + jaccard-truth tables
    "/tmp/spark_graft_cachedfetch",  # URL fetch cache (cached_fetch)
]


def clear_artifacts() -> None:
    for d in ARTIFACT_ROOTS:
        shutil.rmtree(d, ignore_errors=True)
        print(f"cleared {d}")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    clear_artifacts()
    return subprocess.call(
        [sys.executable, "tools/check_oracle.py", sf_dir], cwd="."
    )


if __name__ == "__main__":
    raise SystemExit(main())
