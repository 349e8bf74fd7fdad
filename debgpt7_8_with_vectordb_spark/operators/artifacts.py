"""Persisted derived artifacts — the one idiom every per-corpus cache
uses.

Derived tables that are deterministic functions of a corpus (minhash
signatures, verified near-dup pairs, jaccard truth, winnow
fingerprints, the IVF index and centroids, PQ codebooks, PCA
components, BPE merges, classifier weights) are computed once and
re-read by every query. In production they live next to the corpus
table and are written at ingest; here they persist under /tmp. Three
rules, stated once:

- The key is the source stamp plus a tag: ``corpus_cache_path`` hashes
  the source's absolute path, its :func:`source_stamp` and a tag that
  embeds the version and training parameters. A regenerated corpus, a
  part file rewritten in place, or a parameter bump each get a fresh
  key.
- A directory artifact (a Spark parquet write) is done when it has
  ``_SUCCESS``: :func:`persisted_table` writes it only when the marker
  is absent, so a write cut short is redone.
- A file artifact (a driver-side pyarrow table) is published by atomic
  replace and is always read back: :func:`persisted_file` writes
  ``<path>.tmp-<pid>`` and renames it over ``path``, and cold and warm
  callers both consume the bytes on disk.

There is no cross-process build lock: two concurrent first builds race
benignly (same deterministic content; the last whole-directory write
or atomic replace wins). Callers look ``corpus_cache_path`` up through
this module at call time, so a harness can swap it to redirect roots.
"""

from __future__ import annotations

import hashlib
import os


def source_stamp(path: str) -> tuple[int, ...]:
    """``(mtime_ns, size)`` of ``path``, plus for a directory the newest
    ``mtime_ns`` and the total size of the files under it: a part file
    rewritten in place leaves the directory's own stamps unchanged."""
    st = os.stat(path)
    stamp = (st.st_mtime_ns, st.st_size)
    if os.path.isdir(path):
        parts = [os.stat(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs]
        stamp += (
            max((p.st_mtime_ns for p in parts), default=0),
            sum(p.st_size for p in parts),
        )
    return stamp


def corpus_cache_path(src_file: str, tag: str, root: str, ext: str = "") -> str:
    """Cache path keyed on (source stamp, tag). ``ext`` appends a suffix
    for file artifacts (e.g. '.parquet'); directory artifacts leave it
    empty."""
    stamp = "|".join(map(str, source_stamp(src_file)))
    key = hashlib.md5(
        f"{os.path.abspath(src_file)}|{stamp}|{tag}".encode()
    ).hexdigest()[:16]
    return os.path.join(root, f"{key}{ext}")


def persisted_table(spark, path: str, write):
    """The parquet directory at ``path``: ``write(path)`` runs only when
    ``path/_SUCCESS`` is absent; the result is always read back."""
    from ..tables import read_parquet_plan_cached

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write(path)
    return read_parquet_plan_cached(spark, path)


def persisted_file(path: str, build) -> dict:
    """The single parquet file at ``path`` as a column dict. When it is
    absent, ``build()`` (a pyarrow Table) is written beside it and
    renamed into place; either way the file is read back."""
    import pyarrow.parquet as pq

    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(build(), tmp)
        os.replace(tmp, path)
    return pq.read_table(path).to_pydict()
