"""Deterministic cross-engine hashing.

Spark's ``hash``/``xxhash64`` and DuckDB's ``hash`` are different
algorithms, so oracle-checked operators (MinHash, SimHash, fingerprints,
the deterministic hash embedding) hash through md5 instead: the first 15
hex digits of ``md5(payload)`` as a non-negative BIGINT. Both engines
produce bit-identical values (verified: md5('hello') → 419982666956583591
in both), and 60 bits is plenty for dedup banding.

md5 here is a *deterministic mixer*, not a security primitive.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

def md5_long(payload: Column) -> Column:
    """First 60 bits of md5(payload) as BIGINT, identical in DuckDB."""
    return F.conv(F.substring(F.md5(payload.cast("binary")), 1, 15), 16, 10).cast("long")


def minhash_token_hash(perm: Column, token: Column) -> Column:
    """Per-permutation token hash: md5 keyed by the permutation id.

    One md5 family member per "permutation" replaces the classic
    (a·x + b) mod p family — simpler, cross-engine, and well mixed.
    """
    return md5_long(F.concat_ws("|", perm.cast("string"), token))
