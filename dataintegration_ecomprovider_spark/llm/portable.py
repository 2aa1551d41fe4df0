"""The hash family of the hash-dependent LLM operators.

Minhash signatures, LSH band buckets, simhash, hyperplane LSH and the
IVF/topic centroid picks all hash with md5_int60, which DuckDB computes
byte-identically, so every one of them is checked value-for-value against
a DuckDB oracle:

    Spark : conv(substring(md5(s), 1, 15), 16, 10)::long
    DuckDB: ('0x' || substring(md5(s), 1, 15))::BIGINT

15 hex chars = 60 bits, always non-negative, so % / pmod agree and
products against 31-bit constants stay inside a signed long (ANSI-safe).
Simhash fingerprints are therefore at most 60 bits wide.

The single exception is the PQ codebook sample (similarity.pq_index and
the PQ functions that forward its `portable` flag): it ranks by xxhash64
by default and by md5_int60 only with `portable=True`.  Two recall tests
are pinned on the xxhash64 sample and fail on the md5 one:
tests/test_llm.py::test_pq_topk_recall_and_shape (raw recall floor 0.10)
and tests/test_llm_incremental.py::
test_residual_ivfpq_beats_plain_on_clustered_data.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_int60(col: Column) -> Column:
    """60-bit non-negative bigint from md5 — identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_int60_sql(expr: str) -> str:
    """The DuckDB spelling of md5_int60 for oracle SQL strings."""
    return f"('0x' || substring(md5({expr}), 1, 15))::BIGINT"
