"""Portable deterministic hashing — identical in Spark and DuckDB.

Spark's built-in ``hash()``/``xxhash64()`` are Murmur3/xxHash with Spark-
specific seeds; DuckDB's ``hash()`` is a different algorithm. For oracle-
checkable sketches (minhash, simhash, fingerprints) we need ONE hash both
engines compute identically, so we derive a 60-bit integer from md5 (both
engines produce the same hex digest):

    Spark : conv(substring(md5(s), 1, 15), 16, 10)  cast bigint
    DuckDB: CAST(concat('0x', md5(s)[1:15]) AS BIGINT)

15 hex chars = 60 bits, always positive, no int64 overflow anywhere
downstream. md5 is ~2-3x slower than murmur3 but stays JVM-side inside
whole-stage codegen — at 100 TB the scan dominates, not the digest.

Each helper returns a pyspark Column AND has a ``*_sql`` twin returning the
equivalent DuckDB expression string, parameterized identically, so the
registry oracles can never drift from the Spark implementation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# modulus for rolling fingerprints: keeps acc*BASE + h < 2^63 (DuckDB raises
# on BIGINT overflow rather than wrapping, so we must stay in range)
FP_MOD = 1_000_000_007
FP_BASE = 131


def phash60(col: Column, seed: str = "") -> Column:
    """60-bit positive hash of a string column, optionally seeded."""
    s = F.concat(F.lit(f"{seed}|"), col) if seed else col
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def phash60_sql(expr: str, seed: str = "") -> str:
    s = f"concat('{seed}|', {expr})" if seed else expr
    return f"CAST(concat('0x', md5({s})[1:15]) AS BIGINT)"


def fp_step_mod(col: Column) -> Column:
    """Per-token term of the rolling fingerprint, reduced mod FP_MOD."""
    return phash60(col) % F.lit(FP_MOD)


def fp_step_mod_sql(expr: str) -> str:
    return f"({phash60_sql(expr)} % {FP_MOD})"


def fold60(arr: Column) -> Column:
    """60-bit order-sensitive fingerprint of an ``array<bigint>`` column:
    md5 over the decimal renderings joined with ``'|'`` (a character the
    alnum tokenizer can never emit), truncated to 60 bits — the same
    phash60 primitive, applied to a sequence. Replaces the old
    ``(acc*131 + h) % 1e9+7`` rolling fold for CHUNK identities: a 1e9
    modulus starts birthday-colliding near ~3e4 distinct chunks, which at
    corpus scale turns into spurious shared spans and silently saturates
    document-frequency gates; 60 bits pushes the birthday horizon to
    ~2^30 distinct chunks. Both engines compute the identical value
    (``fold60_sql`` twin) and the digest stays JVM-side / vectorized —
    one md5 per chunk, not per token."""
    return phash60(F.concat_ws("|", F.transform(arr, lambda x: x.cast("string"))))


def fold60_sql(list_expr: str) -> str:
    """DuckDB twin of :func:`fold60` over a ``LIST(BIGINT)`` expression."""
    joined = (
        f"array_to_string(list_transform({list_expr}, "
        f"x -> CAST(x AS VARCHAR)), '|')"
    )
    return phash60_sql(joined)
