"""Content-hash ID minting (reference F3 semantics).

The reference mints primary keys by SHA-1 hashing record content: deaths
use ``sha1(line[:80])`` (name bytes — anonymization, reference
``dags/global_dag.py:99``); plants hash the *pandas repr* of the row
(``:200,208``), which is repr-formatting-dependent — byte parity with that
is a declared non-goal (SURVEY.md §7). Our canonical form is a
``concat_ws`` of the row's columns in a fixed order, hashed JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def record_id(col: Column | str, prefix_len: int | None = None) -> Column:
    """sha1 of (a prefix of) a single string column — death-id semantics."""
    c = F.col(col) if isinstance(col, str) else col
    if prefix_len is not None:
        c = F.substring(c, 1, prefix_len)
    return F.sha1(c)


def canonical_row_id(*cols: Column | str, sep: str = "\x1f") -> Column:
    """sha1 over a canonical concatenation of columns — plant-id semantics.

    Uses a unit-separator delimiter so ("ab","c") != ("a","bc"); NULLs
    render as the empty string (concat_ws skips them), which is acceptable
    for ID minting as long as the column order is fixed.
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.sha1(F.concat_ws(sep, *[c.cast("string") for c in cs]))


def md5_bucket(col: Column | str, modulus: int) -> Column:
    """Uniform deterministic percent/bucket assignment: the first 8 hex
    digits of md5(string(col)) parsed as an integer, mod ``modulus``.

    This is the engine's ONE hash for id→bucket decisions (splits,
    mixture sampling, shuffle buckets). A multiplicative-congruential
    map ((id % p) · knuth % m) is NOT used anywhere for bucketing: it
    collapses on id spaces allocated with a stride sharing factors with
    m (sharded id schemes emitting multiples of 20/50/100) and Spark's
    % keeps sign, sending every negative id to bucket ≤ 0. md5 is
    uniform and sign-safe for arbitrary 64-bit ids, and mirrors
    byte-for-byte in DuckDB via ``md5_bucket_sql`` — the property every
    oracle-checked consumer needs.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("bigint")
        % modulus
    )


def md5_bucket_sql(expr: str, modulus: int) -> str:
    """The DuckDB mirror of ``md5_bucket`` for oracle SQL."""
    return (
        f"CAST(concat('0x', substr(md5(CAST({expr} AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % {modulus}"
    )


def md5_full_bucket_int(col: Column | str) -> Column:
    """The un-modulused md5 bucket integer: first 8 hex digits of
    md5(string(col)) as a BIGINT in [0, 2^32) — the uniform-u source
    for priority sampling (u = (h+1)/2^32) and any consumer that needs
    the raw hash value rather than a bucket."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
