"""Engine-portable deterministic hash expressions.

Spark's built-in ``hash``/``xxhash64`` are engine-specific (seeded
Murmur3/xxHash with Spark's own mixing), so results could never be
cross-checked by an external oracle, and they also differ across
engines a 100 TB pipeline may interop with. Instead we derive integer
hashes from md5 hex digests — md5 is bit-identical everywhere — taking
the top 15 hex chars (60 bits, always < 2^63 so the cast never
overflows a signed int64).

All expressions are Catalyst built-ins (md5/substring/conv/cast):
JVM-side, codegen'd, no Python in the hot path. Each hash has two
renderings of one formula, side by side: a Column builder and a Spark
SQL text builder (``*_sql``) for projections parsed from one string
(operators/dedup.py's module docstring says why). Both read
:data:`MD5_NIBBLES` and :data:`MERSENNE31`, and tests/test_operators.py
pins both to ``hashlib.md5``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2^31 - 1: Mersenne prime; modular arithmetic stays well inside int64
# for multiply-accumulate folds (acc < 2^31, coefficient < 2^20).
MERSENNE31 = 2147483647
# Hex digits of the md5 digest kept by md5_long: 15 nibbles = 60 bits.
MD5_NIBBLES = 15


def md5_long(col: Column | str) -> Column:
    """60-bit non-negative int64 hash of a string column via md5.

    md5 hex → first 15 nibbles → base-16 to base-10 → long.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, MD5_NIBBLES), 16, 10).cast("long")


def md5_long_sql(arg: str) -> str:
    """:func:`md5_long` of the SQL expression ``arg``, as Spark SQL text
    (the same Catalyst expression once parsed)."""
    return f"CAST(conv(substring(md5({arg}), 1, {MD5_NIBBLES}), 16, 10) AS BIGINT)"


def word_hash31(col: Column | str) -> Column:
    """31-bit hash (md5-derived, mod 2^31-1) — safe for mod-arithmetic
    minhash/fingerprint folds without int64 overflow."""
    return md5_long(col) % F.lit(MERSENNE31)


def word_hash31_sql(arg: str) -> str:
    """:func:`word_hash31` of the SQL expression ``arg``, as Spark SQL
    text."""
    return f"({md5_long_sql(arg)} % {MERSENNE31})"


def minhash_param_hash(word_hash: Column, i: Column) -> Column:
    """The i-th universal-hash value  h_i(x) = (a_i * x + b_i) mod p.

    Parameters are derived arithmetically from ``i`` (a_i = 2i+1 odd,
    b_i = 12345 i + 17) so Spark and any SQL oracle can reproduce them
    without sharing a table of random coefficients.
    a_i < 2^6 at i<=16 and x < 2^31 keep a_i*x+b_i < 2^38 « int64 max.
    """
    a = (F.lit(2) * i + F.lit(1)).cast("long")
    b = (F.lit(12345) * i + F.lit(17)).cast("long")
    return (a * word_hash + b) % F.lit(MERSENNE31)


def split_bucket(
    col: Column | str, salt: str = "split-v1", n_buckets: int = 100
) -> Column:
    """Deterministic salted-hash split bucket in [0, n_buckets):
    ``md5(id || salt)`` hex-prefix as an integer, mod n_buckets — the
    coordination-free, partitioning-invariant corpus-split primitive
    (qx49; re-splitting with a new salt is a one-token change HERE and
    nowhere else). SQL mirror:
    ``('0x' || substr(md5(CAST(id AS VARCHAR) || '<salt>'), 1, 8))
    ::BIGINT % n``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(c.cast("string"), F.lit(salt))), 1, 8
            ),
            16, 10,
        ).cast("long"),
        F.lit(n_buckets),
    )
