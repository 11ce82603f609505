"""Engine-portable deterministic hashing expressions.

The correctness gate runs every query twice — once on Spark, once on
DuckDB — so any hash that participates in results (minhash signatures,
simhash fingerprints, LSH bucket ids, split assignment) must be a
function both engines compute bit-identically. Spark's native ``hash``/
``xxhash64`` have no DuckDB twin, so the convention here is:

    h60(s) = first 15 hex chars of md5(s), read as a base-16 integer

which is a uniform 60-bit non-negative ``bigint`` in both engines:

    Spark : conv(substring(md5(s), 1, 15), 16, 10)  ::long
    DuckDB: CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)

Seeded families (minhash, hyperplanes) derive independent hashes by
prefixing the seed: ``h60(concat(seed, ':', s))`` — no multiply/mod
arithmetic, hence no 64-bit overflow concerns on either engine.

Scale note: md5 via the JVM built-in stays inside whole-stage codegen;
at 100 TB the hash cost is dominated by the scan, and the same
expressions run unmodified on a real cluster.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: DuckDB SQL template for the same function (format with the expression).
H60_SQL = "CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def h60(col: Column | str) -> Column:
    """60-bit non-negative integer hash of a string column (md5-derived)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def h60_seeded(seed: Column | str | int, col: Column | str) -> Column:
    """Independent hash family member: h60(seed || ':' || s)."""
    s = F.lit(str(seed)) if isinstance(seed, int) else (
        F.col(seed) if isinstance(seed, str) else seed.cast("string")
    )
    c = F.col(col) if isinstance(col, str) else col
    return h60(F.concat(s, F.lit(":"), c))


def h60_sql(expr: str) -> str:
    """DuckDB rendering of :func:`h60` over a SQL expression string."""
    return H60_SQL.format(expr=expr)

