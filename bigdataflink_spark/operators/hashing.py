"""Cross-engine deterministic hashing.

Spark's native ``xxhash64``/``hash`` and DuckDB's ``hash`` are
different algorithms, so oracle-checkable operators (MinHash, SimHash,
fingerprints) hash through md5 instead: both engines agree on
``md5(s)`` hex, and a 15-hex-digit prefix (60 bits) fits a signed
64-bit int.

Spark:   conv(substring(md5(s), 1, 15), 16, 10)::long
DuckDB:  CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)

Verified equal on both engines (435407939895074749 for 'tok').

md5 costs more than xxhash64; at the 100 TB scale swap in
``F.xxhash64`` (single engine, no oracle) — the operator shape is
unchanged, only this leaf expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_int(c: Column, bits: int = 60) -> Column:
    """Deterministic non-negative int hash of a string column."""
    hex_digits = bits // 4
    return F.conv(F.substring(F.md5(c), 1, hex_digits), 16, 10).cast("long")
