"""Cross-engine 64-bit hashing.

``xxhash64`` is the production default everywhere (fastest JVM-side
64-bit hash), but it has no DuckDB equivalent, which blocks value-level
oracle checks for hash-derived results. ``hash60`` is the cross-engine
alternative: the first 15 hex digits (60 bits) of md5, interpreted as an
integer — computable bit-identically in Spark
(``conv(substr(md5(x),1,15),16,10)``) and DuckDB
(``('0x' || substr(md5(x),1,15))::UBIGINT``). 60 bits keep the value
comfortably inside a signed int64 in both engines (no sign-wrap
ambiguity), and md5's diffusion is more than adequate for MinHash /
SimHash / fingerprint use.

Operators take ``token_hash='xxhash64'|'md5_60'``: production runs keep
xxhash64; oracle-checked queries pass md5_60 so DuckDB can reproduce the
exact values.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash60(col: Column | str) -> Column:
    """60-bit md5-derived hash as a non-negative BIGINT Column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def token_hash(col: Column | str, kind: str) -> Column:
    """The ``token_hash``/``base_hash`` option of the operators as a
    Column: ``xxhash64`` or ``md5_60`` (:func:`hash60`)."""
    if kind == "xxhash64":
        return F.xxhash64(col)
    if kind == "md5_60":
        return hash60(col)
    raise ValueError(f"unknown token hash {kind!r}: use 'xxhash64' or 'md5_60'")
