"""Cross-engine 64-bit hash expressions.

The fingerprint operators (minhash / simhash / winnowing / hashed-BoW)
default to ``xxhash64`` — the fastest JVM-side hash Spark ships. For
oracle-verifiable variants they accept ``hash_fn="md5"``: the top 60
bits of md5, which DuckDB reproduces exactly as
``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`` (verified identical
for ascii / utf-8 / empty inputs). Both paths stay in whole-stage
codegen; md5 costs ~2-3x xxhash64 per call, which is why it is the
contract variant and not the default.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_FNS = ("xx", "md5")


def hash64(col: Column, fn: str = "xx") -> Column:
    """64-bit (xx) / 60-bit non-negative (md5) hash of one string column."""
    if fn == "xx":
        return F.xxhash64(col)
    if fn == "md5":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    raise ValueError(f"hash_fn must be one of {HASH_FNS}, got {fn!r}")


def hash64_multi(cols: list[Column], fn: str = "xx", sep: str = ":") -> Column:
    """Hash of several columns. xx: native multi-arg xxhash64; md5:
    md5 of the ``sep``-joined string forms (DuckDB: concat_ws the same
    way). Callers must pick a ``sep`` that cannot occur inside a part
    when ambiguity matters."""
    if fn == "xx":
        return F.xxhash64(*cols)
    if fn == "md5":
        return hash64(F.concat_ws(sep, *cols), fn)
    raise ValueError(f"hash_fn must be one of {HASH_FNS}, got {fn!r}")

