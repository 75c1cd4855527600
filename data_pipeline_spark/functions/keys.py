"""Deterministic surrogate-key generation (replay-stable identity).

Reference parity (studied, not copied): the reference derives surrogate keys
as ``xxhash32("source|product_id")`` (``transformations/warehouse/dimensions/
dim_shop_product.py:225-245``, ``dim_variant.py:53-63``) and a legacy MD5-hex
helper replicating BigQuery ``TO_HEX(MD5(CONCAT(...)))``
(``transformations/warehouse/utils/transformation_utils.py:14-31``).  Its
sequential ``MAX(id)+1`` keys (``dim_shop.py:104-114``) are NOT replay-stable
and are deliberately replaced by hash keys / dense ranks here.

This engine standardizes on Spark's builtin ``xxhash64`` — bit-stable across
runs, versions, and parallelism levels, evaluated JVM-side inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

KEY_SEP = "|"


def surrogate_key(*cols: Column | str) -> Column:
    """64-bit replay-stable surrogate key: xxhash64 of pipe-joined parts.

    NULL parts are encoded as the empty string (concat_ws skips NULLs), so
    (NULL, 'a') and ('a', NULL) collide only if callers allow it — pass a
    sentinel per column if that distinction matters.
    """
    return F.xxhash64(F.concat_ws(KEY_SEP, *[F.col(c) if isinstance(c, str) else c for c in cols]))


def md5_key(*cols: Column | str) -> Column:
    """MD5-hex surrogate (cross-engine portable: identical in DuckDB/BigQuery).

    ``md5(concat_ws('|', ...))`` — used where the oracle must recompute the
    exact same key (xxhash64 is Spark-specific)."""
    return F.md5(F.concat_ws(KEY_SEP, *[F.col(c) if isinstance(c, str) else c for c in cols]))


def date_id(col: Column | str) -> Column:
    """YYYYMMDD integer date key (reference: ``dim_date.py:63``,
    ``transformation_utils.py:33-40``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyyMMdd").cast("int")


# ---------------------------------------------------------------------------
# Driver-side twin of Spark's xxhash64 (seed 42) for literal point lookups.
#
# Spark evaluates XxHash64 JVM-side (spark/unsafe XXH64.java): strings hash
# their UTF-8 bytes through the standard XXH64 block algorithm; integral
# types hash through the fixed-width int/long paths.  Re-implementing the
# spec here lets a literal point read (read_for_keys with <=1000 keys)
# compute its bucket ids WITHOUT scheduling a keys-sized Spark job — the
# dominant fixed cost of small maintenance refreshes (matview point legs,
# secondary-index lookups, streaming per-batch refreshes).  Bit-equality
# with the JVM implementation is asserted by a property test
# (tests/test_keys.py::test_xxhash64_py_twin_bit_equality); unsupported key
# types simply fall back to the Spark-job path.
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def _xxh64_bytes(data: bytes, seed: int) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            for j, v in enumerate((v1, v2, v3, v4)):
                k = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v = (v + k * _P2) & _M64
                v = (_rotl(v, 31) * _P1) & _M64
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M64, 31) * _P1) & _M64
            h = (h * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl((k * _P2) & _M64, 31) * _P1) & _M64
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i : i + 4], "little")
        h ^= (k * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    return _fmix(h)


def _xxh64_long(value: int, seed: int) -> int:
    h = (seed + _P5 + 8) & _M64
    k = (_rotl((value & _M64) * _P2 & _M64, 31) * _P1) & _M64
    h ^= k
    h = (_rotl(h, 27) * _P1 + _P4) & _M64
    return _fmix(h)


def _xxh64_int(value: int, seed: int) -> int:
    h = (seed + _P5 + 4) & _M64
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M64
    h = (_rotl(h, 23) * _P2 + _P3) & _M64
    return _fmix(h)


def xxhash64_py(value, data_type_name: str, seed: int = 42) -> int:
    """Driver-side ``F.xxhash64(col)`` twin for a single literal value.

    ``data_type_name``: the Spark simpleString of the column type
    (``string`` / ``bigint`` / ``int`` / ``smallint`` / ``tinyint``).
    Returns the SIGNED 64-bit value Spark produces.  Raises TypeError for
    unsupported types — callers fall back to the Spark-job path.
    """
    if value is None:
        raise TypeError("NULL keys have no hash (Spark propagates the seed)")
    if data_type_name == "string":
        h = _xxh64_bytes(str(value).encode("utf-8"), seed)
    elif data_type_name == "bigint":
        h = _xxh64_long(int(value), seed)
    elif data_type_name in ("int", "smallint", "tinyint"):
        h = _xxh64_int(int(value), seed)
    else:
        raise TypeError(f"no driver-side xxhash64 twin for type {data_type_name}")
    return h - (1 << 64) if h >= (1 << 63) else h


def bucket_for_key(value, data_type_name: str, n_buckets: int) -> int:
    """Driver-side twin of ``IcehouseTable.bucket_expr``:
    ``pmod(xxhash64(key), n_buckets)`` (Python ``%`` with a positive modulus
    IS pmod)."""
    return xxhash64_py(value, data_type_name) % n_buckets
