"""Portable deterministic hashing.

Everything that needs a stable 60-bit integer hash uses the md5-prefix
construction below because it is bit-identical across three runtimes:

- Spark:   ``conv(substr(md5(x), 1, 15), 16, 10)`` cast to bigint
- DuckDB:  ``('0x' || substr(md5(x), 1, 15))::BIGINT``
- Python:  ``int(hashlib.md5(x).hexdigest()[:15], 16)``

That portability is what lets the DuckDB oracle and the pure-Python test
oracle verify hash-derived columns (minhash signatures, simhash, text
fingerprints, text embeddings) value-for-value. 15 hex digits = 60 bits,
always fits a signed int64.

xxhash64 is faster JVM-side, but DuckDB cannot reproduce it, so it is used
only where no SQL oracle re-derives the value: ``fast_id`` annotation ids
and the KG build's CRE label/confidence, which only the pure-Python oracle
mirrors (:func:`xxh64_pmod`).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

SEP = "\x1f"  # unit separator — cannot occur in generated tokens


def md5_int60(col: Column) -> Column:
    """60-bit integer hash of a string column (portable, see module doc)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_int60_py(s: str) -> int:
    """Python mirror of :func:`md5_int60` for the test oracle."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def md5_int60_sql(expr: str) -> str:
    """DuckDB mirror of :func:`md5_int60` for the SQL oracle."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def key_of(*cols: Column) -> Column:
    """Stable composite key: SEP-joined string of the columns."""
    return F.concat_ws(SEP, *[c.cast("string") for c in cols])


# Affine rehash family for minhash signatures: h_i(x) = (a_i·x̃ + b_i) mod M31
# where x̃ = x mod M31. Both operands stay < 2³¹ so the product stays < 2⁶²:
# no silent wraparound in Spark longs and no overflow error in DuckDB — the
# same expression evaluates identically in all three runtimes.
MERSENNE31 = (1 << 31) - 1


def affine_params(i: int) -> tuple[int, int]:
    a = ((2 * i + 1) * 0x9E3779B9 + 1) % MERSENNE31
    b = (i * 0x85EBCA6B + 0x7FEE) % MERSENNE31
    return (a or 1), b


# ---------------------------------------------------------------- XXH64
# Pure-Python XXH64 (public xxHash spec, Yann Collet) matching Spark's
# F.xxhash64 on a single string column (Spark seeds XXH64 with 42 and
# returns a *signed* 64-bit long). Used by the test oracle only — the JVM
# side is F.xxhash64. MD5/SHA expressions funnel through the synchronized
# java.security provider lookup and *negatively* scale past ~8 threads
# (measured 5.8s→24.8s for the same md5 job from 8→32 cores), so hot-path
# ids use xxhash64; md5 stays only where DuckDB-oracle portability is
# required (small-data gate queries).

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M64


def xxh64(data: bytes) -> int:
    """Standard XXH64 with Spark's xxhash64 seed (42) → unsigned 64-bit int."""
    seed = 42
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little")); i += 8
            v2 = _round(v2, int.from_bytes(data[i : i + 8], "little")); i += 8
            v3 = _round(v3, int.from_bytes(data[i : i + 8], "little")); i += 8
            v4 = _round(v4, int.from_bytes(data[i : i + 8], "little")); i += 8
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        h = _merge(h, v1); h = _merge(h, v2); h = _merge(h, v3); h = _merge(h, v4)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def xxh64_signed(s: str) -> int:
    """Python mirror of Spark's F.xxhash64 on one string column."""
    u = xxh64(s.encode("utf-8"))
    return u - (1 << 64) if u >= (1 << 63) else u


def xxh64_pmod(s: str, m: int) -> int:
    """Python mirror of F.pmod(F.xxhash64(col), m)."""
    return xxh64_signed(s) % m if m > 0 else 0


def fast_id(*cols: Column) -> Column:
    """Lock-free deterministic 64-bit id for pipeline hot paths (ann_id):
    F.xxhash64 over the SEP-joined key. Oracle mirror:
    :func:`xxh64_signed`."""
    return F.xxhash64(key_of(*cols))
