"""Pure-Python XXH64, chained the way Spark's ``xxhash64(c1, c2, ...)``
chains it: seed 42, each non-NULL column hashed with the previous hash as
its seed. Ints and dates hash as 4 little-endian bytes, longs and
timestamps as 8, strings as their UTF-8 bytes.

The CDC model needs it to pick the same winner as ``latest_per_key`` when
two different rows of one key share an LSN (Debezium snapshot READ events).
"""

from __future__ import annotations

import datetime as dt

_M = (1 << 64) - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5
_EPOCH = dt.date(1970, 1, 1)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * P2) & _M
    return (_rotl(acc, 31) * P1) & _M


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * P1 + P4) & _M


def xxh64(data: bytes, seed: int) -> int:
    """Standard XXH64 of ``data`` (unsigned result)."""
    n = len(data)
    i = 0
    seed &= _M
    if n >= 32:
        v1 = (seed + P1 + P2) & _M
        v2 = (seed + P2) & _M
        v3 = seed
        v4 = (seed - P1) & _M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * P1 + P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * P1) & _M
        h = (_rotl(h, 23) * P2 + P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * P5) & _M
        h = (_rotl(h, 11) * P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * P2) & _M
    h ^= h >> 29
    h = (h * P3) & _M
    h ^= h >> 32
    return h


def spark_xxhash64(values: list, kinds: list[str]) -> int:
    """Signed ``xxhash64`` of one row; ``kinds`` names each column's Spark
    type: ``int``, ``long``, ``string`` or ``date``."""
    h = 42
    for v, kind in zip(values, kinds):
        if v is None:
            continue
        if kind == "int":
            data = (v & 0xFFFFFFFF).to_bytes(4, "little")
        elif kind == "date":
            data = ((v - _EPOCH).days & 0xFFFFFFFF).to_bytes(4, "little")
        elif kind == "long":
            data = (v & _M).to_bytes(8, "little")
        elif kind == "string":
            data = v.encode("utf-8")
        else:
            raise ValueError(f"unsupported column kind {kind}")
        h = xxh64(data, h)
    return h - (1 << 64) if h >= 1 << 63 else h
