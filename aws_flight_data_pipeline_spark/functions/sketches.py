"""JVM-free reader/prober for Spark's Count-Min sketch binary format.

``F.count_min_sketch(...)`` aggregates to the serialized form of
``org.apache.spark.util.sketch.CountMinSketch`` (format V1: big-endian
``int version, long totalCount, int depth, int width``, then the ``hashA``
array of ``depth`` longs — the long-item hash family, written even when only
string items were added — then the ``depth × width`` counter table of
big-endian longs). Probing a STRING/BINARY item in the JVM ignores ``hashA``
and uses double hashing over Spark's ``Murmur3_x86_32`` variant::

    hash1 = murmur3(bytes, seed=0)
    hash2 = murmur3(bytes, seed=hash1)
    bucket[i] = abs((hash1 + i*hash2) wrapped to int32, Java %) % width
    estimate  = min_i table[i][bucket[i]]

This module reimplements exactly that in pure Python so a query plan can
probe a sketch column inside an Arrow-batched UDF — no ``spark._jvm`` gateway
(unavailable under Spark Connect), no eager driver-side jobs. Spark's
Murmur3_x86_32 differs from reference murmur3 in the tail: remaining bytes
are mixed ONE at a time, sign-extended, through the full k1/h1 mix (see
``Murmur3_x86_32.hashUnsafeBytes``) — that detail is what makes the buckets
line up with the JVM. Cross-checked against the JVM prober AND against
``F.count_min_sketch`` ground truth in ``tests/test_sketches.py``.
"""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_MASK32 = 0xFFFFFFFF
_C1 = 0xCC9E2D51
_C2 = 0x1B873593


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _MASK32


def _mix_k1(k1: int) -> int:
    k1 = (k1 * _C1) & _MASK32
    k1 = _rotl32(k1, 15)
    return (k1 * _C2) & _MASK32


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = _rotl32(h1, 13)
    return (h1 * 5 + 0xE6546B64) & _MASK32


def murmur3_x86_32(data: bytes, seed: int) -> int:
    """Spark's Murmur3_x86_32.hashUnsafeBytes for a byte payload.

    Returns a SIGNED 32-bit int, matching the JVM's return type.
    """
    h1 = seed & _MASK32
    n_aligned = len(data) - len(data) % 4
    for i in range(0, n_aligned, 4):
        k1 = int.from_bytes(data[i : i + 4], "little")
        h1 = _mix_h1(h1, _mix_k1(k1))
    # Spark tail: one SIGNED byte at a time through the full mix.
    for i in range(n_aligned, len(data)):
        b = data[i]
        if b >= 0x80:
            b -= 0x100
        h1 = _mix_h1(h1, _mix_k1(b & _MASK32))
    # fmix
    h1 ^= len(data)
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _MASK32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _MASK32
    h1 ^= h1 >> 16
    if h1 >= 0x80000000:
        h1 -= 0x100000000
    return h1


class CountMinSketchReader:
    """Parsed view of a serialized Spark CountMinSketch (the JVM V1
    layout): :meth:`estimate_count` answers the JVM's ``estimateCount``
    from the parsed counter table, in plain Python.
    """

    __slots__ = ("total_count", "depth", "width", "_table")

    def __init__(self, data: bytes) -> None:
        version, self.total_count, self.depth, self.width = struct.unpack_from(
            ">iqii", data, 0
        )
        if version != 1:
            raise ValueError(f"unsupported CountMinSketch version: {version}")
        # the counter table starts AFTER the hashA array (depth longs) that
        # CountMinSketchImpl.writeTo emits between the header and the table
        self._table = struct.unpack_from(
            f">{self.depth * self.width}q", data, 20 + 8 * self.depth
        )

    def _buckets(self, item: bytes) -> list[int]:
        h1 = murmur3_x86_32(item, 0)
        h2 = murmur3_x86_32(item, h1)
        out = []
        for i in range(self.depth):
            v = (h1 + i * h2) & _MASK32
            if v >= 0x80000000:
                v -= 0x100000000
            # Java: Math.abs(v % width) — truncated-division remainder then
            # abs equals abs(v) % width for any int32 v and positive width.
            out.append(abs(v) % self.width)
        return out

    def estimate_count(self, item: str | bytes) -> int:
        """The JVM's estimateCount for a string/binary item (UTF-8 bytes)."""
        b = item.encode("utf-8") if isinstance(item, str) else bytes(item)
        return min(
            self._table[i * self.width + bucket]
            for i, bucket in enumerate(self._buckets(b))
        )


def _cms_estimate_batch(token: pd.Series, sketch: pd.Series) -> pd.Series:
    """Arrow-batched probe: estimateCount of each token against its sketch
    blob. The sketch column normally comes from a 1-row crossJoin, so every
    row in a batch carries identical bytes — the parsed reader is memoized
    per distinct blob, making the per-row cost two murmur hashes."""
    readers: dict[bytes, CountMinSketchReader] = {}
    out = []
    for t, blob in zip(token, sketch):
        key = bytes(blob)
        reader = readers.get(key)
        if reader is None:
            reader = readers[key] = CountMinSketchReader(key)
        out.append(reader.estimate_count(t))
    return pd.Series(out)


#: Built on first use — pandas_udf parses its DDL type against the active
#: session, so decorating at import time would require one to exist already.
_CMS_ESTIMATE_PUDF = None


def cms_estimate(token: Column, sketch: Column) -> Column:
    """Lazy Column: JVM-equal Count-Min estimateCount of ``token`` probed
    against the serialized sketch in ``sketch`` — usable in any plan, no
    ``spark._jvm`` gateway (Spark-Connect-safe), no driver-side jobs."""
    global _CMS_ESTIMATE_PUDF
    if _CMS_ESTIMATE_PUDF is None:
        _CMS_ESTIMATE_PUDF = F.pandas_udf(_cms_estimate_batch, "long")
    return _CMS_ESTIMATE_PUDF(token, sketch)
