"""Hash kernels: Kafka's murmur2 partitioner (byte-compatible).

Reference: the default partitioner routes key→partition with murmur2
(`src/v/kafka/server/...partitioner`, Kafka default). Spark has xxhash64 /
murmur3 builtins but not Kafka's murmur2, so byte-compat routing needs a
custom kernel — implemented as a vectorized Pandas UDF (Arrow batches; the
per-key work is tiny so the Python cost is amortized), with a pure-Python
scalar version for tests and driver-side routing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_M = 0x5BD1E995
_SEED = 0x9747B28C
_MASK = 0xFFFFFFFF


def murmur2(data: bytes) -> int:
    """Kafka murmur2 (org.apache.kafka.common.utils.Utils.murmur2)."""
    length = len(data)
    h = (_SEED ^ length) & _MASK
    n4 = length & ~3
    for i in range(0, n4, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * _M) & _MASK
        k ^= k >> 24
        k = (k * _M) & _MASK
        h = (h * _M) & _MASK
        h ^= k
    rem = length & 3
    if rem:
        tail = data[n4:]
        if rem == 3:
            h ^= (tail[2] & 0xFF) << 16
        if rem >= 2:
            h ^= (tail[1] & 0xFF) << 8
        if rem >= 1:
            h ^= tail[0] & 0xFF
            h = (h * _M) & _MASK
    h ^= h >> 13
    h = (h * _M) & _MASK
    h ^= h >> 15
    return h


def murmur2_partition(key: bytes, num_partitions: int) -> int:
    """Kafka DefaultPartitioner: toPositive(murmur2(key)) % numPartitions."""
    return (murmur2(key) & 0x7FFFFFFF) % num_partitions


def murmur2_flat(data: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Vectorized murmur2 over CONCATENATED keys (Arrow string/binary
    layout: one contiguous uint8 buffer + monotone offsets; key i is
    ``data[offsets[i]:offsets[i+1]]``). Bit-identical to ``murmur2()``.

    Unlike ``murmur2_batch`` (padded (n, maxlen) matrix filled by a
    per-key Python loop, chunk ops over maxlen for every row), this runs
    zero per-key Python and does O(total bytes) work: keys are processed
    longest-first so each 4-byte chunk round touches only the still-live
    prefix — skewed key lengths never tax the short keys.
    """
    starts = np.asarray(offsets[:-1], dtype=np.int64)
    lens = (np.asarray(offsets[1:], dtype=np.int64) - starts).astype(np.int64)
    n = lens.size
    h = (np.uint32(_SEED) ^ lens.astype(np.uint32)).astype(np.uint32)
    if n == 0:
        return h
    if data.size == 0:
        data = np.zeros(1, dtype=np.uint8)
    order = np.argsort(-lens, kind="stable")
    s_starts, s_lens, h = starts[order], lens[order], h[order]
    maxlen = int(s_lens[0])
    M = np.uint32(_M)
    neg_lens = -s_lens  # ascending; prefix with lens >= x ends at searchsorted
    with np.errstate(over="ignore"):
        for i in range(0, maxlen - 3 if maxlen >= 4 else 0, 4):
            na = int(np.searchsorted(neg_lens, -(i + 4), side="right"))
            idx = s_starts[:na] + i
            chunk = (
                data[idx].astype(np.uint32)
                | (data[idx + 1].astype(np.uint32) << np.uint32(8))
                | (data[idx + 2].astype(np.uint32) << np.uint32(16))
                | (data[idx + 3].astype(np.uint32) << np.uint32(24))
            )
            k = chunk * M
            k ^= k >> np.uint32(24)
            k = k * M
            h[:na] = (h[:na] * M) ^ k

        rem = (s_lens & 3).astype(np.int64)
        base = s_starts + (s_lens - rem)
        safe_max = np.int64(data.size - 1)
        tail = np.zeros((3, n), dtype=np.uint32)
        for j in range(3):
            idx = base + j
            valid = j < rem
            tail[j] = np.where(
                valid, data[np.minimum(idx, safe_max)], 0
            ).astype(np.uint32)

        h = np.where(rem == 3, h ^ (tail[2] << np.uint32(16)), h).astype(np.uint32)
        h = np.where(rem >= 2, h ^ (tail[1] << np.uint32(8)), h).astype(np.uint32)
        h = np.where(rem >= 1, (h ^ tail[0]) * M, h).astype(np.uint32)

        h ^= h >> np.uint32(13)
        h = h * M
        h ^= h >> np.uint32(15)
    out = np.empty(n, dtype=np.uint32)
    out[order] = h
    return out


def string_array_bytes_offsets(arr) -> tuple[np.ndarray, np.ndarray]:
    """(uint8 data, int64 offsets) view of a pyarrow string/binary array —
    the zero-copy input shape murmur2_flat consumes. Nulls must be filled
    by the caller (a null slot's offsets give it length 0)."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    bufs = arr.buffers()
    width = 8 if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type) else 4
    dt = np.int64 if width == 8 else np.int32
    off = np.frombuffer(bufs[1], dtype=dt, count=len(arr) + 1, offset=arr.offset * width)
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.zeros(0, dtype=np.uint8)
    )
    return data, off.astype(np.int64)


def murmur2_batch(keys: list[bytes | None]) -> np.ndarray:
    """Vectorized murmur2 over a batch of byte keys (numpy uint32 math).

    Keys are padded into an (n, maxlen) uint8 matrix; 4-byte chunks are
    mixed with masked vector ops so the whole batch runs in C — 10-100×
    over the per-row Python loop. None keys hash to 0 (callers mask them).
    """
    n = len(keys)
    lens = np.array([0 if k is None else len(k) for k in keys], dtype=np.int64)
    maxlen = int(lens.max()) if n else 0
    mat = np.zeros((n, max(maxlen, 1)), dtype=np.uint8)
    for i, k in enumerate(keys):
        if k:
            mat[i, : len(k)] = np.frombuffer(bytes(k), dtype=np.uint8)

    M = np.uint32(_M)
    h = (np.uint32(_SEED) ^ lens.astype(np.uint32)).astype(np.uint32)
    with np.errstate(over="ignore"):
        for i in range(0, maxlen - 3 if maxlen >= 4 else 0, 4):
            mask = lens >= i + 4
            chunk = (
                mat[:, i].astype(np.uint32)
                | (mat[:, i + 1].astype(np.uint32) << 8)
                | (mat[:, i + 2].astype(np.uint32) << 16)
                | (mat[:, i + 3].astype(np.uint32) << 24)
            )
            k = (chunk * M).astype(np.uint32)
            k ^= k >> 24
            k = (k * M).astype(np.uint32)
            hm = (h * M).astype(np.uint32) ^ k
            h = np.where(mask, hm, h).astype(np.uint32)

        n4 = (lens & ~np.int64(3)).astype(np.int64)
        rem = (lens & 3).astype(np.int64)
        rows = np.arange(n)
        tail = np.zeros((n, 3), dtype=np.uint32)
        for j in range(3):
            idx = n4 + j
            valid = idx < lens
            safe = np.minimum(idx, max(maxlen - 1, 0))
            tail[:, j] = np.where(valid, mat[rows, safe], 0).astype(np.uint32)

        h = np.where(rem == 3, h ^ (tail[:, 2] << 16), h).astype(np.uint32)
        h = np.where(rem >= 2, h ^ (tail[:, 1] << 8), h).astype(np.uint32)
        h_mixed = ((h ^ tail[:, 0]) * M).astype(np.uint32)
        h = np.where(rem >= 1, h_mixed, h).astype(np.uint32)

        h ^= h >> 13
        h = (h * M).astype(np.uint32)
        h ^= h >> 15
    return h


def murmur2_expr(key):
    """Kafka murmur2 over a binary column as a pure-JVM expression — no
    Python workers in the produce hot path (routing stays inside
    whole-stage codegen; the Pandas-UDF twin below remains for callers
    that want the Arrow kernel).

    Byte access goes through hex(): chunk i's big-endian value is one
    conv() over 8 hex chars, and the little-endian word Kafka's murmur2
    consumes is an arithmetic byteswap — one conv per 4 bytes, no per-byte
    array materialization. All arithmetic is 32-bit-masked longs (products
    stay < 2^63, so ANSI overflow checking never fires).
    """
    _MASK = F.lit(0xFFFFFFFF)
    _MC = F.lit(_M)
    H = F.hex(key)
    L = F.length(key)
    nchunks = F.floor(L / 4).cast("int")

    def swap32(be):
        return (
            F.shiftleft(be.bitwiseAND(F.lit(0xFF)), 24)
            .bitwiseOR(F.shiftleft(F.shiftrightunsigned(be, 8).bitwiseAND(F.lit(0xFF)), 16))
            .bitwiseOR(F.shiftleft(F.shiftrightunsigned(be, 16).bitwiseAND(F.lit(0xFF)), 8))
            .bitwiseOR(F.shiftrightunsigned(be, 24))
        )

    def mix(h, i):
        be = F.conv(F.substring(H, i * 8 + 1, 8), 16, 10).cast("long")
        k = swap32(be)
        k = (k * _MC).bitwiseAND(_MASK)
        k = k.bitwiseXOR(F.shiftrightunsigned(k, 24))
        k = (k * _MC).bitwiseAND(_MASK)
        return (h * _MC).bitwiseAND(_MASK).bitwiseXOR(k)

    h0 = (F.lit(_SEED).bitwiseXOR(L)).bitwiseAND(_MASK).cast("long")
    idxs = F.when(nchunks > 0, F.sequence(F.lit(0), nchunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    h = F.aggregate(idxs, h0, mix)
    n4 = nchunks * 4
    rem = (L - n4).cast("int")
    # tail: one conv over the remaining hex chars = the big-endian tail
    # value; murmur2 XORs tail byte j at shift 8*j (little-endian), and
    # byte j sits at BE shift 8*(rem-1-j) — branch on the 3 rem cases.
    tail_be = F.conv(F.substring(H, n4 * 2 + 1, rem * 2), 16, 10).cast("long")
    _ff = F.lit(0xFF)
    h = F.when(
        rem == 3, h.bitwiseXOR(F.shiftleft(tail_be.bitwiseAND(_ff), 16))
    ).otherwise(h)
    b1 = F.when(rem == 3, F.shiftrightunsigned(tail_be, 8)).otherwise(tail_be)
    h = F.when(
        rem >= 2, h.bitwiseXOR(F.shiftleft(b1.bitwiseAND(_ff), 8))
    ).otherwise(h)
    b0 = (
        F.when(rem == 3, F.shiftrightunsigned(tail_be, 16))
        .when(rem == 2, F.shiftrightunsigned(tail_be, 8))
        .otherwise(tail_be)
    )
    h = F.when(rem >= 1, (h.bitwiseXOR(b0) * _MC).bitwiseAND(_MASK)).otherwise(h)
    h = h.bitwiseXOR(F.shiftrightunsigned(h, 13))
    h = (h * _MC).bitwiseAND(_MASK)
    return h.bitwiseXOR(F.shiftrightunsigned(h, 15))


def murmur2_partition_expr(key, num_partitions: int):
    """JVM-side DefaultPartitioner: toPositive(murmur2(key)) % n."""
    return (
        F.pmod(murmur2_expr(key).bitwiseAND(F.lit(0x7FFFFFFF)), F.lit(num_partitions))
        .cast("int")
    )


def murmur2_partition_udf(num_partitions: int):
    """Vectorized key(binary) → partition(int) column function.

    r14: keys go pandas → one Arrow binary array (a single C conversion
    pass) → murmur2_flat over the contiguous buffer — the padded-matrix
    path ran a Python loop + np.frombuffer per key, which WAS the produce
    hot path's per-record cost. Null keys still map to -1 (callers route
    them round-robin)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    @pandas_udf("int")
    def _udf(keys: pd.Series) -> pd.Series:
        arr = pa.array(keys, type=pa.binary(), from_pandas=True)
        data, off = string_array_bytes_offsets(arr)
        h = murmur2_flat(data, off)
        part = ((h & np.uint32(0x7FFFFFFF)) % np.uint32(num_partitions)).astype(
            np.int32
        )
        if arr.null_count:
            part[np.asarray(pc.is_null(arr))] = -1
        return pd.Series(part)

    return _udf
