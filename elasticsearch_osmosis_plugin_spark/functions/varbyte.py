"""Delta + varbyte posting compression — vectorized numpy kernels.

Runs inside Arrow batches on executors (mapInPandas/applyInPandas);
never per-row Python. Convention: little-endian 7-bit groups, the
TERMINATOR byte (last byte of each value) has the high bit set —
classic varint with inverted continuation, which makes vectorized
decode a cumsum over terminator positions.

Property: decode(encode(x)) == x for any uint64 array (tested with
hypothesis in tests/test_varbyte.py).
"""

from __future__ import annotations

import numpy as np

_SHIFTS = (np.uint64(7) * np.arange(10, dtype=np.uint64))  # max 10 groups for 64-bit
_MASK7 = np.uint64(0x7F)


def vb_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a uint64 array."""
    arr = np.ascontiguousarray(values, dtype=np.uint64)
    n = arr.shape[0]
    if n == 0:
        return b""
    # bytes needed per value: 1 + #{j in 1..9 : v >= 2^(7j)}
    thresholds = np.uint64(1) << _SHIFTS[1:]          # 2^7 .. 2^63
    nbytes = 1 + (arr[:, None] >= thresholds[None, :]).sum(axis=1)
    groups = ((arr[:, None] >> _SHIFTS[None, :]) & _MASK7).astype(np.uint8)
    pos = np.arange(10)[None, :]
    valid = pos < nbytes[:, None]
    term = pos == (nbytes[:, None] - 1)
    groups = np.where(term, groups | np.uint8(0x80), groups)
    return groups[valid].tobytes()


def vb_decode(buf: bytes | np.ndarray) -> np.ndarray:
    """Vectorized varbyte decode -> uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray, memoryview)) else np.asarray(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    if b[-1] < 0x80:
        raise ValueError("truncated varbyte stream: no terminator at end")
    ends = np.flatnonzero(b >= 0x80)
    starts = np.empty(ends.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    # shift of each byte = 7 * (index - start of its value)
    shift = np.arange(b.size, dtype=np.int64)
    shift -= np.repeat(starts, ends - starts + 1)
    shift *= 7
    contrib = (b & np.uint8(0x7F)).astype(np.uint64)
    contrib <<= shift.view(np.uint64)
    # a value's groups occupy disjoint bit ranges, so their sum is
    # their bitwise OR: one segmented sum over the value starts
    return np.add.reduceat(contrib, starts)


def _vb_bytes_and_counts(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Flat encoded byte stream + per-value byte counts (vectorized)."""
    arr = np.ascontiguousarray(values, dtype=np.uint64)
    thresholds = np.uint64(1) << _SHIFTS[1:]
    nbytes = 1 + (arr[:, None] >= thresholds[None, :]).sum(axis=1)
    groups = ((arr[:, None] >> _SHIFTS[None, :]) & _MASK7).astype(np.uint8)
    pos = np.arange(10)[None, :]
    valid = pos < nbytes[:, None]
    term = pos == (nbytes[:, None] - 1)
    groups = np.where(term, groups | np.uint8(0x80), groups)
    return groups[valid], nbytes


def vb_encode_groups(values: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Encode a concatenation of groups in ONE vectorized pass, then
    split the byte stream at group boundaries. ``starts`` are the
    first-element indices of each group (starts[0] == 0)."""
    if values.size == 0:
        return []
    flat, nbytes = _vb_bytes_and_counts(values)
    offsets = np.zeros(values.size + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    bounds = offsets[np.append(starts, values.size)]
    buf = flat.tobytes()
    return [buf[bounds[i]:bounds[i + 1]] for i in range(len(starts))]


def delta_encode_groups(sorted_vals: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Per-group delta encode in one pass: gaps everywhere, absolute
    value at each group start."""
    a = np.ascontiguousarray(sorted_vals, dtype=np.uint64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0]
    np.subtract(a[1:], a[:-1], out=out[1:])
    out[starts] = a[starts]
    return out


def delta_decode_groups(deltas: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Inverse of ``delta_encode_groups``: each group starts with an
    absolute value followed by gaps; one cumsum + per-group rebase."""
    a = np.ascontiguousarray(deltas, dtype=np.uint64)
    if a.size == 0:
        return a
    cs = np.cumsum(a, dtype=np.uint64)
    base = np.zeros(len(starts), dtype=np.uint64)
    base[1:] = cs[np.asarray(starts[1:], dtype=np.int64) - 1]
    lengths = np.diff(np.append(starts, a.size))
    return cs - np.repeat(base, lengths)


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Strictly-increasing uint64 ids -> first value + gaps (all uint64)."""
    a = np.ascontiguousarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0]
    np.subtract(a[1:], a[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    a = np.ascontiguousarray(deltas, dtype=np.uint64)
    return np.cumsum(a, dtype=np.uint64)


def encode_posting_ids(sorted_doc_ids: np.ndarray) -> bytes:
    return vb_encode(delta_encode(sorted_doc_ids))


def decode_posting_ids(buf: bytes) -> np.ndarray:
    return delta_decode(vb_decode(buf))
