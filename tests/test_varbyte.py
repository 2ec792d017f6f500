"""Property tests: decode(encode(x)) == x (SURVEY.md §5 test plan)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from elasticsearch_osmosis_plugin_spark.functions.varbyte import (
    decode_posting_ids,
    delta_decode,
    delta_encode,
    encode_posting_ids,
    vb_decode,
    vb_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=(1 << 64) - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_vb_roundtrip(xs):
    a = np.array(xs, dtype=np.uint64)
    assert np.array_equal(vb_decode(vb_encode(a)), a)


@given(st.sets(st.integers(min_value=0, max_value=(1 << 62) - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_posting_roundtrip(xs):
    a = np.array(sorted(xs), dtype=np.uint64)
    assert np.array_equal(decode_posting_ids(encode_posting_ids(a)), a)


def test_delta_roundtrip_basic():
    a = np.array([0, 1, 5, 1 << 61, (1 << 62) - 1], dtype=np.uint64)
    assert np.array_equal(delta_decode(delta_encode(a)), a)


def test_empty():
    assert vb_encode(np.empty(0, dtype=np.uint64)) == b""
    assert vb_decode(b"").size == 0


def test_encode_is_compact():
    # small gaps -> ~1 byte per entry
    ids = np.arange(0, 10_000, 3, dtype=np.uint64)
    buf = encode_posting_ids(ids)
    assert len(buf) < ids.size * 1.1 + 8


def _bitwise_or_reference(buf: bytes) -> np.ndarray:
    """The scatter-OR formulation the reduceat kernel replaced."""
    b = np.frombuffer(buf, dtype=np.uint8)
    is_term = b >= 0x80
    gid = np.zeros(b.size, dtype=np.int64)
    np.cumsum(is_term[:-1], out=gid[1:])
    starts = np.zeros(int(is_term.sum()), dtype=np.int64)
    starts[1:] = np.flatnonzero(is_term)[:-1] + 1
    pos = (np.arange(b.size, dtype=np.int64) - starts[gid]).astype(np.uint64)
    contrib = (b.astype(np.uint64) & np.uint64(0x7F)) << (np.uint64(7) * pos)
    out = np.zeros(starts.size, dtype=np.uint64)
    np.bitwise_or.at(out, gid, contrib)
    return out


@given(st.lists(st.integers(min_value=1 << 63, max_value=(1 << 64) - 1),
                min_size=1, max_size=50),
       st.lists(st.integers(min_value=0, max_value=(1 << 64) - 1),
                max_size=50))
@settings(max_examples=100, deadline=None)
def test_reduceat_kernel_matches_bitwise_or(wide, any_):
    # values >= 2^63 take all 10 varbyte groups
    a = np.array(wide + any_ + [(1 << 64) - 1, 0, 127, 128],
                 dtype=np.uint64)
    buf = vb_encode(a)
    assert np.array_equal(vb_decode(buf), _bitwise_or_reference(buf))
    assert np.array_equal(vb_decode(buf), a)


def test_truncated_stream_raises():
    buf = vb_encode(np.array([5, 1 << 20], dtype=np.uint64))
    with pytest.raises(ValueError):
        vb_decode(buf[:-1])


_rows = st.lists(st.lists(st.integers(min_value=0, max_value=(1 << 64) - 1),
                          max_size=20), max_size=12)


@given(_rows, st.integers(min_value=0, max_value=12),
       st.integers(min_value=0, max_value=12), st.booleans())
@settings(max_examples=200, deadline=None)
def test_batched_column_decode_matches_per_row(rows, lo, split, chunked):
    """One decode over a binary column's value buffer == per-row
    ``vb_decode``: empty rows, a sliced array (non-zero offset) and a
    multi-chunk column."""
    import pyarrow as pa

    from elasticsearch_osmosis_plugin_spark.operators.serve import _decode_column

    bufs = [vb_encode(np.array(r, dtype=np.uint64)) for r in rows]
    arr = pa.array(bufs, type=pa.binary())
    lo = min(lo, len(bufs))
    col = arr.slice(lo)
    want_rows = bufs[lo:]
    if chunked:
        cut = min(split, len(col))
        col = pa.chunked_array([col.slice(0, cut), col.slice(cut)],
                               type=pa.binary())
    vals, counts = _decode_column(col)
    want = [vb_decode(b) for b in want_rows]
    assert counts.tolist() == [w.size for w in want]
    assert np.array_equal(
        vals, np.concatenate(want) if want else np.empty(0, np.uint64))
