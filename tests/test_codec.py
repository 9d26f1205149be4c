"""Delta+varint codec roundtrip invariants (SURVEY.md §5: compressed-decode
roundtrip), including hypothesis property tests."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from elasticsearch_analysis_combo_spark.operators.codec import (
    bm25_impact,
    decode_block,
    decode_positions,
    encode_block,
    varint_decode,
    varint_encode,
)


def test_varint_known_values():
    vals = np.array([0, 1, 127, 128, 129, 300, 2**32, 2**63 - 1], dtype=np.uint64)
    enc = varint_encode(vals)
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert (varint_decode(enc) == vals).all()


def test_varint_empty():
    assert varint_encode(np.zeros(0, dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
def test_varint_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert (varint_decode(varint_encode(arr)) == arr).all()


def _roundtrip(ords, tfs):
    """Encode and decode one block; positions ride along only while tfs
    are small enough to spell them out."""
    positions = None
    if tfs.max() <= 64:
        positions = [np.arange(1, t + 1, dtype=np.int64) * 2 for t in tfs]
    blob, pos_blob = encode_block(
        ords, tfs,
        None if positions is None else np.concatenate(positions).astype(np.uint64),
    )
    d, t = decode_block(blob, ords.size)
    assert d.dtype == np.int64 and t.dtype == np.int64
    assert (d == ords).all() and (t == tfs).all()
    if positions is not None:
        back = decode_positions(pos_blob, t)
        assert all((a == b).all() for a, b in zip(back, positions))
    return blob


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 5000), st.data())
def test_block_roundtrip_property(n_docs, data):
    """Random ascending ordinals of a 0..n_docs-1 generation, often
    starting at 0 or ending at n_docs-1, with small tfs (positions
    round-trip too) or tfs up to 2^20."""
    ords = data.draw(st.lists(st.integers(0, n_docs - 1), min_size=1,
                              max_size=min(n_docs, 200), unique=True))
    if data.draw(st.booleans()):
        ords.append(0)
    if data.draw(st.booleans()):
        ords.append(n_docs - 1)
    ords = np.array(sorted(set(ords)), dtype=np.int64)
    tf_max = data.draw(st.sampled_from([40, 2**20]))
    tfs = np.array(data.draw(st.lists(
        st.integers(1, tf_max), min_size=ords.size, max_size=ords.size,
    )), dtype=np.int64)
    _roundtrip(ords, tfs)


def test_block_edges():
    """A single-doc block at ordinal 0 costs two bytes; one at the last
    ordinal of a large generation decodes without any predecessor; a
    block spanning 0..N-1 codes its first gap from ordinal 0."""
    assert _roundtrip(np.array([0]), np.array([1])) == b"\x00\x01"
    big = (1 << 40) - 1
    _roundtrip(np.array([big]), np.array([3]))
    _roundtrip(np.array([0, 1, 7, 999_999]), np.array([1, 2**31, 5, 1]))


def test_bm25_impact_monotone_in_tf():
    tfs = np.arange(1, 100)
    dls = np.full(99, 500)
    imp = bm25_impact(tfs, dls, avgdl=400.0, k1=1.2, b=0.75)
    assert (np.diff(imp) > 0).all()
    assert (imp < 2.2).all()  # bounded by k1+1
