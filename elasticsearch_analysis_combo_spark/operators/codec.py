"""Vectorized delta + varint posting-block codec (SURVEY.md §2 B4).

The reference delegates posting compression to its Lucene 4.6 host
(pom.xml:41-42); the standard published format is delta-encoded docID gaps
with variable-byte integers and per-block skip/max metadata (Lucene
postings; see also the block-max WAND literature, Ding & Suel 2011). This
module implements that from scratch in numpy — no per-value Python in either
direction:

* encode: per-value byte lengths via bit_length, single allocation, one
  masked write per varint byte position (<=10 passes, each whole-array).
* decode: terminator scan (`byte < 0x80`), segmented accumulate with one
  masked pass per byte position.

Block layout (one posting block, default 128 docs). Docs are numbered
by their ORDINAL: a generation's docs sorted by doc_id get 0..N-1, as
Lucene numbers a segment's docs. Document length is not in the block: it
is a per-doc norms column (``doc_stats.dl``, gathered by ordinal at query
time), as Lucene keeps norms beside its postings.
  ``data``     — varint stream of interleaved (ordinal_gap, tf) pairs; the
                 first gap counts from ordinal 0, so every block decodes
                 without its predecessor (WAND skips blocks).
  ``pos_data`` — varint stream of within-doc position deltas (first absolute),
                 doc-concatenated; per-doc counts are the decoded tfs.
  header       — first_doc, last_doc (ordinals), n, max_impact (BM25
                 tf-saturation upper bound over the block's exact dl; idf
                 is a per-term constant applied at query time, so
                 block-max pruning stays exact).
"""

from __future__ import annotations

import numpy as np

#: the block layout above, recorded in every published ``meta.json`` and
#: salted into the posting checkpoint fingerprint: an index or checkpoint
#: of another layout is refused or rebuilt, never decoded
POSTING_FORMAT = "ordinal-gaps-1"


def varint_encode_with_sizes(vals: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode a uint64 array as a LEB128-style varint stream; also returns
    the per-value byte counts so callers can slice the stream into
    independently-decodable ranges (the batched whole-vocabulary encoder
    relies on this)."""
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    if vals.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    # bytes needed per value: ceil(bit_length/7), min 1
    nbits = np.zeros(vals.shape, dtype=np.int64)
    tmp = vals.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 1
        tmp >>= np.uint64(1)
    nbytes = np.maximum((nbits + 6) // 7, 1)
    offsets = np.concatenate([[0], np.cumsum(nbytes)[:-1]])
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    max_len = int(nbytes.max())
    for i in range(max_len):
        mask = nbytes > i
        byte = (vals[mask] >> np.uint64(7 * i)).astype(np.uint64) & np.uint64(0x7F)
        more = nbytes[mask] > (i + 1)
        out[offsets[mask] + i] = byte.astype(np.uint8) | (more.astype(np.uint8) << 7)
    return out.tobytes(), nbytes


def varint_encode(vals: np.ndarray) -> bytes:
    """Encode a uint64 array as a concatenated LEB128-style varint stream."""
    return varint_encode_with_sizes(vals)[0]


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode a varint stream back to a uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    ends = np.nonzero(b < 0x80)[0]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for i in range(int(lens.max())):
        mask = lens > i
        vals[mask] |= (b[starts[mask] + i] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(7 * i)
    return vals


def delta_encode_segmented(flat: np.ndarray, seg_starts: np.ndarray) -> np.ndarray:
    """Delta-encode a doc-major flattened position array: within-segment
    deltas, absolute value at each segment start. Fully vectorized."""
    flat = flat.astype(np.uint64, copy=False)
    deltas = flat.copy()
    deltas[1:] -= flat[:-1]
    deltas[seg_starts] = flat[seg_starts]
    return deltas


def delta_decode_segmented(deltas: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Inverse of delta_encode_segmented: segmented cumulative sum with
    resets at segment boundaries, no per-segment Python loop."""
    if deltas.size == 0:
        return deltas.astype(np.int64)
    raw = np.cumsum(deltas, dtype=np.uint64)
    starts = np.cumsum(lengths, dtype=np.int64) - lengths  # first idx per seg
    starts = starts[lengths > 0]
    # correction per segment = running total before the segment started
    corr = np.zeros(starts.size, dtype=np.uint64)
    corr[1:] = raw[starts[1:] - 1]
    lens_nz = lengths[lengths > 0]
    return (raw - np.repeat(corr, lens_nz)).astype(np.int64)


def encode_block(
    ords: np.ndarray,
    tfs: np.ndarray,
    pos_flat: np.ndarray | None,
) -> tuple[bytes, bytes]:
    """Encode one block of postings: ascending doc ordinals and their tfs.
    ``pos_flat`` is the block's positions flattened doc-major (lengths =
    tfs). Returns (data, pos_data)."""
    ords = np.asarray(ords, dtype=np.int64)
    pairs = np.empty(2 * ords.size, dtype=np.uint64)
    pairs[0::2] = np.diff(ords, prepend=0).astype(np.uint64)
    pairs[1::2] = tfs.astype(np.uint64)
    data = varint_encode(pairs)
    pos_data = b""
    if pos_flat is not None and pos_flat.size:
        tfs64 = tfs.astype(np.int64, copy=False)
        starts = np.cumsum(tfs64) - tfs64
        starts = starts[tfs64 > 0]
        pos_data = varint_encode(delta_encode_segmented(pos_flat, starts))
    return data, pos_data


def decode_block(data: bytes, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Decode (ordinals, tfs) from one block's data stream."""
    pairs = varint_decode(data)
    assert pairs.size == 2 * n, f"block decode: {pairs.size} != 2*{n}"
    ords = np.cumsum(pairs[0::2], dtype=np.uint64).astype(np.int64)
    return ords, pairs[1::2].astype(np.int64)


def encode_positions_rows(flat: np.ndarray, lens: np.ndarray) -> list[bytes]:
    """Pack per-row position lists (flattened row-major with per-row
    ``lens``) into one independent delta+varint stream per row — the exact
    per-doc wire format of a block's ``pos_data``, so the posting build
    can assemble a block's stream by plain byte concatenation (no decode,
    no re-encode; bit-identical to encoding the block in one pass).
    Packing happens in the ANALYSIS stage, before the shuffle: positions
    are ~60% of the raw term-stats bytes and varint-delta shrinks them
    several-fold, which at cluster scale is shuffle/network volume."""
    lens = np.asarray(lens, dtype=np.int64)
    n_rows = int(lens.size)
    if n_rows == 0:
        return []
    assert int(lens.min(initial=1)) >= 1, "every stats row has tf >= 1"
    starts = np.cumsum(lens) - lens
    deltas = delta_encode_segmented(
        np.asarray(flat, dtype=np.uint64), starts
    )
    buf, sizes = varint_encode_with_sizes(deltas)
    row_bytes = np.add.reduceat(sizes, starts)
    offs = np.concatenate([[0], np.cumsum(row_bytes)])
    mv = memoryview(buf)
    return [bytes(mv[offs[i]:offs[i + 1]]) for i in range(n_rows)]


def decode_positions_flat(pos_data: bytes, tfs: np.ndarray) -> np.ndarray:
    """De-delta the block's position stream -> flat absolute positions
    (doc-major; per-doc lengths are the decoded tfs). Vectorized."""
    deltas = varint_decode(pos_data)
    return delta_decode_segmented(deltas, tfs.astype(np.int64, copy=False))


def decode_positions(pos_data: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """Convenience per-doc list view of decode_positions_flat (tests/API)."""
    flat = decode_positions_flat(pos_data, tfs)
    out = []
    off = 0
    for tf in tfs:
        out.append(flat[off:off + int(tf)])
        off += int(tf)
    return out


def bm25_impact(tfs: np.ndarray, dls: np.ndarray, avgdl: float, k1: float, b: float) -> np.ndarray:
    """Per-posting BM25 tf-saturation term (idf excluded):
    tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))."""
    tfs = tfs.astype(np.float64)
    dls = dls.astype(np.float64)
    return tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
