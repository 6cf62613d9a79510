"""Posting-list compression: delta-gap + LEB128 varint, numpy-vectorized.

Reference precedent: RdbList.cpp "half keys" — prefix-truncated 6/12/18
byte keys along (termId, docId, position) (SURVEY.md §1.3). For our
payload (sorted doc_id runs per term) delta-gap + varint strictly beats
the fixed 6-byte scheme; encode/decode never loops per value in Python
(a bounded loop over the ≤10 possible byte-positions only).
"""

from __future__ import annotations

import numpy as np

_MAX_VARINT_BYTES = 10  # 64 bits / 7


def varint_encode_with_sizes(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array; also return per-value byte counts
    (lets callers slice the stream into sub-ranges without re-encoding
    — the whole-group encoder in index/segments.py relies on this)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    # bytes needed per value: 1 + floor(bit_length-1 / 7)
    nbytes = np.ones(v.size, dtype=np.int64)
    for j in range(1, _MAX_VARINT_BYTES):
        nbytes += (v >= np.uint64(1) << np.uint64(7 * j)).astype(np.int64)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for j in range(_MAX_VARINT_BYTES):
        mask = nbytes > j
        if not mask.any():
            break
        idx = starts[mask] + j
        chunk = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1 > j).astype(np.uint8) << 7
        out[idx] = chunk.astype(np.uint8) | cont
    return out.tobytes(), nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array."""
    return varint_encode_with_sizes(values)[0]


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to uint64. Vectorized via ufunc.at."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    n_vals = int(is_last.sum())
    # group id of each byte = index of the value it belongs to
    group = np.zeros(b.size, dtype=np.int64)
    group[1:] = np.cumsum(is_last)[:-1]
    # position of each byte within its value
    starts_of_group = np.zeros(n_vals, dtype=np.int64)
    last_idx = np.flatnonzero(is_last)
    starts_of_group[1:] = last_idx[:-1] + 1
    offset = np.arange(b.size, dtype=np.int64) - starts_of_group[group]
    payload = (b & np.uint8(0x7F)).astype(np.uint64) << (offset * 7).astype(np.uint64)
    out = np.zeros(n_vals, dtype=np.uint64)
    np.add.at(out, group, payload)  # bit-ranges are disjoint → add == or
    return out


def positions_encode(flat_pos: np.ndarray, tfs: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode per-posting position lists, laid out flat in posting
    order (posting i owns flat_pos[cum_tf[i-1]:cum_tf[i]], ascending).
    Each posting's stream is SELF-CONTAINED: first value absolute,
    then deltas — so per-posting byte slices can be concatenated /
    re-split freely (block packing, compaction) without re-encoding.
    Returns (stream bytes, per-posting byte offsets, len == n+1)."""
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    if flat_pos.size == 0:
        return b"", np.zeros(tfs.size + 1, dtype=np.int64)
    p = np.ascontiguousarray(flat_pos, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    d = np.empty(p.size, dtype=np.uint64)
    d[0] = p[0]
    np.subtract(p[1:], p[:-1], out=d[1:], casting="unsafe")
    d[starts] = p[starts].astype(np.uint64)
    buf, sizes = varint_encode_with_sizes(d)
    per_post = np.add.reduceat(sizes, starts)
    return buf, np.concatenate(([0], np.cumsum(per_post)))


def positions_decode(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Decode a concatenation of self-contained per-posting position
    streams back to the flat int64 layout (posting boundaries are
    cumsum(tfs) — the caller slices)."""
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    deltas = varint_decode(buf).astype(np.int64)
    if deltas.size == 0:
        return deltas
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    cs = np.cumsum(deltas)
    base = cs[starts] - deltas[starts]
    return cs - np.repeat(base, tfs)


def positions_byte_offsets(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Per-posting byte offsets (len n+1) into a concatenated
    positions stream, from the continuation-bit scan alone. A posting
    with tf 0 owns no bytes."""
    b = np.frombuffer(buf, dtype=np.uint8)
    value_ends = np.concatenate(([0], np.flatnonzero(b < 0x80) + 1))
    first_value = np.concatenate(([0], np.cumsum(tfs, dtype=np.int64)))
    if first_value[-1] != value_ends.size - 1:
        raise ValueError(
            f"positions stream holds {value_ends.size - 1} values, "
            f"tfs sum to {first_value[-1]}"
        )
    return value_ends[first_value]
