"""Posting-segment encode/decode kernels (numpy, Arrow-batched).

Segment format v2 — STATS-FREE blocks. The persisted unit is a *block
row*: up to ``block_size`` postings of one term, doc_id-sorted, stored
as binary columns

    docs_blob   delta-gap + LEB128 varint doc_ids  (functions/codec)
    tfs_blob    LEB128 varint term frequencies
    dls_blob    FIXED-WIDTH little-endian uint32 doc lengths (one per
                posting). Deliberately NOT varint: doc lengths are
                2-byte-sized values, and LEB128-encoding them costs a
                byte-scatter pass ~50x slower than the uint32
                cast+memcpy (measured 16.6s vs 0.3s per 20M postings
                warm) — at high parallelism that pass dominated the
                encode stage and sank build scaling efficiency
                (BENCH.md §r05). 4 B/posting is still 4 B less than
                the float64 score v1 persisted.
    pos_blob    concatenated SELF-CONTAINED per-posting position
                streams (codec.positions_encode; split points recovered
                from tfs + continuation bits). The reference's posdb
                key is positional — one key per occurrence (Posdb.h,
                SURVEY.md §1.3); this is the columnar equivalent, and
                what serves index-backed phrase/proximity.

plus pruning metadata ``(doc_id_min, doc_id_max, n_docs, block_max_tf,
block_min_dl)`` — our RdbMap (RdbMap.cpp per-page key offsets,
SURVEY.md §1.1) fused with the per-block extrema that drive WAND-style
skipping (Posdb.cpp getMaxPossibleScore precedent, §4).

v1 persisted the float64 BM25 contribution per posting (the reference's
static-feature precompute, SURVEY.md §4) — which is also the
reference's WEAKNESS: baked scores go stale the moment corpus stats
move (Posdb::getTermFreq drift between merges). v2 stores only the
stat-free inputs (tf, dl) and computes the score AT READ TIME from the
LIVE stats (df from term_dict, N/avgdl from meta) via ``bm25_rescore``
— a handful of vectorized flops per posting, negligible next to the
varint decode — so scored reads are exact under continuous ingest
without recompaction (VERDICT r04 item 2). Block-max bounds for
MaxScore pruning are derived the same way: score is monotone ↑ in tf
and ↓ in dl, so ``f(block_max_tf, block_min_dl)`` with the live stats
is a valid per-block upper bound.

Everything here operates on whole numpy arrays; no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from open_source_search_engine_spark.functions.codec import (
    positions_byte_offsets,
    positions_decode,
    varint_decode,
    varint_encode_with_sizes,
)

BLOCK_SCHEMA = (
    "bucket int, salt int, term_id long, block_id int, "
    "doc_id_min long, doc_id_max long, n_docs int, "
    "block_max_tf int, block_min_dl int, docs_blob binary, "
    "tfs_blob binary, dls_blob binary, pos_blob binary"
)

SEGMENT_FORMAT = 3  # v3 = v2 with fixed-width dls_blob (see header)


def bm25_rescore(
    tfs: np.ndarray, dls: np.ndarray, idf: float, avgdl: float, k1: float, b: float
) -> np.ndarray:
    """Per-posting BM25 contribution from the stat-free stored inputs
    and the LIVE stats. The expression tree mirrors
    operators.bm25.bm25_term_score_col operation-for-operation (same
    IEEE-754 association order) so a fresh build's read-time scores are
    bit-identical to what v1 persisted at build time."""
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    return idf * (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl)))


def block_bound(
    max_tf: np.ndarray, min_dl: np.ndarray, idf: float, avgdl: float,
    k1: float, b: float,
) -> np.ndarray:
    """Valid per-block score upper bound from the block extrema (score
    monotone ↑ tf, ↓ dl) under the live stats — the v2 replacement for
    the persisted block_max_score."""
    return bm25_rescore(max_tf, min_dl, idf, avgdl, k1, b)


def _binary_array(data: np.ndarray, offsets: np.ndarray) -> "object":
    """Zero-copy Arrow binary column from a contiguous byte stream +
    int offsets (no per-value Python bytes objects).

    pa.binary() offsets are int32; the kernel concatenates a whole
    encode partition's stream, so a partition whose blob bytes exceed
    2 GiB would silently wrap the astype and corrupt the column
    (ADVICE r02). Fail loudly instead — the fix is more encode tasks
    (builder.encode_partitions: a lower POSTINGS_PER_ENCODE_TASK), not
    a bigger offset type, since 2 GiB-per-task partitions are already
    far past the healthy task size."""
    import pyarrow as pa

    last = int(offsets[-1]) if offsets.size else 0
    if last > np.iinfo(np.int32).max:
        raise ValueError(
            f"encode partition blob stream is {last} bytes > int32 offset "
            "range; builder.encode_partitions must give more encode tasks "
            "(lower POSTINGS_PER_ENCODE_TASK) so each holds < 2 GiB of blob bytes"
        )
    return pa.Array.from_buffers(
        pa.binary(),
        offsets.size - 1,
        [
            None,
            pa.py_buffer(np.ascontiguousarray(offsets, dtype=np.int32).tobytes()),
            pa.py_buffer(data),
        ],
    )


def _binary_column_np(col) -> tuple[np.ndarray, np.ndarray]:
    """Arrow binary column → (uint8 data, int64 per-value offsets),
    zero-copy views honoring any array slice offset."""
    import pyarrow as pa

    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    buffers = arr.buffers()
    offsets = np.frombuffer(buffers[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    data = np.frombuffer(buffers[2], dtype=np.uint8) if buffers[2] is not None else np.empty(0, np.uint8)
    return data, offsets


def make_encode_kernel(
    block_size: int, n_buckets: int, max_doc_id: int, n_salts: int
):
    """mapInArrow kernel: encode one shuffle PARTITION of postings
    (columns term_id, doc_id, tf, doc_len[, pos_blob]) into block
    rows.

    bucket and salt are recomputed here from term_id / doc_id instead
    of being shuffled as columns — the shuffle moves 8 fewer bytes per
    posting, and the whole partition is encoded in ONE numpy pass. The
    kernel speaks Arrow directly (mapInArrow): the pos_blob column is
    consumed as (data buffer, offsets), and every output blob column
    is built zero-copy from a contiguous stream + offsets — NO
    per-posting Python objects on either side (per-posting bytes
    slices made positions cost ~2.5× build time at 4 cores). The
    caller must have partitioned rows by the SAME (bucket, salt)
    expressions so every run is whole within the partition, and
    sorted them (bucket, term_id, salt, doc_id) within it
    (builder._encode_and_write does both); unsorted input raises."""
    import pyarrow as pa

    width = salt_width(max_doc_id, n_salts)

    def it(batches):
        parts = [rb for rb in batches if rb.num_rows]
        if not parts:
            yield _empty_blocks_arrow()
            return
        tbl = pa.Table.from_batches(parts)
        term_ids = tbl.column("term_id").to_numpy().astype(np.int64, copy=False)
        doc_ids = tbl.column("doc_id").to_numpy().astype(np.int64, copy=False)
        tfs = tbl.column("tf").to_numpy().astype(np.int64, copy=False)
        dls = tbl.column("doc_len").to_numpy().astype(np.int64, copy=False)
        buckets = term_ids % n_buckets
        salts = np.minimum(doc_ids // width, n_salts - 1)
        # term-major order (bucket, term, salt, doc): every (term,
        # salt) run stays contiguous and doc-sorted (all the encoder
        # needs), and the partitioned write that follows the kernel
        # directly produces files whose row groups span narrow term_id
        # ranges — tight min/max stats for query-side pruning.
        # The builder sorts this order JVM-SIDE (Tungsten radix sort
        # in sortWithinPartitions): a numpy lexsort+gather here is
        # memory-bandwidth-bound and measured to scale at only ~0.46
        # from 4→16 cores, so the kernel only VERIFIES order (one
        # streaming pass) — an unsorted run would corrupt the blocks.
        n = term_ids.size
        sorted_ok = bool(
            np.all(
                (buckets[1:] > buckets[:-1])
                | (
                    (buckets[1:] == buckets[:-1])
                    & (
                        (term_ids[1:] > term_ids[:-1])
                        | (
                            (term_ids[1:] == term_ids[:-1])
                            & (
                                (salts[1:] > salts[:-1])
                                | (
                                    (salts[1:] == salts[:-1])
                                    & (doc_ids[1:] >= doc_ids[:-1])
                                )
                            )
                        )
                    )
                )
            )
        ) if n > 1 else True
        if not sorted_ok:
            raise ValueError(
                "encode kernel input is not sorted by (bucket, term_id, "
                "salt, doc_id) within its partition"
            )
        pos = None
        if "pos_blob" in tbl.column_names:
            pos = _binary_column_np(tbl.column("pos_blob"))
        yield _encode_sorted(
            buckets, salts, term_ids, doc_ids, tfs, dls, block_size, pos_sorted=pos
        )

    return it


def _encode_sorted(
    buckets, salts, term_ids, doc_ids, tfs, dls, block_size, pos_sorted=None
):
    """Encode postings ALREADY sorted by (bucket, term_id, salt,
    doc_id) into one Arrow batch of block rows. Whole-array
    vectorized: gaps + varints are computed over ALL postings in one
    numpy pass, and every blob column is a zero-copy binary array
    (stream + block offsets). Each block's delta stream restarts with
    an absolute doc_id, so every block decodes standalone."""
    import pyarrow as pa

    n = term_ids.size
    # a posting "run" = one (bucket, salt, term) list; position of
    # each posting within its run, then block id
    run_change = np.flatnonzero(
        (np.diff(term_ids) != 0)
        | (np.diff(buckets) != 0)
        | (np.diff(salts) != 0)
    ) + 1
    starts = np.concatenate(([0], run_change))
    run_start_of = np.repeat(starts, np.diff(np.concatenate((starts, [n]))))
    within = np.arange(n) - run_start_of
    block_of = within // block_size

    # block boundaries: run change OR block_of change
    is_run_change = np.zeros(n, dtype=bool)
    is_run_change[run_change] = True
    change = np.flatnonzero(is_run_change[1:] | (np.diff(block_of) != 0)) + 1
    b_starts = np.concatenate(([0], change))
    b_ends = np.concatenate((change, [n]))

    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = doc_ids[0]
    np.subtract(doc_ids[1:], doc_ids[:-1], out=gaps[1:], casting="unsafe")
    gaps[b_starts] = doc_ids[b_starts].astype(np.uint64)
    d_bytes, d_sizes = varint_encode_with_sizes(gaps)
    d_off = np.concatenate(([0], np.cumsum(d_sizes)))
    t_bytes, t_sizes = varint_encode_with_sizes(tfs.astype(np.uint64))
    t_off = np.concatenate(([0], np.cumsum(t_sizes)))
    l_bytes = dls.astype("<u4").tobytes()

    block_bounds = np.concatenate((b_starts, [n]))
    cols = {
        "bucket": pa.array(buckets[b_starts].astype(np.int32)),
        "salt": pa.array(salts[b_starts].astype(np.int32)),
        "term_id": pa.array(term_ids[b_starts]),
        "block_id": pa.array(block_of[b_starts].astype(np.int32)),
        "doc_id_min": pa.array(doc_ids[b_starts]),
        "doc_id_max": pa.array(doc_ids[b_ends - 1]),
        "n_docs": pa.array((b_ends - b_starts).astype(np.int32)),
        "block_max_tf": pa.array(
            np.maximum.reduceat(tfs, b_starts).astype(np.int32)
        ),
        "block_min_dl": pa.array(
            np.minimum.reduceat(dls, b_starts).astype(np.int32)
        ),
        "docs_blob": _binary_array(d_bytes, d_off[block_bounds]),
        "tfs_blob": _binary_array(t_bytes, t_off[block_bounds]),
        "dls_blob": _binary_array(l_bytes, 4 * block_bounds),
    }
    if pos_sorted is not None:
        p_data, p_off = pos_sorted
        cols["pos_blob"] = _binary_array(p_data, p_off[block_bounds])
    else:
        cols["pos_blob"] = _binary_array(
            np.empty(0, np.uint8), np.zeros(b_starts.size + 1, np.int64)
        )
    return pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols.keys()))


def _empty_blocks_arrow():
    import pyarrow as pa

    schema = pa.schema(
        [
            ("bucket", pa.int32()),
            ("salt", pa.int32()),
            ("term_id", pa.int64()),
            ("block_id", pa.int32()),
            ("doc_id_min", pa.int64()),
            ("doc_id_max", pa.int64()),
            ("n_docs", pa.int32()),
            ("block_max_tf", pa.int32()),
            ("block_min_dl", pa.int32()),
            ("docs_blob", pa.binary()),
            ("tfs_blob", pa.binary()),
            ("dls_blob", pa.binary()),
            ("pos_blob", pa.binary()),
        ]
    )
    return pa.RecordBatch.from_pylist([], schema=schema)


def salt_width(max_doc_id: int, n_salts: int) -> int:
    """doc_id-range width of one salt — MUST match builder._salt_col."""
    return max(1, (max_doc_id + n_salts) // n_salts)


def gather_flat(values: np.ndarray, counts: np.ndarray, sel: np.ndarray) -> np.ndarray:
    """Gather variable-length groups out of a flat (values, counts)
    layout: group i of ``counts`` occupies values[start_i : start_i +
    counts[i]]; returns the concatenation of the groups indexed by
    ``sel``, in sel order. Fully vectorized (the repeat/arange index
    trick) — no per-group Python."""
    starts = np.zeros(counts.size + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    c = counts[sel].astype(np.int64)
    total = int(c.sum())
    if total == 0:
        return np.empty(0, dtype=values.dtype)
    out_start = np.zeros(c.size, dtype=np.int64)
    np.cumsum(c[:-1], out=out_start[1:])
    idx = np.arange(total, dtype=np.int64) - np.repeat(out_start, c) + np.repeat(
        starts[sel], c
    )
    return values[idx]


def _stream(col) -> tuple[np.ndarray, np.ndarray]:
    """A binary column (Arrow array, or a sequence of bytes such as a
    pandas Series) → (one uint8 stream of its values in row order,
    int64 per-row offsets into it starting at 0). Arrow input is a
    zero-copy view; a sequence is joined in one call."""
    import pyarrow as pa

    if isinstance(col, (pa.Array, pa.ChunkedArray)):
        data, offsets = _binary_column_np(col)
        return data[offsets[0] : offsets[-1]], offsets - offsets[0]
    lens = np.fromiter(map(len, col), np.int64, len(col))
    offsets = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return np.frombuffer(b"".join(col), dtype=np.uint8), offsets


def decode_block_rows(n_docs, docs_blob, tfs_blob, dls_blob=None, pos_blob=None):
    """Decode a batch of block rows (any terms, any generations) into
    flat per-posting arrays, postings in row order: ``(doc_ids, tfs,
    dls, pos)``. Each blob argument is a binary column; ``n_docs`` is
    the rows' posting counts.

    The rows' streams are decoded as one concatenation: doc_ids by a
    segmented prefix sum over all delta gaps (every block restarts
    with an absolute doc_id at the offsets ``n_docs`` gives), so there
    is no per-row loop. ``dls`` is None unless ``dls_blob`` is given.
    ``pos`` is None unless ``pos_blob`` is given; then it is ``(data,
    offsets)``: posting i's self-contained position stream is
    ``data[offsets[i]:offsets[i + 1]]``. A row with an empty pos_blob
    (a field term, or a store built without positions) gives its
    postings empty streams."""
    counts = np.asarray(n_docs, dtype=np.int64)
    gaps = varint_decode(_stream(docs_blob)[0]).astype(np.int64)
    tfs = varint_decode(_stream(tfs_blob)[0]).astype(np.int64)
    if gaps.size != counts.sum() or tfs.size != gaps.size:
        raise ValueError(
            f"block rows hold {gaps.size} doc_ids and {tfs.size} tfs, "
            f"n_docs sums to {counts.sum()}"
        )
    docs = gaps
    if gaps.size:
        # int64 wrap-around in the running sum cancels in the difference
        run = np.cumsum(gaps)
        starts = np.minimum(np.cumsum(counts) - counts, gaps.size - 1)
        docs = run - np.repeat(run[starts] - gaps[starts], counts)
    dls = None
    if dls_blob is not None:
        dls = np.frombuffer(_stream(dls_blob)[0], dtype="<u4").astype(np.int64)
    pos = None
    if pos_blob is not None:
        data, row_off = _stream(pos_blob)
        has_pos = np.repeat(np.diff(row_off) > 0, counts)
        pos = data, positions_byte_offsets(data, np.where(has_pos, tfs, 0))
    return docs, tfs, dls, pos


def decode_blocks(
    block_rows: pd.DataFrame,
    keep_mask: np.ndarray | None = None,
    tombstones: tuple[np.ndarray, np.ndarray] | None = None,
    with_positions: bool = False,
    rescore: tuple[float, float, float, float] | None = None,
):
    """Decode selected block rows of ONE term (any generations) into
    (doc_ids, tfs, scores[, positions]) — doc_id-sorted, later
    generation wins on duplicate doc_id. ``keep_mask`` selects a
    subset of rows (block skipping decided by the caller from the
    metadata columns). ``with_positions=True`` additionally returns a
    FLAT int64 array of positions: posting i's positions are the
    slice of length tfs[i] starting at cumsum(tfs)[:i] — the same
    offsets+values layout the codec stores, kept flat end-to-end so
    positional kernels (phrase, proximity) stay fully vectorized
    instead of iterating per-posting Python objects (VERDICT r02
    items 1-2; requires a store built with positions).

    ``rescore`` = (idf, avgdl, k1, b) for this term under the LIVE
    stats: scores are computed from the stored (tf, dl) AFTER the
    generation merge + tombstone filter (fewest postings). Callers
    that never read scores (phrase membership) pass None and get
    zeros — the dls_blob decode is skipped entirely.

    ``tombstones`` = (dead_doc_ids sorted asc, before_generation): a
    posting from generation g of doc d is annihilated iff d is listed
    and g < before_generation[d] — the LSM negative-key semantics of
    RdbList::merge_r applied at read time (Msg5-style merged read,
    SURVEY.md §2.10)."""
    if keep_mask is not None:
        block_rows = block_rows[keep_mask]
    if len(block_rows) == 0:
        z = np.empty(0, dtype=np.int64)
        out3 = (z, z.copy(), np.empty(0, dtype=np.float64))
        return (*out3, np.empty(0, dtype=np.int64)) if with_positions else out3
    if with_positions and (
        "pos_blob" not in block_rows.columns or block_rows["pos_blob"].isna().any()
    ):
        raise ValueError(
            "segment store has no pos_blob — built with "
            "store_positions=False; positional ops unavailable"
        )
    counts = block_rows["n_docs"].to_numpy(np.int64)
    docs, tfs, dls, pos = decode_block_rows(
        counts,
        block_rows["docs_blob"],
        block_rows["tfs_blob"],
        block_rows["dls_blob"] if rescore is not None else None,
        block_rows["pos_blob"] if with_positions else None,
    )
    gen = (
        np.repeat(block_rows["generation"].to_numpy(np.int64), counts)
        if "generation" in block_rows.columns
        else np.zeros(docs.size, dtype=np.int64)
    )
    # k-way merge of generation runs (RdbList::merge_r analog): stable
    # sort by (doc_id, generation) then keep the LAST (newest) per doc.
    order = np.lexsort((gen, docs))
    docs, tfs, gen = docs[order], tfs[order], gen[order]
    if dls is not None:
        dls = dls[order]
    sel = order  # surviving postings, as indices into decode order
    if docs.size > 1:
        last = np.ones(docs.size, dtype=bool)
        last[:-1] = docs[1:] != docs[:-1]
        docs, tfs, gen = docs[last], tfs[last], gen[last]
        if dls is not None:
            dls = dls[last]
        sel = sel[last]
    if tombstones is not None and tombstones[0].size and docs.size:
        dead_ids, before = tombstones
        hit_at = np.searchsorted(dead_ids, docs)
        pos_c = np.minimum(hit_at, dead_ids.size - 1)
        hit = dead_ids[pos_c] == docs
        dead = hit & (gen < before[pos_c])
        keep = ~dead
        docs, tfs = docs[keep], tfs[keep]
        if dls is not None:
            dls = dls[keep]
        sel = sel[keep]
    if rescore is not None:
        idf, avgdl, k1, b = rescore
        scores = bm25_rescore(tfs, dls, idf, avgdl, k1, b)
    else:
        scores = np.zeros(docs.size, dtype=np.float64)
    if not with_positions:
        return docs, tfs, scores
    data, offsets = pos
    survivors = gather_flat(data, np.diff(offsets), sel)
    return docs, tfs, scores, positions_decode(survivors, tfs)
