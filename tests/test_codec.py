"""Codec round-trips (SURVEY.md §5.1). Property-based where hypothesis
is available; deterministic seeds otherwise."""

from __future__ import annotations

import numpy as np
import pytest

from open_source_search_engine_spark.functions.codec import (
    delta_decode,
    delta_encode,
    f64_decode,
    f64_encode,
    varint_decode,
    varint_encode,
)

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False


def test_varint_roundtrip_edges():
    vals = np.array(
        [0, 1, 127, 128, 129, 2**14 - 1, 2**14, 2**21, 2**32, 2**48, 2**63, 2**64 - 1],
        dtype=np.uint64,
    )
    assert np.array_equal(varint_decode(varint_encode(vals)), vals)


def test_varint_empty():
    assert varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


def test_delta_roundtrip():
    rng = np.random.default_rng(7)
    for n in (1, 2, 100, 10_000):
        v = np.unique(rng.integers(0, 2**40, size=n).astype(np.uint64))
        assert np.array_equal(delta_decode(delta_encode(v)), v)


def test_delta_compresses_dense_runs():
    v = np.arange(10_000, dtype=np.uint64) + 5_000_000
    enc = delta_encode(v)
    # gaps of 1 → 1 byte each (+ a few for the absolute head)
    assert len(enc) < 10_010


def test_f64_roundtrip():
    v = np.random.default_rng(3).normal(size=257)
    assert np.array_equal(f64_decode(f64_encode(v)), v)


if HAVE_HYP:

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300)
    )
    def test_varint_property(xs):
        v = np.array(xs, dtype=np.uint64)
        assert np.array_equal(varint_decode(varint_encode(v)), v)

    @settings(max_examples=100, deadline=None)
    @given(
        st.sets(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300)
    )
    def test_delta_property(xs):
        v = np.array(sorted(xs), dtype=np.uint64)
        assert np.array_equal(delta_decode(delta_encode(v)), v)
else:  # pragma: no cover

    def test_hypothesis_present():
        pytest.skip("hypothesis not installed")


def _kernel_input(rng, n_buckets, n_salts, max_doc_id, n=5000):
    """Postings with positions, sorted (bucket, term_id, salt, doc_id)
    as builder._encode_and_write delivers them to the encode kernel."""
    import pandas as pd

    from open_source_search_engine_spark.functions.codec import positions_encode
    from open_source_search_engine_spark.index.segments import salt_width

    pdf = (
        pd.DataFrame(
            {
                "term_id": rng.integers(0, 40, n).astype(np.int64),
                "doc_id": rng.integers(0, max_doc_id + 1, n).astype(np.int64),
                "tf": rng.integers(1, 9, n).astype(np.int64),
                "doc_len": rng.integers(1, 300, n).astype(np.int64),
            }
        )
        .drop_duplicates(["term_id", "doc_id"])
    )
    salt = np.minimum(pdf["doc_id"] // salt_width(max_doc_id, n_salts), n_salts - 1)
    order = np.lexsort(
        (pdf["doc_id"], salt, pdf["term_id"], pdf["term_id"] % n_buckets)
    )
    pdf = pdf.iloc[order].reset_index(drop=True)
    tfs = pdf["tf"].to_numpy()
    flat = np.concatenate(
        [np.sort(rng.choice(1000, tf, replace=False)) for tf in tfs]
    ).astype(np.int64)
    buf, offs = positions_encode(flat, tfs)
    pdf["pos_blob"] = [buf[offs[i]:offs[i + 1]] for i in range(len(pdf))]
    return pdf, flat


def _run_kernel(pdf, split, *args):
    import pandas as pd
    import pyarrow as pa

    from open_source_search_engine_spark.index.segments import make_encode_kernel

    batches = [
        pa.RecordBatch.from_pandas(part, preserve_index=False)
        for part in (pdf.iloc[:split], pdf.iloc[split:])
    ]
    return pd.concat(rb.to_pandas() for rb in make_encode_kernel(*args)(iter(batches)))


def test_encode_kernel_decode_roundtrip(spark):
    """Sorted postings with positions, split over two Arrow batches,
    encode (make_encode_kernel) and decode back to the input: through
    decode_blocks, doc_ids, tfs, doc lengths and positions per term,
    with block metadata that bounds every block's postings; through
    the merge decoder, every posting with its generation tag and its
    position bytes."""
    from open_source_search_engine_spark.index.merge import (
        decode_segments_to_postings,
    )
    from open_source_search_engine_spark.index.segments import (
        BLOCK_SCHEMA,
        bm25_rescore,
        decode_blocks,
        salt_width,
    )

    rng = np.random.default_rng(7)
    n_buckets, n_salts, bs, max_doc_id = 4, 3, 8, 999
    pdf, flat = _kernel_input(rng, n_buckets, n_salts, max_doc_id)
    out = _run_kernel(pdf, 1234, bs, n_buckets, max_doc_id, n_salts)

    assert (out["n_docs"] <= bs).all() and out["n_docs"].sum() == len(pdf)
    assert (out["bucket"] == out["term_id"] % n_buckets).all()
    width = salt_width(max_doc_id, n_salts)
    assert (out["salt"] == np.minimum(out["doc_id_min"] // width, n_salts - 1)).all()
    assert (out["salt"] == np.minimum(out["doc_id_max"] // width, n_salts - 1)).all()
    starts = np.concatenate(([0], np.cumsum(pdf["tf"].to_numpy())))
    rescore = (1.0, 100.0, 1.2, 0.75)
    for tid, rows in out.groupby("term_id"):
        sel = np.flatnonzero(pdf["term_id"].to_numpy() == tid)
        want = pdf.iloc[sel]
        docs, tfs, scores, pos = decode_blocks(rows, with_positions=True, rescore=rescore)
        assert np.array_equal(docs, want["doc_id"].to_numpy()), tid
        assert np.array_equal(tfs, want["tf"].to_numpy()), tid
        assert np.array_equal(
            scores, bm25_rescore(want["tf"].to_numpy(), want["doc_len"].to_numpy(), *rescore)
        ), tid
        want_pos = np.concatenate([flat[starts[i]:starts[i + 1]] for i in sel])
        assert np.array_equal(pos, want_pos), tid
        for _, blk in rows.iterrows():
            in_blk = want[want["doc_id"].between(blk["doc_id_min"], blk["doc_id_max"])]
            assert len(in_blk) == blk["n_docs"]
            assert in_blk["tf"].max() == blk["block_max_tf"]
            assert in_blk["doc_len"].min() == blk["block_min_dl"]

    # merge decoder: blocks of two generations, one Arrow pass
    def gen_of(term_ids):
        return np.where(term_ids % 2 == 0, 4, 7)

    out["generation"] = gen_of(out["term_id"].to_numpy()).astype(np.int32)
    seg = spark.createDataFrame(out, BLOCK_SCHEMA + ", generation int")
    got = (
        decode_segments_to_postings(seg).toPandas()
        .sort_values(["term_id", "doc_id"]).reset_index(drop=True)
    )
    want = pdf.sort_values(["term_id", "doc_id"]).reset_index(drop=True)
    assert np.array_equal(got["term_id"], want["term_id"])
    assert np.array_equal(got["doc_id"], want["doc_id"])
    assert np.array_equal(got["tf"], want["tf"])
    assert np.array_equal(got["generation"], gen_of(want["term_id"].to_numpy()))
    assert [bytes(b) for b in got["pos_blob"]] == [bytes(b) for b in want["pos_blob"]]


def test_encode_kernel_rejects_unsorted_input():
    rng = np.random.default_rng(11)
    pdf, _flat = _kernel_input(rng, 4, 3, 999, n=500)
    with pytest.raises(ValueError, match="not sorted"):
        _run_kernel(pdf.iloc[::-1], 100, 8, 4, 999, 3)


def test_binary_array_guard_rejects_int32_overflow():
    """An encode partition whose blob stream passes int32 offsets fails
    loudly, before any buffer is built (no 2 GiB allocation: the
    offsets alone trip it)."""
    from open_source_search_engine_spark.index.segments import _binary_array

    with pytest.raises(ValueError, match="int32 offset range"):
        _binary_array(np.empty(0, np.uint8), np.array([0, 2**31], np.int64))


def test_positions_roundtrip_and_self_contained_slices():
    """positions_encode/decode roundtrip + the per-posting slice
    contract the segment/compaction paths rely on: every posting's
    byte slice decodes standalone, and byte offsets are recoverable
    from the continuation-bit scan alone (positions_byte_offsets)."""
    from open_source_search_engine_spark.functions.codec import (
        positions_byte_offsets,
        positions_decode,
        positions_encode,
    )

    rng = np.random.default_rng(1)
    for _ in range(50):
        n = int(rng.integers(1, 40))
        tfs = rng.integers(1, 9, n).astype(np.int64)
        flat = np.concatenate(
            [np.sort(rng.choice(100_000, tf, replace=False)) for tf in tfs]
        ).astype(np.int64)
        buf, offs = positions_encode(flat, tfs)
        assert np.array_equal(positions_decode(buf, tfs), flat)
        assert np.array_equal(positions_byte_offsets(buf, tfs), offs)
        cum = np.concatenate(([0], np.cumsum(tfs)))
        for i in (0, n // 2, n - 1):
            sub = buf[offs[i]:offs[i + 1]]
            assert np.array_equal(
                positions_decode(sub, tfs[i:i + 1]), flat[cum[i]:cum[i + 1]]
            )
    empty_b, empty_o = positions_encode(
        np.empty(0, np.int64), np.empty(0, np.int64)
    )
    assert empty_b == b"" and list(empty_o) == [0]
