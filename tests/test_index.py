"""M3/M4 — segment store + block-max top-k: rank-identity vs the
DataFrame oracle (SURVEY.md §5.2), sha256 invariant (§5.3), skew (§5.6),
resumability (§5.4).
"""

from __future__ import annotations

import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.index import builder, segments, wand
from open_source_search_engine_spark.operators import bm25
from tests.conftest import TEST_CFG

# the code tokenizer splits the forced head term "dup_guard" into
# ("dup", "guard"), each in ~50% of docs — "dup" is the skew probe
HEAD = "dup"

QUERIES = [
    (["index", "merge"], "and"),
    (["scan", "hash"], "and"),
    ([HEAD], "and"),
    ([HEAD, "merge"], "and"),
    (["def", "return"], "and"),
    (["scan", "zzz_unknown_term"], "and"),  # missing term ⇒ empty AND
    (["delta", "varint"], "or"),
    (["def", "return", "if"], "or"),
    ([HEAD, "if"], "or"),
]


@pytest.fixture(scope="module")
def index_dir(spark, tiny_corpus, tmp_path_factory):
    d = tmp_path_factory.mktemp("idx") / "main"
    builder.build_index(
        spark,
        tiny_corpus,
        d,
        cfg=TEST_CFG,
        text_col="content",
        extra_meta_cols=["repo", "path", "lang"],
        tokenizer_mode="code",
    )
    return d


def _oracle(tiny_corpus, terms, mode, k=10):
    return bm25.bm25_topk_oracle(
        tiny_corpus, terms, k=k, mode=mode, text_col="content", tokenizer_mode="code"
    ).toPandas()


def _vocab_terms(spark, index_dir, want_df_range):
    td = spark.read.parquet(str(index_dir / "term_dict")).toPandas()
    lo, hi = want_df_range
    return td[(td["df"] >= lo) & (td["df"] <= hi)]["term"].tolist()


@pytest.mark.parametrize("terms,mode", QUERIES)
def test_wand_rank_identical_to_oracle(spark, tiny_corpus, index_dir, terms, mode):
    got = wand.wand_topk(spark, index_dir, terms, k=10, mode=mode).toPandas()
    want = _oracle(tiny_corpus, terms, mode)
    assert list(got["doc_id"]) == list(want["doc_id"]), (terms, mode)
    assert got["score"].tolist() == pytest.approx(want["score"].tolist(), abs=1e-5)


def test_wand_real_vocab_queries(spark, tiny_corpus, index_dir):
    """Queries over actually-present terms across the df spectrum."""
    rare = _vocab_terms(spark, index_dir, (1, 3))[:2]
    mid = _vocab_terms(spark, index_dir, (10, 60))[:2]
    for terms, mode in [(rare, "or"), (mid, "and"), (rare[:1] + mid[:1], "or")]:
        if not terms:
            continue
        got = wand.wand_topk(spark, index_dir, terms, k=10, mode=mode).toPandas()
        want = _oracle(tiny_corpus, terms, mode)
        assert list(got["doc_id"]) == list(want["doc_id"]), (terms, mode)


def test_unknown_term_empty(spark, index_dir):
    got = wand.wand_topk(spark, index_dir, ["zz_not_a_term_zz"], k=5).toPandas()
    assert len(got) == 0


def test_sha256_invariant(spark, tiny_corpus, index_dir):
    """input_hint per-row invariant: doc_meta.content_sha256 ==
    sha2(source.content, 256) for EVERY row."""
    dm = spark.read.parquet(str(index_dir / "doc_meta")).select(
        "doc_id", "content_sha256"
    )
    src = tiny_corpus.select(
        "doc_id", F.sha2(F.col("content").cast("binary"), 256).alias("src_sha")
    )
    bad = dm.join(src, "doc_id").filter(F.col("content_sha256") != F.col("src_sha"))
    assert bad.count() == 0
    assert dm.count() == tiny_corpus.count()


def test_salting_spreads_head_term(spark, index_dir):
    """The forced head term (~50% of docs) must span all salts, and no
    (bucket,salt) shuffle group may dominate (SURVEY.md §5.6)."""
    seg = spark.read.parquet(str(index_dir / "segments"))
    trow = wand.query_term_rows(spark, index_dir, [HEAD])
    tid = trow[0]["term_id"]
    per_salt = (
        seg.filter(F.col("term_id") == tid)
        .groupBy("salt")
        .agg(F.sum("n_docs").alias("n"))
        .toPandas()
    )
    assert len(per_salt) == TEST_CFG.n_salts
    assert per_salt["n"].max() <= 2 * max(1, per_salt["n"].median())

    groups = seg.groupBy("bucket", "salt").agg(F.sum("n_docs").alias("n")).toPandas()
    assert groups["n"].max() <= 4 * max(1.0, float(groups["n"].median()))


def test_block_metadata_consistent(spark, index_dir):
    """block_max_tf/block_min_dl == extrema of decoded (tf, dl) — they
    must be, or the read-time MaxScore bounds (segments.block_bound)
    would under-prune or, worse, prune true candidates; doc ranges
    match blob contents; n_docs ≤ block_size; the rescore path yields
    scores that respect the block bound."""
    pdf = spark.read.parquet(str(index_dir / "segments")).limit(500).toPandas()
    assert (pdf["n_docs"] <= TEST_CFG.block_size).all()
    rescore = (1.7, 120.0, 1.2, 0.75)  # arbitrary live stats
    for _, r in pdf.head(100).iterrows():
        docs, tfs, scores = segments.decode_blocks(
            pd.DataFrame([r]), rescore=rescore
        )
        # dls_blob is a fixed-width <u4 stream (format v3)
        dls = np.frombuffer(bytes(r["dls_blob"]), dtype="<u4")
        assert docs[0] == r["doc_id_min"] and docs[-1] == r["doc_id_max"]
        assert docs.size == r["n_docs"] == tfs.size == scores.size
        assert np.all(np.diff(docs) > 0)
        assert tfs.max() == r["block_max_tf"] and (tfs >= 1).all()
        assert dls.min() == r["block_min_dl"]
        bound = segments.block_bound(
            np.array([float(r["block_max_tf"])]),
            np.array([float(r["block_min_dl"])]),
            *rescore,
        )[0]
        assert scores.max() <= bound + 1e-12


def test_resume_skips_done_buckets(spark, tiny_corpus, tmp_path):
    """Kill-after-partial-manifest restart: completed buckets are not
    re-encoded; the resumed index answers identically (SURVEY.md §5.4)."""
    d = tmp_path / "resume_idx"
    builder.build_index(
        spark, tiny_corpus, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    ref = wand.wand_topk(spark, d, ["def", "return"], k=10, mode="or").toPandas()

    # simulate a crash: drop half the buckets' segments + manifest rows
    seg_root = d / "segments" / "generation=0"
    man_root = d / "manifest" / "generation=0"
    kept = sorted(p for p in seg_root.glob("bucket=*"))
    victims = {int(p.name.split("=")[1]) for p in kept[::2]}
    for p in kept[::2]:
        shutil.rmtree(p)
    man = spark.read.parquet(str(man_root)).toPandas()
    man = man[~man["bucket"].isin(victims)]
    shutil.rmtree(man_root)
    spark.createDataFrame(man).write.parquet(str(man_root))

    survivor_files = {
        str(f) for b in seg_root.glob("bucket=*") for f in b.rglob("*.parquet")
    }
    builder.build_index(
        spark, tiny_corpus, d, cfg=TEST_CFG, text_col="content",
        tokenizer_mode="code", resume=True,
    )
    # no duplicate work: surviving bucket files untouched
    after = {
        str(f)
        for b in seg_root.glob("bucket=*")
        if int(b.name.split("=")[1]) not in victims
        for f in b.rglob("*.parquet")
    }
    assert survivor_files == after
    # full completeness: every bucket has a manifest row again
    assert builder.done_buckets(spark, d, 0) == set(range(TEST_CFG.n_buckets))
    got = wand.wand_topk(spark, d, ["def", "return"], k=10, mode="or").toPandas()
    pd.testing.assert_frame_equal(got, ref)


def test_resume_noop_when_complete(spark, tiny_corpus, tmp_path):
    d = tmp_path / "noop_idx"
    builder.build_index(
        spark, tiny_corpus, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    seg_root = d / "segments"
    before = sorted(str(p) for p in seg_root.rglob("*.parquet"))
    builder.build_index(
        spark, tiny_corpus, d, cfg=TEST_CFG, text_col="content",
        tokenizer_mode="code", resume=True,
    )
    assert sorted(str(p) for p in seg_root.rglob("*.parquet")) == before


def _crash_then_resume(spark, corpus, tmp_path, monkeypatch, kill_encode):
    """Build ``corpus`` with ``term_stats`` (and, if ``kill_encode``,
    ``_encode_and_write``) failing, then resume it. Returns the resumed
    store, an uninterrupted build of it, the posting counts the resume
    sized its encode with (one per encode run) and the staging rows."""
    ref_dir = tmp_path / "ref_idx"
    builder.build_index(
        spark, corpus, ref_dir, cfg=TEST_CFG, text_col="content",
        tokenizer_mode="code",
    )
    d = tmp_path / "crash_idx"
    import open_source_search_engine_spark.index.builder as b

    def kill(*a, **k):
        raise RuntimeError("kill")

    with monkeypatch.context() as m:
        m.setattr(b, "term_stats", kill)
        if kill_encode:
            m.setattr(b, "_encode_and_write", kill)
        with pytest.raises(RuntimeError, match="kill"):
            builder.build_index(
                spark, corpus, d, cfg=TEST_CFG, text_col="content",
                tokenizer_mode="code",
            )
    assert (d / "_staging" / "_SUCCESS").exists()  # checkpoint survived
    assert not (d / "meta.json").exists()  # commit pointer never landed

    import pyarrow.dataset as ds

    staged_rows = ds.dataset(str(d / "_staging"), format="parquet").count_rows()
    sized = []
    real_partitions = b.encode_partitions
    monkeypatch.setattr(
        b, "encode_partitions", lambda n, *a: sized.append(n) or real_partitions(n, *a)
    )
    builder.build_index(
        spark, corpus, d, cfg=TEST_CFG, text_col="content",
        tokenizer_mode="code", resume=True,
    )
    return d, ref_dir, sized, staged_rows


def _assert_same_store(spark, got_dir, ref_dir):
    got_meta, ref_meta = builder.load_meta(got_dir), builder.load_meta(ref_dir)
    for k in ("n_docs", "avgdl", "max_doc_id"):
        assert got_meta[k] == ref_meta[k], k
    ref = wand.wand_topk(spark, ref_dir, ["def", "return"], k=10, mode="or").toPandas()
    got = wand.wand_topk(spark, got_dir, ["def", "return"], k=10, mode="or").toPandas()
    pd.testing.assert_frame_equal(got, ref)


def test_resume_after_side_table_crash_recomputes_stats(
    spark, tiny_corpus, tmp_path, monkeypatch
):
    """Crash between the staging checkpoint and the side-table commits:
    the encode finishes (the writer waits for it), so the resumed build
    skips it (every bucket is in the manifest) and reuses staging (no
    re-tokenize, so no staging Observation this session). It must
    recover the corpus stats from the column-pruned agg fallback —
    meta.json stats and query results must equal an uninterrupted
    build's (SURVEY.md §5.4)."""
    d, ref_dir, sized, _ = _crash_then_resume(
        spark, tiny_corpus, tmp_path, monkeypatch, kill_encode=False
    )
    assert sized == []  # no encode ran on resume
    _assert_same_store(spark, d, ref_dir)


def test_resume_after_encode_crash_sizes_encode_from_staging_footers(
    spark, tiny_corpus, tmp_path, monkeypatch
):
    """The same crash with the encode failing too: the resumed build
    encodes every bucket with no staging Observation this session, so
    its encode is sized from the staging footers' row count."""
    d, ref_dir, sized, staged_rows = _crash_then_resume(
        spark, tiny_corpus, tmp_path, monkeypatch, kill_encode=True
    )
    assert staged_rows > 0 and sized == [staged_rows]
    _assert_same_store(spark, d, ref_dir)


def test_encode_partitions_follow_posting_count():
    """One encode task per POSTINGS_PER_ENCODE_TASK postings, capped
    by the large-build rule: a large build keeps the cap's count."""
    from open_source_search_engine_spark.config import EngineConfig

    per_task = builder.POSTINGS_PER_ENCODE_TASK
    cfg = EngineConfig(n_buckets=64, n_salts=8, block_size=128)  # perfbench's
    assert builder.encode_partitions(0, cfg, 16) == 1
    assert builder.encode_partitions(5_000, cfg, 16) == 1
    assert builder.encode_partitions(per_task, cfg, 16) == 1
    assert builder.encode_partitions(per_task + 1, cfg, 16) == 2
    assert builder.encode_partitions(10 * per_task, cfg, 16) == 10
    # staged rows (postings + one meta row per doc) of bench_scaling.py's
    # 360k-doc gen_corpus build, counted: it keeps 64 tasks ...
    rows_360k = 30_377_863
    assert builder.encode_partitions(rows_360k, cfg, 16) == 64
    # ... and sf1 (three copies of it, 512 buckets x 16 salts) keeps 256
    sf1 = EngineConfig(n_buckets=512, n_salts=16, block_size=128)
    assert builder.encode_partitions(3 * rows_360k, sf1, 16) == 256


def test_staged_postings_equal_algebra_path(spark, tiny_corpus):
    """staged_postings' posting rows (tf > 0; pre-aggregated inside the
    mapInArrow tokenizer) must be row-identical to the algebra path
    for both tokenizer modes."""
    from open_source_search_engine_spark.operators.postings import (
        build_postings,
        staged_postings,
    )

    for mode in ("simple", "code"):
        a = (
            staged_postings(tiny_corpus, "content", "doc_id", mode)
            .filter(F.col("tf") > 0)
            .select("term", "doc_id", "tf")
            .toPandas()
            .sort_values(["term", "doc_id"])
            .reset_index(drop=True)
        )
        b = (
            build_postings(tiny_corpus, "content", "doc_id", mode, with_positions=False)
            .select("term", "doc_id", "tf")
            .toPandas()
            .sort_values(["term", "doc_id"])
            .reset_index(drop=True)
        )
        a["tf"] = a["tf"].astype("int64")
        b["tf"] = b["tf"].astype("int64")
        pd.testing.assert_frame_equal(a, b)
