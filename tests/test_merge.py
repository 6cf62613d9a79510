"""M5 — incremental add / delete / update / compact (SURVEY.md §5.5):
multi-generation read equals logical truth; compaction equals a
from-scratch build over the live doc set."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fixtures.gen_corpus import gen_corpus
from open_source_search_engine_spark.index import builder, merge, wand
from open_source_search_engine_spark.index import tombstones as T
from open_source_search_engine_spark.operators import bm25
from tests.conftest import TEST_CFG

TERMS = [["def", "return"], ["scan", "merge"], ["index"]]


def _oracle(docs, terms, mode="or", k=10):
    return bm25.bm25_topk_oracle(
        docs, terms, k=k, mode=mode, text_col="content", tokenizer_mode="code"
    ).toPandas()


@pytest.fixture(scope="module")
def corpora(spark):
    base_pdf = gen_corpus(n_docs=200)
    extra_pdf = gen_corpus(n_docs=260)
    extra_pdf = extra_pdf[extra_pdf["doc_id"] >= 200]
    base = spark.createDataFrame(base_pdf).cache()
    extra = spark.createDataFrame(extra_pdf).cache()
    full = base.unionByName(extra).cache()
    base.count(), extra.count(), full.count()
    return base, extra, full


def _term_dict(spark, d):
    spark.catalog.refreshByPath(str(d / "term_dict"))
    td = spark.read.parquet(str(d / "term_dict")).toPandas()
    return td[["term", "term_id", "df"]].sort_values("term").reset_index(drop=True)


def _assert_fresh_build_stats(spark, d, live, tmp_path):
    """term_dict and meta's corpus stats equal a fresh build over ``live``."""
    fresh = tmp_path / f"{d.name}_fresh"
    builder.build_index(
        spark, live, fresh, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    td = _term_dict(spark, d)
    assert (td["df"] > 0).all()
    pd.testing.assert_frame_equal(td, _term_dict(spark, fresh))
    got, want = builder.load_meta(d), builder.load_meta(fresh)
    for key in ("n_docs", "avgdl", "max_doc_id"):
        assert got[key] == want[key], key


def test_add_then_compact_matches_full_build(spark, corpora, tmp_path):
    base, extra, full = corpora
    d = tmp_path / "idx"
    builder.build_index(
        spark, base, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    merge.add_documents(spark, extra, d)
    assert merge.current_generations(d) == [0, 1]

    # multi-generation read: format v2 scores at read time from the
    # live stats, so an UNcompacted add is already rank+score identical
    # to the from-scratch oracle (VERDICT r04 item 2)
    got = wand.wand_topk(spark, d, ["def", "return"], k=1000, mode="or").toPandas()
    want = _oracle(full, ["def", "return"], k=1000)
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert got["score"].tolist() == pytest.approx(want["score"].tolist(), abs=1e-5)

    # compact still merges to ONE base generation (numbering keeps
    # increasing across compactions — the atomic-flip commit protocol)
    merge.compact(spark, d)
    assert len(merge.current_generations(d)) == 1
    for terms in TERMS:
        got = wand.wand_topk(spark, d, terms, k=10, mode="or").toPandas()
        want = _oracle(full, terms)
        assert list(got["doc_id"]) == list(want["doc_id"]), terms
        assert got["score"].tolist() == pytest.approx(want["score"].tolist(), abs=1e-5)


def test_small_generations_write_one_file_per_bucket(spark, corpora, tmp_path):
    """A generation small enough for one encode task writes at most one
    parquet file per bucket dir, whichever writer made it."""
    base, extra, _full = corpora
    d = tmp_path / "idx"

    def files_per_bucket_dir() -> list[int]:
        return [
            len(list(b.glob("*.parquet")))
            for b in (d / "segments").glob("generation=*/bucket=*")
        ]

    builder.build_index(
        spark, base, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    assert max(files_per_bucket_dir()) == 1
    merge.add_documents(spark, extra, d)
    assert max(files_per_bucket_dir()) == 1
    merge.compact(spark, d)
    assert len(merge.current_generations(d)) == 1
    assert max(files_per_bucket_dir()) == 1


def test_add_matches_fresh_build_with_every_writer_feature(spark, corpora, tmp_path):
    """An add to a store built with extra doc_meta columns, field terms
    and anchor text — one added doc with no postings at all — commits
    the same term_dict, doc_meta, corpus stats, scored top-k and field
    lists as a fresh build over the union."""
    import numpy as np

    from open_source_search_engine_spark.operators import indexed

    base, extra, _ = corpora
    n = 260
    src = np.arange(0, n, 3)
    dst = (7 * src + 1) % n
    blank = min(set(range(200, n)) - set(dst.tolist()))  # gets no anchors
    extra_b = extra.withColumn(
        "content",
        F.when(F.col("doc_id") == blank, F.lit("")).otherwise(F.col("content")),
    )
    full = base.unionByName(extra_b)
    edges = spark.createDataFrame(
        pd.DataFrame({"src_doc_id": src, "dst_doc_id": dst})
    ).join(
        full.select(
            F.col("doc_id").alias("src_doc_id"),
            F.concat_ws(" ", F.slice(F.split("content", " "), 1, 3)).alias("anchor_text"),
        ),
        "src_doc_id",
    )
    kw = dict(
        cfg=TEST_CFG, text_col="content", tokenizer_mode="code",
        extra_meta_cols=["lang"], index_fields=["lang"],
    )
    d, d_full = tmp_path / "idx_add", tmp_path / "idx_fresh"
    builder.build_index(
        spark, base, d, anchor_edges=edges.filter(F.col("dst_doc_id") < 200), **kw
    )
    merge.add_documents(
        spark, extra_b, d, anchor_edges=edges.filter(F.col("dst_doc_id") >= 200)
    )
    builder.build_index(spark, full, d_full, anchor_edges=edges, **kw)

    def table(p, name, key):
        t = spark.read.parquet(str(p / name)).drop("gen").toPandas()
        return t[sorted(t.columns)].sort_values(key).reset_index(drop=True)

    dm = table(d, "doc_meta", "doc_id")
    assert dm.loc[dm["doc_id"] == blank, "doc_len"].tolist() == [0]
    pd.testing.assert_frame_equal(dm, table(d_full, "doc_meta", "doc_id"))
    pd.testing.assert_frame_equal(
        table(d, "term_dict", "term"), table(d_full, "term_dict", "term")
    )
    got_meta, want_meta = builder.load_meta(d), builder.load_meta(d_full)
    for key in ("n_docs", "avgdl", "max_doc_id"):
        assert got_meta[key] == want_meta[key], key
    for terms in TERMS:
        got, want = (
            wand.wand_topk(spark, p, terms, k=20, mode="or").toPandas()
            for p in (d, d_full)
        )
        assert list(got["doc_id"]) == list(want["doc_id"]), terms
        assert got["score"].tolist() == pytest.approx(want["score"].tolist(), abs=1e-9)
    def field_docs(p):
        return sorted(r["doc_id"] for r in indexed.field_docs(spark, p, "lang", "py").collect())

    want = field_docs(d_full)
    assert want and field_docs(d) == want
    # compact decodes field-term blocks (no positions) next to word
    # blocks in one batch
    merge.compact(spark, d)
    assert field_docs(d) == want


def test_delete_and_update(spark, corpora, tmp_path):
    base, _, _ = corpora
    d = tmp_path / "idx2"
    builder.build_index(
        spark, base, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    # find the current #1 doc for a query, delete it, expect it gone
    top = wand.wand_topk(spark, d, ["def"], k=1, mode="or").toPandas()
    victim = int(top["doc_id"].iloc[0])
    merge.delete_documents(spark, d, [victim])
    got = wand.wand_topk(spark, d, ["def"], k=50, mode="or").toPandas()
    assert victim not in set(got["doc_id"])

    # update: replace another doc's content; old postings must die
    top2 = wand.wand_topk(spark, d, ["return"], k=1, mode="or").toPandas()
    vic2 = int(top2["doc_id"].iloc[0])
    upd = base.filter(F.col("doc_id") == vic2).withColumn(
        "content", F.lit("zzzupdated only content now")
    )
    merge.add_documents(spark, upd, d, replace=True)
    got2 = wand.wand_topk(spark, d, ["zzzupdated"], k=5, mode="or").toPandas()
    assert set(got2["doc_id"]) == {vic2}
    got3 = wand.wand_topk(spark, d, ["return"], k=200, mode="or").toPandas()
    assert vic2 not in set(got3["doc_id"])

    # compact GCs tombstones and restores exact stats: rank-identical
    # to a from-scratch oracle over the LIVE doc set
    merge.compact(spark, d)
    assert not (d / "tombstones").exists()
    live = base.filter(F.col("doc_id") != victim).filter(
        F.col("doc_id") != vic2
    ).unionByName(upd)
    after = wand.wand_topk(spark, d, ["def", "return"], k=20, mode="or").toPandas()
    want = _oracle(live, ["def", "return"], k=20)
    assert list(after["doc_id"]) == list(want["doc_id"])
    assert after["score"].tolist() == pytest.approx(want["score"].tolist(), abs=1e-5)
    # the merge's df (block-metadata fold over base-generation postings)
    # and its N/avgdl/max_doc_id equal a fresh count over the live set
    _assert_fresh_build_stats(spark, d, live, tmp_path)


def test_positions_survive_add_and_compact(spark, corpora, tmp_path):
    """Phrase matching (persisted pos_blob) must give identical answers
    across generations AND after compaction — the self-contained
    per-posting position streams re-slice correctly through the whole
    LSM lifecycle."""
    from open_source_search_engine_spark.index import lists
    from open_source_search_engine_spark.operators import phrase as phrase_ops

    base, extra, full = corpora
    d = tmp_path / "idx_pos"
    builder.build_index(
        spark, base, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    merge.add_documents(spark, extra, d)

    pairs = [("index", "merge"), ("def", "index"), ("scan", "scan")]

    def want(w1, w2):
        return [
            r["doc_id"]
            for r in phrase_ops.phrase_bigram(
                full.withColumnRenamed("content", "text"), w1, w2,
                tokenizer_mode="code",
            ).collect()
        ]

    for w1, w2 in pairs:
        got = [r["doc_id"] for r in lists.phrase_docs(spark, d, [w1, w2]).orderBy("doc_id").collect()]
        assert got == want(w1, w2), ("multi-gen", w1, w2)

    merge.compact(spark, d)
    for w1, w2 in pairs:
        got = [r["doc_id"] for r in lists.phrase_docs(spark, d, [w1, w2]).orderBy("doc_id").collect()]
        assert got == want(w1, w2), ("post-compact", w1, w2)


def test_doc_meta_liveness_multi_generation(spark, corpora, tmp_path, monkeypatch):
    """doc_meta_df() must serve the LIVE view between a delete/replace
    and the next compact: newest row per doc_id, tombstoned docs gone
    (ADVICE r02 — facets/NOT universes double-counted otherwise)."""
    from open_source_search_engine_spark.index import lists
    from open_source_search_engine_spark.index.engine import QueryEngine
    from open_source_search_engine_spark.plans import boolean_expr

    base, _, _ = corpora
    d = tmp_path / "idx_live"
    builder.build_index(
        spark, base, d, cfg=TEST_CFG, text_col="content",
        tokenizer_mode="code", extra_meta_cols=["lang"],
    )
    vic_replace, vic_delete = 3, 7
    upd = (
        base.filter(F.col("doc_id") == vic_replace)
        .withColumn("content", F.lit("xyzzy replacement body"))
        .withColumn("lang", F.lit("zz"))
    )
    merge.add_documents(spark, upd, d, replace=True)
    merge.delete_documents(spark, d, [vic_delete])

    n_base = base.count()
    # both sides of the tombstone size switch: broadcast and shuffle join
    for small_max in (T.SMALL_MAX_BYTES, -1):
        monkeypatch.setattr(T, "SMALL_MAX_BYTES", small_max)
        for handle in (lists.ColdIndex(spark, d), QueryEngine(spark, d)):
            assert handle.tombstones.small == (small_max >= 0)
            dm = handle.doc_meta_df().toPandas()
            assert dm["doc_id"].is_unique
            assert vic_delete not in set(dm["doc_id"])
            assert dm.loc[dm["doc_id"] == vic_replace, "lang"].iloc[0] == "zz"
            assert len(dm) == n_base - 1
    monkeypatch.undo()

    # NOT universe = live doc_meta: a term nobody has matches all LIVE
    # docs; the deleted doc must not resurface
    got = boolean_expr.evaluate_indexed(
        spark, lists.ColdIndex(spark, d), "not qqqnosuchterm"
    ).toPandas()
    assert len(got) == n_base - 1
    assert vic_delete not in set(got["doc_id"])
    # the replaced doc is findable via its NEW content on a fresh term
    hits = boolean_expr.evaluate_indexed(
        spark, lists.ColdIndex(spark, d), "xyzzy"
    ).toPandas()
    assert set(hits["doc_id"]) == {vic_replace}


def test_positionless_store_raises(spark, corpora, tmp_path):
    """store_positions=False → phrase/proximity must FAIL LOUDLY, not
    silently return empty (ADVICE r02: blocks carry pos_blob=b'')."""
    import dataclasses

    from open_source_search_engine_spark.index import lists

    base, _, _ = corpora
    d = tmp_path / "idx_nopos"
    cfg = dataclasses.replace(TEST_CFG, store_positions=False)
    builder.build_index(
        spark, base.limit(30), d, cfg=cfg, text_col="content", tokenizer_mode="code"
    )
    with pytest.raises(ValueError, match="store_positions"):
        lists.phrase_docs(spark, d, ["def", "return"]).collect()


def test_tiered_merge_policy_bounds_generations(spark, corpora, tmp_path):
    # RdbBase::attemptMerge analog: 3 adds through max_generations=2
    # keep the live generation count <= 2 by collapsing the delta tier
    # (gen 0 untouched); membership + tf stay identical to the logical
    # corpus, and an intervening delete's tombstone keeps masking both
    # the base and the merged tier.
    base, extra, full = corpora
    d = tmp_path / "idx_policy"
    builder.build_index(
        spark, base, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    extra_pdf = extra.toPandas()
    slices = [extra_pdf[i::3] for i in range(3)]
    victim = int(base.select(F.min("doc_id")).first()[0])
    merge.delete_documents(spark, d, [victim])
    for i, sl in enumerate(slices):
        merge.add_documents(spark, spark.createDataFrame(sl), d, max_generations=2)
        assert len(merge.current_generations(d)) <= 2, (
            f"add {i}: {merge.current_generations(d)}"
        )
    # the base generation is never rewritten by the deltas tier merge
    assert merge.current_generations(d)[0] == 0  # base untouched by delta merges

    def assert_term_dict_sorted():
        # the query's term lookup prunes row groups on term min/max
        import pyarrow.parquet as pq

        parts = sorted((d / "term_dict").glob("*.parquet"))
        assert parts
        for f in parts:
            terms = pq.read_table(f, columns=["term"])["term"].to_pylist()
            assert terms == sorted(terms), f.name

    assert_term_dict_sorted()

    got = wand.wand_topk(spark, d, ["def", "return"], k=1000, mode="or").toPandas()
    want = _oracle(
        full.filter(F.col("doc_id") != victim), ["def", "return"], k=1000
    )
    assert set(got["doc_id"]) == set(want["doc_id"])
    assert victim not in set(got["doc_id"])

    # full compact after the tiered merges restores exact ranking
    merge.compact(spark, d)
    assert_term_dict_sorted()
    got = wand.wand_topk(spark, d, ["scan", "merge"], k=10, mode="or").toPandas()
    want = _oracle(full.filter(F.col("doc_id") != victim), ["scan", "merge"])
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert got["score"].tolist() == pytest.approx(want["score"].tolist(), abs=1e-5)


def test_maybe_compact_noop_below_budget(spark, corpora, tmp_path):
    base, extra, _ = corpora
    d = tmp_path / "idx_noop"
    builder.build_index(
        spark, base, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    merge.add_documents(spark, extra, d)
    assert merge.maybe_compact(spark, d, max_generations=2) is None
    assert merge.current_generations(d) == [0, 1]


def test_merge_deltas_noop_and_budget_contract(spark, corpora, tmp_path):
    # a single delta is nothing to merge: merge_deltas must say so
    # (None), and a deltas-mode budget below the tier's floor of 2
    # generations must raise instead of silently never being met
    base, extra, _ = corpora
    d = tmp_path / "idx_contract"
    builder.build_index(
        spark, base, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    merge.add_documents(spark, extra, d)
    assert merge.merge_deltas(spark, d) is None
    assert merge.current_generations(d) == [0, 1]
    with pytest.raises(ValueError, match="max_generations"):
        merge.maybe_compact(spark, d, max_generations=1)
    with pytest.raises(ValueError, match="max_generations"):
        merge.add_documents(spark, extra, d, max_generations=1)


def test_merge_deltas_prunes_dead_tombstones(spark, corpora, tmp_path):
    # replace-in-delta tombstones are dead after the tier merge and
    # must be swept; a delete of a BASE doc must survive it (it still
    # masks generation-0 postings). Without the sweep continuous
    # replace-mode ingest grows the tombstone table without bound.
    base, extra, _ = corpora
    d = tmp_path / "idx_prune"
    builder.build_index(
        spark, base, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    victim = int(base.select(F.min("doc_id")).first()[0])
    merge.delete_documents(spark, d, [victim])

    extra_pdf = extra.toPandas()
    merge.add_documents(spark, spark.createDataFrame(extra_pdf[0::2]), d)
    upd = spark.createDataFrame(extra_pdf[0::2]).withColumn(
        "content", F.concat(F.lit("rewritten body "), F.col("content"))
    )
    merge.add_documents(spark, upd, d, replace=True)

    new_meta = merge.merge_deltas(spark, d)
    assert new_meta is not None

    ts = spark.read.parquet(str(d / "tombstones")).toPandas()
    # only the base-doc delete survives, collapsed to one row
    assert ts["doc_id"].tolist() == [victim]

    # semantics unchanged: deleted base doc gone, replaced docs serve
    # the NEW content only
    got = wand.wand_topk(spark, d, ["def"], k=1000, mode="or").toPandas()
    assert victim not in set(got["doc_id"])
    got_new = wand.wand_topk(spark, d, ["rewritten"], k=1000, mode="or").toPandas()
    assert set(got_new["doc_id"]) == set(int(x) for x in extra_pdf[0::2]["doc_id"])


def test_tombstone_shuffle_join_matches_broadcast(spark, corpora, tmp_path, monkeypatch):
    # mass deletes make the tombstone table corpus-scale: the merges
    # must not broadcast it. With the shuffle branch forced (threshold
    # 0), merge_deltas and then compact must still serve exactly the
    # live set.
    base, extra, full = corpora
    d = tmp_path / "idx_shufflets"
    builder.build_index(
        spark, base, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    extra_pdf = extra.toPandas()
    for part in (extra_pdf[0::2], extra_pdf[1::2]):  # two deltas to merge
        merge.add_documents(spark, spark.createDataFrame(part), d)
    dead = full.select("doc_id").filter(F.col("doc_id") % 3 == 0)
    merge.delete_documents(spark, d, dead)  # DataFrame overload
    monkeypatch.setattr(T, "SMALL_MAX_BYTES", 0)
    want = _oracle(
        full.filter(F.col("doc_id") % 3 != 0), ["def", "return"], k=1000
    )
    for merge_fn in (merge.merge_deltas, merge.compact):
        assert not T.Snapshot(spark, d).small
        assert merge_fn(spark, d) is not None
        got = wand.wand_topk(spark, d, ["def", "return"], k=1000, mode="or").toPandas()
        assert set(got["doc_id"]) == set(want["doc_id"]), merge_fn.__name__
        assert not any(int(x) % 3 == 0 for x in got["doc_id"])


def test_warm_engine_cache_does_not_corrupt_later_merges(spark, corpora, tmp_path):
    # Spark's CacheManager substitutes ANY same-path read whose plan
    # matches a persisted one: a warm QueryEngine's persisted
    # term_dict, left stale across add_documents' dict swap, used to
    # be silently served to the delta merge's re-score join — postings
    # of every term first seen after the engine warmed vanished from
    # the merged generation. Writers now refreshByPath after each
    # commit; this pins the full warm-engine + replace + policy-merge
    # sequence.
    from open_source_search_engine_spark.index.engine import QueryEngine

    base, extra, _ = corpora
    d = tmp_path / "idx_warmcache"
    builder.build_index(
        spark, base, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    eng = QueryEngine(spark, d)
    assert eng.topk(["def"], k=5).count() == 5

    extra_pdf = extra.toPandas()
    merge.add_documents(
        spark, spark.createDataFrame(extra_pdf[0::2]), d, max_generations=2
    )
    upd = spark.createDataFrame(extra_pdf[0::2]).withColumn(
        "content", F.concat(F.lit("brandnewterm body "), F.col("content"))
    )
    merge.add_documents(spark, upd, d, replace=True, max_generations=2)

    want_ids = set(int(x) for x in extra_pdf[0::2]["doc_id"])
    got = wand.wand_topk(spark, d, ["brandnewterm"], k=1000, mode="or").toPandas()
    assert set(got["doc_id"]) == want_ids
    # warm handle picks the new store up after refresh()
    eng.refresh()
    got_warm = eng.topk(["brandnewterm"], k=1000, mode="or").toPandas()
    assert set(got_warm["doc_id"]) == want_ids


def test_wand_cogrouped_tombstones_match_driver_path(spark, corpora, tmp_path, monkeypatch):
    # mass-delete read path: forcing the cogrouped tombstone shuffle
    # (threshold -1) must rank identically to the driver-array path,
    # in both AND and OR modes, with deletes spanning base + delta
    # generations (salt drift covered by full replication).
    base, extra, full = corpora
    d = tmp_path / "idx_cots"
    builder.build_index(
        spark, base, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    merge.add_documents(spark, extra, d)
    dead = full.select("doc_id").filter(F.col("doc_id") % 5 == 0)
    merge.delete_documents(spark, d, dead)

    for terms, mode in [(["def", "return"], "or"), (["scan", "merge"], "and")]:
        want = wand.wand_topk(spark, d, terms, k=25, mode=mode).toPandas()
        monkeypatch.setattr(T, "SMALL_MAX_BYTES", -1)
        assert not T.Snapshot(spark, d).small
        got = wand.wand_topk(spark, d, terms, k=25, mode=mode).toPandas()
        monkeypatch.undo()
        assert list(got["doc_id"]) == list(want["doc_id"]), (terms, mode)
        assert got["score"].tolist() == pytest.approx(want["score"].tolist())
        assert not any(int(x) % 5 == 0 for x in got["doc_id"])


def test_positional_boolean_cogrouped_tombstones_match_driver_path(
    spark, corpora, tmp_path, monkeypatch
):
    # VERDICT r04 item 1: EVERY indexed read path (not just wand_topk)
    # must survive a mass delete without funneling the tombstone table
    # through the driver. Forcing the cogrouped shuffle (threshold -1)
    # must be result-identical to the driver-array path for postings,
    # phrase, facets, proximity, and the warm QueryEngine surface.
    from open_source_search_engine_spark.index import lists
    from open_source_search_engine_spark.index.engine import QueryEngine
    from open_source_search_engine_spark.operators import indexed, proximity

    base, extra, full = corpora
    d = tmp_path / "idx_posco"
    builder.build_index(
        spark, base, d, cfg=TEST_CFG, text_col="content",
        tokenizer_mode="code", extra_meta_cols=["lang"],
    )
    merge.add_documents(spark, extra, d)
    dead = full.select("doc_id").filter(F.col("doc_id") % 5 == 0)
    merge.delete_documents(spark, d, dead)

    def snapshot(small):
        eng = QueryEngine(spark, d, auto_refresh=False)
        assert eng.tombstones.small == small
        try:
            out = {
                "postings": lists.term_postings(spark, d, ["def", "scan"])
                .orderBy("term_id", "doc_id")
                .toPandas(),
                "phrase": lists.phrase_docs(spark, d, ["index", "merge"])
                .orderBy("doc_id")
                .toPandas(),
                "facets": indexed.facet_counts(spark, d, ["def"], "lang")
                .orderBy("lang")
                .toPandas(),
                "prox": proximity.proximity_topk_indexed(
                    spark, d, ["scan", "merge"], k=15
                ).toPandas(),
                "warm_topk": eng.topk(["def", "return"], k=25, mode="or").toPandas(),
                "warm_batch": eng.topk_batch(
                    {
                        "or2": (["def", "return"], "or"),
                        "and2": (["scan", "merge"], "and"),
                        "missing": (["scan", "zzz_not_a_term"], "and"),
                    },
                    k=25,
                )
                .orderBy("query_id", F.desc("score"), "doc_id")
                .toPandas(),
                "warm_bool": eng.boolean("def AND NOT scan")
                .orderBy("doc_id")
                .toPandas(),
            }
        finally:
            eng.close()
        return out

    want = snapshot(small=True)
    monkeypatch.setattr(T, "SMALL_MAX_BYTES", -1)
    got = snapshot(small=False)
    monkeypatch.undo()

    for key in want:
        pd.testing.assert_frame_equal(
            got[key].reset_index(drop=True), want[key].reset_index(drop=True),
            obj=key,
        )
    # non-vacuous: deletes visible, results non-empty
    assert len(want["postings"]) > 0 and len(want["warm_topk"]) > 0
    assert set(want["warm_batch"]["query_id"]) == {"or2", "and2"}
    assert not any(int(x) % 5 == 0 for x in want["warm_batch"]["doc_id"])
    assert not any(int(x) % 5 == 0 for x in want["postings"]["doc_id"])
    assert not any(int(x) % 5 == 0 for x in want["warm_bool"]["doc_id"])


def test_compact_of_all_deleted_store_commits_empty_store(spark, corpora, tmp_path):
    """Deleting every doc then compacting commits an empty store (no
    live doc, so no avgdl or max_doc_id to take from the liveness view)
    that reads empty and takes a later add exactly."""
    base, extra, _ = corpora
    d = tmp_path / "idx_empty"
    five = base.filter(F.col("doc_id") < 5)
    builder.build_index(
        spark, five, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    merge.delete_documents(spark, d, list(range(5)))
    meta = merge.compact(spark, d)
    assert (meta["n_docs"], meta["avgdl"], meta["max_doc_id"]) == (0.0, 0.0, 4)
    assert wand.wand_topk(spark, d, ["def", "return"], k=10, mode="or").count() == 0

    merge.add_documents(spark, extra, d)
    got = wand.wand_topk(spark, d, ["def", "return"], k=20, mode="or").toPandas()
    want = _oracle(extra, ["def", "return"], k=20)
    assert len(got) > 0
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert got["score"].tolist() == pytest.approx(want["score"].tolist(), abs=1e-5)


def test_compact_crash_window_and_rerun(spark, corpora, tmp_path, monkeypatch):
    """VERDICT r04 item 4: kill compact at the commit point (the atomic
    meta flip). (a) the store still serves reads from the OLD committed
    generation set — no missing-directory window, because the rebuilt
    store is an unreferenced generation until the flip; (b) a rerun
    completes, sweeps the garbage generation, and matches the
    from-scratch oracle over the live set; (c) a crash BETWEEN the
    doc_meta renames is repaired by load_meta(recover=True)."""
    base, extra, full = corpora
    d = tmp_path / "idx_crash"
    builder.build_index(
        spark, base, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    merge.add_documents(spark, extra, d)
    dead = [int(x) for x in full.limit(5).toPandas()["doc_id"]]
    merge.delete_documents(spark, d, dead)
    pre_gens = merge.current_generations(d)
    want_members = set(
        wand.wand_topk(spark, d, ["def", "return"], k=10_000, mode="or")
        .toPandas()["doc_id"]
    )

    def boom(index_dir, meta):
        raise RuntimeError("injected crash before commit")

    monkeypatch.setattr(builder, "_write_meta", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge.compact(spark, d)
    monkeypatch.undo()

    # (a) reads still work off the old committed generations — the
    # rebuilt doc_meta/term_dict were only STAGED (epoch-stamped _next
    # dirs), so the live side tables are untouched too
    got = set(
        wand.wand_topk(spark, d, ["def", "return"], k=10_000, mode="or")
        .toPandas()["doc_id"]
    )
    assert got == want_members
    assert merge.B.load_meta(d)["generations"] == pre_gens
    # the staged (uncommitted) generation is on disk but invisible
    assert len(merge.current_generations(d)) == len(pre_gens) + 1

    # (b) rerun completes; garbage swept; oracle-exact over the live set
    merge.compact(spark, d)
    assert len(merge.current_generations(d)) == 1
    assert not (d / "tombstones").exists()
    live = full.filter(~F.col("doc_id").isin(dead))
    after = wand.wand_topk(spark, d, ["def", "return"], k=20, mode="or").toPandas()
    want = _oracle(live, ["def", "return"], k=20)
    assert list(after["doc_id"]) == list(want["doc_id"])
    assert after["score"].tolist() == pytest.approx(want["score"].tolist(), abs=1e-5)

    # (c) crash between the doc_meta renames: live dir missing,
    # doc_meta_next present → recovery promotes it
    (d / "doc_meta").rename(d / "doc_meta_next")
    merge.B.load_meta(d, recover=True)
    assert (d / "doc_meta").exists() and not (d / "doc_meta_next").exists()
    again = wand.wand_topk(spark, d, ["def", "return"], k=20, mode="or").toPandas()
    assert list(again["doc_id"]) == list(want["doc_id"])


def test_add_documents_crash_rollback_and_rerun_exact(
    spark, corpora, tmp_path, monkeypatch
):
    """The df fold lands EXACTLY ONCE across a crash+retry: a crash at
    add_documents' commit point (after the doc_meta append, the staged
    term_dict fold and the encode — the widest window) must leave the
    committed store byte-equivalent to before the add, and the retried
    add must converge to the same stats and scored top-k as a twin
    store whose add never crashed. Pre-protocol, the retry re-applied
    the df fold onto the already-swapped dict (double-counted df) and
    doubled the doc_meta rows."""
    base, extra, full = corpora
    d = tmp_path / "idx_addcrash"
    d_ref = tmp_path / "idx_addref"
    for p in (d, d_ref):
        builder.build_index(
            spark, base, p, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
        )
    merge.add_documents(spark, extra, d_ref)  # the never-crashed twin

    td_before = (
        spark.read.parquet(str(d / "term_dict")).toPandas()
        .sort_values("term").reset_index(drop=True)
    )
    dm_rows_before = spark.read.parquet(str(d / "doc_meta")).count()

    def boom(index_dir, meta):
        raise RuntimeError("injected crash at commit")

    monkeypatch.setattr(builder, "_write_meta", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge.add_documents(spark, extra, d)
    monkeypatch.undo()

    # rollback: live term_dict untouched (the fold was only staged)
    assert (d / "term_dict_next").exists()
    td_crashed = (
        spark.read.parquet(str(d / "term_dict")).toPandas()
        .sort_values("term").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(td_crashed, td_before)
    # readers see only committed doc_meta rows: the crashed add's
    # appended rows must not leak into the liveness view
    from open_source_search_engine_spark.index.lists import ColdIndex

    assert ColdIndex(spark, d).doc_meta_df().count() == dm_rows_before

    # recovery (any writer's load_meta(recover=True)): staged-ahead
    # dict discarded, orphan doc_meta rows swept, garbage gen dropped
    merge.B.load_meta(d, recover=True)
    assert not (d / "term_dict_next").exists()
    spark.catalog.refreshByPath(str(d / "doc_meta"))
    assert spark.read.parquet(str(d / "doc_meta")).count() == dm_rows_before
    assert merge.current_generations(d) == [0]

    # retry: converges to the never-crashed twin — stats AND scores —
    # and leaves no add staging dir behind
    merge.add_documents(spark, extra, d)
    assert not list(d.glob(builder.ADD_STAGING_PREFIX + "*"))
    for p in (d, d_ref):
        spark.catalog.refreshByPath(str(p / "term_dict"))
    td_got = (
        spark.read.parquet(str(d / "term_dict")).toPandas()
        .sort_values("term").reset_index(drop=True)
    )
    td_want = (
        spark.read.parquet(str(d_ref / "term_dict")).toPandas()
        .sort_values("term").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(td_got, td_want)
    m_got, m_want = merge.B.load_meta(d), merge.B.load_meta(d_ref)
    assert (m_got["n_docs"], m_got["avgdl"]) == (m_want["n_docs"], m_want["avgdl"])
    for terms in TERMS:
        got = wand.wand_topk(spark, d, terms, k=20, mode="or").toPandas()
        want = _oracle(full, terms, k=20)
        assert list(got["doc_id"]) == list(want["doc_id"]), terms
        assert got["score"].tolist() == pytest.approx(
            want["score"].tolist(), abs=1e-5
        )


def test_merge_deltas_crash_rollback_and_rerun_exact(
    spark, corpora, tmp_path, monkeypatch
):
    """Same exactly-once property for merge_deltas' stats restoration:
    crash at the flip → live dict untouched; rerun still sees >= 2
    deltas and applies the fold once — term_dict/scored top-k match
    the never-crashed twin."""
    base, extra, full = corpora
    extra_pdf = extra.toPandas()
    lo = extra_pdf[extra_pdf["doc_id"] < 230]
    hi = extra_pdf[extra_pdf["doc_id"] >= 230]
    d = tmp_path / "idx_mdcrash"
    d_ref = tmp_path / "idx_mdref"
    for p in (d, d_ref):
        builder.build_index(
            spark, base, p, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
        )
        merge.add_documents(spark, spark.createDataFrame(lo), p)
        merge.add_documents(spark, spark.createDataFrame(hi), p)
        # delta-tier mutation so the fold is non-trivial (df_adj != 0)
        merge.delete_documents(
            spark, p, [int(x) for x in lo["doc_id"].iloc[:5]]
        )
    assert merge.merge_deltas(spark, d_ref) is not None  # never-crashed twin

    def boom(index_dir, meta):
        raise RuntimeError("injected crash at flip")

    monkeypatch.setattr(builder, "_write_meta", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge.merge_deltas(spark, d)
    monkeypatch.undo()

    # rerun (its load_meta(recover=True) discards the staged fold and
    # the unreferenced merged generation) — then converge
    assert merge.merge_deltas(spark, d) is not None
    td_got = (
        spark.read.parquet(str(d / "term_dict")).toPandas()
        .sort_values("term").reset_index(drop=True)
    )
    td_want = (
        spark.read.parquet(str(d_ref / "term_dict")).toPandas()
        .sort_values("term").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(td_got, td_want)
    live = full.filter(
        ~F.col("doc_id").isin([int(x) for x in lo["doc_id"].iloc[:5]])
    )
    for terms in TERMS:
        got = wand.wand_topk(spark, d, terms, k=20, mode="or").toPandas()
        want = _oracle(live, terms, k=20)
        assert list(got["doc_id"]) == list(want["doc_id"]), terms
        assert got["score"].tolist() == pytest.approx(
            want["score"].tolist(), abs=1e-5
        )
    _assert_fresh_build_stats(spark, d, live, tmp_path)


def test_recover_swaps_epoch_matrix(spark, corpora, tmp_path):
    """Unit matrix for builder._recover_swaps: staged-ahead dirs roll
    back, staged-at-or-below-epoch dirs promote, mid-promotion states
    repair, and unstamped legacy _next dirs (no _epoch file) promote."""
    base, _, _ = corpora
    d = tmp_path / "idx_epochs"
    builder.build_index(
        spark, base, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    td = d / "term_dict"
    nxt = d / "term_dict_next"
    old = d / "term_dict_old"
    epoch = merge.B.load_meta(d).get("epoch", 0)

    import shutil

    # a killed add's staging dir → swept
    (d / f"{builder.ADD_STAGING_PREFIX}3").mkdir()
    merge.B.load_meta(d, recover=True)
    assert not list(d.glob(builder.ADD_STAGING_PREFIX + "*"))

    # staged AHEAD of the committed epoch → rollback (discard)
    shutil.copytree(td, nxt)
    (nxt / "_epoch").write_text(str(epoch + 1))
    merge.B.load_meta(d, recover=True)
    assert not nxt.exists() and td.exists()

    # staged AT the committed epoch (flip happened) → promote
    shutil.copytree(td, nxt)
    (nxt / "_epoch").write_text(str(epoch))
    merge.B.load_meta(d, recover=True)
    assert not nxt.exists() and td.exists()
    assert merge.B._read_epoch(td) == epoch

    # crash mid-promotion: live renamed aside, _next not yet promoted
    td.rename(old)
    shutil.copytree(old, nxt)
    merge.B.load_meta(d, recover=True)
    assert td.exists() and not nxt.exists() and not old.exists()


def test_wand_batch_matches_single_queries(spark, corpora, tmp_path, monkeypatch):
    """wand_topk_batch must be rank-identical, per query, to N
    independent wand_topk calls — on a mutated (add + mass-delete)
    store, on BOTH tombstone paths, including empty-result semantics
    for a missing required term."""
    base, extra, full = corpora
    d = tmp_path / "idx_batch"
    builder.build_index(
        spark, base, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    merge.add_documents(spark, extra, d)
    dead = full.select("doc_id").filter(F.col("doc_id") % 5 == 0)
    merge.delete_documents(spark, d, dead)

    Q = {
        "or2": (["def", "return"], "or"),
        "and2": (["scan", "merge"], "and"),
        "and_missing": (["scan", "zzz_not_a_term"], "and"),
        "single": (["index"], "and"),
    }

    def check(small):
        assert T.Snapshot(spark, d).small == small
        batch = wand.wand_topk_batch(spark, d, Q, k=25).toPandas()
        for qid, (terms, mode) in Q.items():
            want = wand.wand_topk(spark, d, terms, k=25, mode=mode).toPandas()
            got = (
                batch[batch["query_id"] == qid][["doc_id", "score"]]
                .reset_index(drop=True)
            )
            assert list(got["doc_id"]) == list(want["doc_id"]), qid
            assert got["score"].tolist() == pytest.approx(want["score"].tolist())
        assert not any(int(x) % 5 == 0 for x in batch["doc_id"])
        assert len(batch[batch["query_id"] == "and_missing"]) == 0
        assert len(batch) > 0

    check(small=True)  # driver-array tombstones
    monkeypatch.setattr(T, "SMALL_MAX_BYTES", -1)
    check(small=False)  # cogrouped tombstone shuffle
    monkeypatch.undo()
