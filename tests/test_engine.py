"""QueryEngine warm-handle path must equal wand_topk exactly."""

from __future__ import annotations

import pandas as pd
import pytest

from open_source_search_engine_spark.index import builder, wand
from open_source_search_engine_spark.index.engine import QueryEngine
from tests.conftest import TEST_CFG


@pytest.fixture(scope="module")
def eng_index(spark, tiny_corpus, tmp_path_factory):
    d = tmp_path_factory.mktemp("engidx") / "main"
    builder.build_index(
        spark, tiny_corpus, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    return d


def test_engine_matches_wand(spark, eng_index):
    eng = QueryEngine(spark, eng_index)
    try:
        for terms, mode in [
            (["def", "return"], "and"),
            (["dup", "if"], "or"),
            (["scan"], "and"),
            (["zzz_missing", "def"], "and"),
        ]:
            a = eng.topk(terms, k=10, mode=mode).toPandas()
            b = wand.wand_topk(spark, eng_index, terms, k=10, mode=mode).toPandas()
            pd.testing.assert_frame_equal(a, b, obj=f"{terms} {mode}")
    finally:
        eng.close()


def test_engine_warm_operator_surface(spark, tiny_corpus, tmp_path_factory):
    """The warm handle serves the full indexed operator surface with
    answers identical to the cold path."""
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.index import builder, lists
    from open_source_search_engine_spark.operators import indexed
    from open_source_search_engine_spark.plans import boolean_expr, query_language

    d = tmp_path_factory.mktemp("engidx_warm") / "idx"
    builder.build_index(
        spark,
        tiny_corpus.withColumn("n_chars", F.length("content")),
        d,
        cfg=TEST_CFG,
        text_col="content",
        tokenizer_mode="code",
        extra_meta_cols=["lang", "repo", "n_chars"],
        index_fields=["lang"],
    )
    eng = QueryEngine(spark, d)
    try:
        cold = indexed.facet_counts(spark, d, ["index"], "lang").collect()
        warm = eng.facets(["index"], "lang").collect()
        assert warm == cold

        cold = lists.phrase_docs(spark, d, ["index", "merge"]).orderBy("doc_id").collect()
        warm = eng.phrase(["index", "merge"]).orderBy("doc_id").collect()
        assert warm == cold

        q = "index +merge lang:py"
        cold = query_language.execute_indexed(spark, d, q, k=5).collect()
        warm = eng.query(q, k=5).collect()
        assert warm == cold

        e = "(index OR merge) AND NOT hash"
        cold = boolean_expr.evaluate_indexed(spark, d, e).collect()
        warm = eng.boolean(e).collect()
        assert warm == cold
    finally:
        eng.close()


def test_engine_auto_refresh_sees_committed_writes(
    spark, tiny_corpus, tmp_path_factory
):
    # RdbCache invalidation analog: a warm engine must pick up an
    # add_documents commit (new generation + dict swap) and a delete
    # (tombstones only — meta.json untouched) WITHOUT an explicit
    # refresh() call. Own index build — this test mutates the store.
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.index import merge

    d = tmp_path_factory.mktemp("engidx_ar") / "main"
    builder.build_index(
        spark, tiny_corpus, d, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    eng = QueryEngine(spark, d)
    try:
        assert eng.topk(["def"], k=3).count() == 3  # warm the caches

        new_id = int(tiny_corpus.agg(F.max("doc_id")).first()[0]) + 1
        add = pd.DataFrame(
            {"doc_id": [new_id], "content": ["zzzautorefresh only content"]}
        )
        merge.add_documents(spark, spark.createDataFrame(add), d)
        got = eng.topk(["zzzautorefresh"], k=5).toPandas()
        assert set(got["doc_id"]) == {new_id}

        merge.delete_documents(spark, d, [new_id])
        assert eng.topk(["zzzautorefresh"], k=5).count() == 0
    finally:
        eng.close()


def test_engine_topk_batch_matches_topk(spark, eng_index):
    """Warm-path batch must be rank-identical, per query, to serial
    engine.topk (the cogrouped tombstone path is pinned on a mutated
    store in test_merge's positional/boolean cogroup test)."""
    Q = {
        "and2": (["def", "return"], "and"),
        "or2": (["dup", "if"], "or"),
        "missing": (["def", "zzz_not_a_term"], "and"),
    }
    eng = QueryEngine(spark, eng_index, auto_refresh=False)
    try:
        batch = eng.topk_batch(Q, k=10).toPandas()
        for qid, (terms, mode) in Q.items():
            want = eng.topk(terms, k=10, mode=mode).toPandas()
            got = (
                batch[batch["query_id"] == qid][["doc_id", "score"]]
                .reset_index(drop=True)
            )
            assert list(got["doc_id"]) == list(want["doc_id"]), qid
            assert got["score"].tolist() == pytest.approx(
                want["score"].tolist()
            ), qid
        assert len(batch[batch["query_id"] == "missing"]) == 0
        assert len(batch) > 0
    finally:
        eng.close()
