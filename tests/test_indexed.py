"""Index-backed operators (index/lists.py, operators/indexed.py) must
be result-identical to the corpus-algebra oracles on the code corpus
(SURVEY.md §3.1: every consumer works off the Msg2 term lists)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.index import builder, lists, wand
from open_source_search_engine_spark.operators import bm25, boolean, facets, indexed
from open_source_search_engine_spark.operators import phrase as phrase_ops
from tests.conftest import TEST_CFG

TERMS = ["index", "merge"]


@pytest.fixture(scope="module")
def idx(spark, tiny_corpus, tmp_path_factory):
    d = tmp_path_factory.mktemp("idx_ops") / "idx"
    builder.build_index(
        spark,
        tiny_corpus.withColumn("n_chars", F.length("content")),
        d,
        cfg=TEST_CFG,
        text_col="content",
        tokenizer_mode="code",
        extra_meta_cols=["lang", "repo", "n_chars"],
    )
    return d


@pytest.fixture(scope="module")
def field_idx(spark, tiny_corpus, tmp_path_factory):
    """A store with ``lang`` as an indexed field (composite terms)."""
    d = tmp_path_factory.mktemp("idx_fields") / "idx"
    builder.build_index(
        spark, tiny_corpus, d, cfg=TEST_CFG, text_col="content",
        tokenizer_mode="code", extra_meta_cols=["lang"], index_fields=["lang"],
    )
    return d


def _ids(df):
    return [r["doc_id"] for r in df.collect()]


def test_term_postings_matches_algebra(spark, tiny_corpus, idx):
    """One term, and several whose lists sit in different buckets (the
    per-salt kernel decodes them in one call): (term, doc_id, tf) equal
    the corpus postings."""
    from open_source_search_engine_spark.operators.postings import build_postings

    corpus = build_postings(tiny_corpus, "content", "doc_id", mode="code", with_positions=False)
    for terms in (["index"], ["index", "merge", "scan", "def", "return", "hash"]):
        want = corpus.filter(F.col("term").isin(terms)).select("term", "doc_id", "tf").collect()
        term_of = {t: term for term, t in lists.term_id_map(spark, idx, terms).items()}
        assert len(term_of) == len(terms)
        if len(terms) > 1:
            assert len({t % TEST_CFG.n_buckets for t in term_of}) > 1
        got = lists.term_postings(spark, idx, terms).collect()
        assert sorted((term_of[r["term_id"]], r["doc_id"], r["tf"]) for r in got) == sorted(
            (r["term"], r["doc_id"], r["tf"]) for r in want
        ), terms


def test_and_or_not_indexed(spark, tiny_corpus, idx):
    assert _ids(indexed.and_intersect(spark, idx, TERMS)) == _ids(
        boolean.and_intersect(tiny_corpus.withColumnRenamed("content", "text"), TERMS,
                              tokenizer_mode="code")
    )
    assert _ids(indexed.or_union(spark, idx, TERMS)) == _ids(
        boolean.or_union(tiny_corpus.withColumnRenamed("content", "text"), TERMS,
                         tokenizer_mode="code")
    )
    assert _ids(indexed.not_exclude(spark, idx, "index", "merge")) == _ids(
        boolean.not_exclude(tiny_corpus.withColumnRenamed("content", "text"),
                            "index", "merge", tokenizer_mode="code")
    )


def test_missing_term_semantics(spark, idx, field_idx):
    assert indexed.and_intersect(spark, idx, ["index", "zzzznotaterm"]).count() == 0
    assert indexed.bm25_topk(spark, idx, ["index", "zzzznotaterm"], 5).count() == 0
    assert _ids(indexed.not_exclude(spark, idx, "index", "zzzznotaterm")) == _ids(
        indexed.or_union(spark, idx, ["index"])
    )
    assert indexed.field_docs(spark, field_idx, "lang", "zzzznotalang").count() == 0
    assert indexed.bm25_topk_field(
        spark, field_idx, TERMS, "lang", "zzzznotalang", k=10
    ).count() == 0
    known = _ids(indexed.or_union(spark, idx, ["index"]))
    assert known and _ids(indexed.or_union(spark, idx, ["index", "zzzznotaterm"])) == known
    assert indexed.scored_matches(
        spark, idx, ["zzzznotaterm", "zzzzother"], "or"
    ).count() == 0


def test_facets_indexed(spark, tiny_corpus, idx):
    want = facets.facet_counts(
        tiny_corpus.withColumnRenamed("content", "text"), TERMS, "lang",
        tokenizer_mode="code",
    ).collect()
    got = indexed.facet_counts(spark, idx, TERMS, "lang").collect()
    assert [(r["facet_value"], r["facet_count"]) for r in got] == [
        (r["facet_value"], r["facet_count"]) for r in want
    ]


def test_bm25_topk_indexed_rank_identical(spark, tiny_corpus, idx):
    """bm25_topk equals the corpus oracle in AND and OR mode, and the
    raw scored match set of >=3 terms (where summation order shows) is
    bit-identical to wand_topk's raw scores."""
    for mode in ("and", "or"):
        want = bm25.bm25_topk_oracle(
            tiny_corpus, TERMS, k=10, mode=mode, text_col="content", tokenizer_mode="code"
        ).collect()
        got = indexed.bm25_topk(spark, idx, TERMS, k=10, mode=mode).collect()
        assert [(r["doc_id"], r["score"]) for r in got] == [
            (r["doc_id"], r["score"]) for r in want
        ], mode
    n_docs = tiny_corpus.count()
    for terms, mode in ((["index", "merge", "scan"], "and"),
                        (["index", "merge", "scan", "hash"], "or")):
        raw = {
            r["doc_id"]: r["_score"]
            for r in indexed.scored_matches(spark, idx, terms, mode).collect()
        }
        want = {
            r["doc_id"]: r["score"]
            for r in wand.wand_topk(
                spark, idx, terms, k=n_docs, mode=mode, round_dp=None
            ).collect()
        }
        assert raw and raw == want, mode


def test_phrase_from_positions(spark, tiny_corpus, idx):
    """Index-backed phrase (persisted pos_blob) == positional
    self-join over the raw corpus, for several real bigrams."""
    checked = 0
    for w1, w2 in [("index", "merge"), ("hash", "join"), ("def", "index"),
                   ("scan", "scan"), ("merge", "sort")]:
        want = _ids(
            phrase_ops.phrase_bigram(
                tiny_corpus.withColumnRenamed("content", "text"), w1, w2,
                tokenizer_mode="code",
            )
        )
        got = _ids(indexed.phrase_bigram(spark, idx, w1, w2))
        assert got == want, (w1, w2)
        checked += len(want)
    assert checked > 0  # fixture really exercises the positive path


def test_phrase_trigram_chain(spark, tiny_corpus, idx):
    """Full n-word chain (lists.phrase_docs) is a subset of the
    pairwise-bigram AND, and every returned doc really contains the
    exact consecutive trigram."""
    words = ["index", "merge", "scan"]
    got = set(_ids(lists.phrase_docs(spark, idx, words).orderBy("doc_id")))
    pair_and = set(_ids(indexed.phrase_bigram(spark, idx, "index", "merge"))) & set(
        _ids(indexed.phrase_bigram(spark, idx, "merge", "scan"))
    )
    assert got <= pair_and
    if got:
        from open_source_search_engine_spark.operators.postings import doc_tokens

        toks = (
            doc_tokens(tiny_corpus, "content", mode="code")
            .filter(F.col("doc_id").isin([int(d) for d in got]))
            .collect()
        )
        by_doc = {}
        for r in toks:
            by_doc.setdefault(r["doc_id"], {})[r["pos"]] = r["term"]
        for d in got:
            seq = by_doc[d]
            assert any(
                seq.get(p) == "index" and seq.get(p + 1) == "merge" and seq.get(p + 2) == "scan"
                for p in seq
            )


def test_sitecap_paginate_indexed(spark, tiny_corpus, idx):
    got = indexed.topk_sitecap(spark, idx, TERMS, k=5, cap=2, site_col="repo").collect()
    # cap respected + descending scores
    from collections import Counter

    sites = Counter(r["source"] for r in got)
    assert all(v <= 2 for v in sites.values())
    scores = [r["score"] for r in got]
    assert scores == sorted(scores, reverse=True)

    page0 = indexed.paginate(spark, idx, TERMS, 0, 5).collect()
    page1 = indexed.paginate(spark, idx, TERMS, 5, 5).collect()
    full = indexed.bm25_topk(spark, idx, TERMS, k=10).collect()
    assert [r["doc_id"] for r in page0 + page1] == [r["doc_id"] for r in full]


def test_field_prefixed_terms(spark, tiny_corpus, field_idx):
    """index_fields builds `field:value` composite termlists (F3):
    field restriction resolves to one pruned list read, identical to
    the doc_meta filter."""
    d = field_idx
    meta_docs = set(
        r["doc_id"]
        for r in spark.read.parquet(str(d / "doc_meta"))
        .filter(F.col("lang") == "py")
        .select("doc_id")
        .collect()
    )
    got = set(r["doc_id"] for r in indexed.field_docs(spark, d, "lang", "py").collect())
    assert got == meta_docs and got
    want = bm25.bm25_topk_oracle(
        tiny_corpus, TERMS, k=10, mode="and", text_col="content",
        tokenizer_mode="code", candidate_filter=(F.col("lang") == "py"),
    ).collect()
    res = indexed.bm25_topk_field(spark, d, TERMS, "lang", "py", k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in res] == [
        (r["doc_id"], r["score"]) for r in want
    ]
