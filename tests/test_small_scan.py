"""The driver-side small scan (``lists.ColdIndex.small_scan``) against
the Spark scan it replaces below ``lists.SMALL_SCAN_MAX_BYTES``.

Every store in the other tests is small, so they all run the driver
path; these tests force the Spark path (``SMALL_SCAN_MAX_BYTES = -1``,
or large tombstones) and pin both to identical ranks and scores on a
store with an add, a replace and a delete: top-k, phrase, proximity,
the query language (``query_language.execute_indexed``, one scan and
one kernel), ``term_postings`` and the match reads of
``operators.indexed`` (always the Spark leg, so only their
cogrouped-tombstone variant differs). They also pin the point of the
driver path: a warm top-k, a warm proximity, a warm query-language
query and an empty result start no Spark job."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fixtures.gen_corpus import gen_corpus
from open_source_search_engine_spark.index import builder, lists, merge, wand
from open_source_search_engine_spark.index import tombstones as T
from open_source_search_engine_spark.index.engine import QueryEngine
from open_source_search_engine_spark.operators import indexed, proximity
from open_source_search_engine_spark.plans import query_language
from tests.conftest import TEST_CFG

QUERIES = {
    "or2": (["def", "return"], "or"),
    "and2": (["scan", "merge"], "and"),
    "and_missing": (["scan", "zzz_not_a_term"], "and"),
    "unknown": (["zzz_not_a_term"], "or"),
    "single": (["index"], "and"),
}
PHRASE = ["index", "merge"]
PROXIMITY = ["scan", "merge"]
# term_postings' terms: their lists sit in several buckets, so one
# per-salt kernel call decodes terms of different buckets together
POSTINGS = ["def", "return", "scan", "merge", "index", "guard"]
DEAD = list(range(3, 260, 7))
# a value of the non-indexed ``repo`` column that some live doc carries
REPO = gen_corpus(n_docs=260).loc[100, "repo"]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """Base of docs 0-199, an add of 200-259, a replace of 0-29 with
    other content, and a delete of every 7th doc from 3. ``lang`` is
    an indexed field (composite terms), ``repo`` a plain doc_meta
    column."""
    pdf = gen_corpus(n_docs=260)
    d = tmp_path_factory.mktemp("small_scan") / "idx"
    builder.build_index(
        spark, spark.createDataFrame(pdf[pdf["doc_id"] < 200]), d,
        cfg=TEST_CFG, text_col="content", tokenizer_mode="code",
        extra_meta_cols=["lang", "repo"], index_fields=["lang"],
    )
    merge.add_documents(spark, spark.createDataFrame(pdf[pdf["doc_id"] >= 200]), d)
    merge.add_documents(spark, spark.createDataFrame(gen_corpus(n_docs=30, seed=7)), d, replace=True)
    merge.delete_documents(spark, d, DEAD)
    return d


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _reads(spark, d) -> dict[str, pd.DataFrame]:
    """Every read's final frame — top-k with rounded and raw scores,
    phrase, proximity, every query-language shape, term_postings, the
    match reads of operators/indexed.py — keyed by name."""
    eng = QueryEngine(spark, d, auto_refresh=False)
    by_rank = ("query_id", F.desc("score"), "doc_id")
    out = {
        "cold_batch": wand.wand_topk_batch(spark, d, QUERIES, k=25)
        .orderBy(*by_rank).toPandas(),
        "warm_batch": eng.topk_batch(QUERIES, k=25).orderBy(*by_rank).toPandas(),
        "raw_cold_batch": wand.wand_topk_batch(spark, d, QUERIES, k=25, round_dp=None)
        .orderBy(*by_rank).toPandas(),
        "raw_warm_batch": eng.topk_batch(QUERIES, k=25, round_dp=None)
        .orderBy(*by_rank).toPandas(),
        "phrase": lists.phrase_docs(spark, d, PHRASE).orderBy("doc_id").toPandas(),
        "warm_phrase": eng.phrase(PHRASE).orderBy("doc_id").toPandas(),
        "cold_proximity": proximity.proximity_topk_indexed(spark, d, PROXIMITY, k=25).toPandas(),
        "warm_proximity": proximity.proximity_topk_indexed(spark, eng, PROXIMITY, k=25).toPandas(),
        "postings": lists.term_postings(spark, d, POSTINGS)
        .orderBy("term_id", "doc_id").toPandas(),
        "and_intersect": indexed.and_intersect(spark, d, ["scan", "merge"]).toPandas(),
        "not_exclude": indexed.not_exclude(spark, eng, "scan", "trait").toPandas(),
        "field_docs": indexed.field_docs(spark, d, "lang", "py").orderBy("doc_id").toPandas(),
        "scored_and": indexed.scored_matches(spark, d, ["scan", "merge", "index"], "and")
        .orderBy("doc_id").toPandas(),
        "scored_or": indexed.scored_matches(spark, eng, POSTINGS[:4], "or")
        .orderBy("doc_id").toPandas(),
    }
    for qid, (terms, mode) in QUERIES.items():
        out[f"cold_{qid}"] = wand.wand_topk(spark, d, terms, k=25, mode=mode).toPandas()
        out[f"warm_{qid}"] = eng.topk(terms, k=25, mode=mode).toPandas()
        out[f"raw_cold_{qid}"] = wand.wand_topk(
            spark, d, terms, k=25, mode=mode, round_dp=None
        ).toPandas()
        out[f"raw_warm_{qid}"] = eng.topk(terms, k=25, mode=mode, round_dp=None).toPandas()
    for name, q in qlang_queries(REPO).items():
        out[f"qlang_{name}"] = eng.query(q, k=25).toPandas()
    return out


@pytest.fixture(scope="module")
def paths(spark, store) -> dict[str, dict[str, pd.DataFrame]]:
    """``_reads`` on the driver path, the forced Spark scan and the
    cogrouped-tombstone Spark path."""
    ix = lists.ColdIndex(spark, store)
    tids = sorted(int(r["term_id"]) for r in ix.term_rows(["def", "return"]))
    phrase_tids = sorted(int(r["term_id"]) for r in ix.term_rows(["scan", "lock", "impl"]))
    assert ix.tombstones.small and ix.small_scan(tids) is not None
    assert ix.small_scan(phrase_tids, with_positions=True) is not None
    out = {"driver": _reads(spark, store)}

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(lists, "SMALL_SCAN_MAX_BYTES", -1)
        assert lists.ColdIndex(spark, store).small_scan(tids) is None
        out["spark"] = _reads(spark, store)

    # large tombstones alone must take the Spark path (cogrouped)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(T, "SMALL_MAX_BYTES", -1)
        ix = lists.ColdIndex(spark, store)
        assert not ix.tombstones.small and ix.small_scan(tids) is None
        out["cogroup"] = _reads(spark, store)
    return out


def test_small_scan_matches_spark_scan(paths):
    """Every final frame — column names, order, dtypes, rows — is the
    same on the driver path and on both Spark paths."""
    want = paths["driver"]
    for got in (paths["spark"], paths["cogroup"]):
        assert got.keys() == want.keys()
        for key in want:
            pd.testing.assert_frame_equal(
                got[key].reset_index(drop=True), want[key].reset_index(drop=True),
                obj=key,
            )
    other_cols = {
        "phrase": ["doc_id"], "warm_phrase": ["doc_id"],
        "postings": ["term_id", "doc_id", "tf", "score"],
        "and_intersect": ["doc_id"], "not_exclude": ["doc_id"], "field_docs": ["doc_id"],
        "scored_and": ["doc_id", "_score"], "scored_or": ["doc_id", "_score"],
    }
    for key, frame in want.items():
        cols = ["query_id", "doc_id", "score"] if key.endswith("batch") else ["doc_id", "score"]
        assert list(frame.columns) == other_cols.get(key, cols), key
    # non-vacuous: every query with known terms answers, deletes and
    # replaced content are visible
    for qid in ("or2", "and2", "single"):
        assert len(want[f"cold_{qid}"]) > 0, qid
    assert set(want["cold_batch"]["query_id"]) == {"or2", "and2", "single"}
    assert len(want["phrase"]) > 0
    assert len(want["cold_proximity"]) > 0
    for key in ("and_intersect", "not_exclude", "field_docs", "scored_and", "scored_or"):
        assert len(want[key]) > 0, key
    assert want["postings"]["term_id"].mod(TEST_CFG.n_buckets).nunique() > 1
    for key in want:
        assert not set(want[key]["doc_id"]) & set(DEAD), key


def test_warm_small_reads_are_bare_local_relations(spark, store):
    """A warm small read's frame is built final in the driver: its
    analyzed plan is one LocalRelation with no projection on top."""
    eng = QueryEngine(spark, store)
    frames = {
        "topk": eng.topk(["def", "return"], k=10, mode="or"),
        "topk_batch": eng.topk_batch(QUERIES, k=10),
        "query": eng.query("scan merge -trait", k=10),
        "proximity": proximity.proximity_topk_indexed(spark, eng, PROXIMITY, k=10),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation", (name, plan.toString())
        assert len(df.collect()) > 0, name


def test_warm_small_topk_starts_no_job(spark, store):
    eng = QueryEngine(spark, store)
    eng.topk(["def", "return"], k=10, mode="or").collect()
    before = _jobs(spark)
    rows = eng.topk(["def", "return"], k=10, mode="or").collect()
    batch = eng.topk_batch(QUERIES, k=10).collect()
    prox = proximity.proximity_topk_indexed(spark, eng, PROXIMITY, k=10).collect()
    assert _jobs(spark) == before
    assert len(rows) == 10 and len(batch) > 0 and len(prox) > 0


def qlang_queries(repo: str) -> dict[str, str]:
    """Every query-language shape; ``repo`` is a value of the
    non-indexed ``repo`` column that some live doc carries."""
    return {
        "and": "scan merge",
        "plus": "dup +guard",
        "minus": "scan merge -trait",
        "minus_group": "scan -trait|func",
        "or_group": "dup|bloomer scan",
        "phrase2": '"scan lock" merge',
        "phrase3": '"scan lock impl"',
        "indexed_field": "scan merge lang:py",
        "meta_filter": f"def repo:{repo}",
        "unknown_required": "scan zzz_not_a_term",
        "unknown_group": "zzz_not_a_term|zzz_other scan",
        "unknown_phrase_word": '"scan zzz_not_a_term" merge',
        "unknown_excluded": "scan merge -zzz_not_a_term",
        "all_excluded": "scan merge -def",
    }


EMPTY_QLANG = {"unknown_required", "unknown_group", "unknown_phrase_word", "all_excluded"}


def _qlang_reads(spark, d, queries: dict[str, str]) -> dict[str, pd.DataFrame]:
    eng = QueryEngine(spark, d, auto_refresh=False)
    return {name: eng.query(q, k=25).toPandas() for name, q in queries.items()}


def _assert_qlang_nonvacuous(got: dict[str, pd.DataFrame]) -> None:
    for name, rows in got.items():
        assert (len(rows) == 0) == (name in EMPTY_QLANG), name
    pd.testing.assert_frame_equal(got["unknown_excluded"], got["and"])


def test_qlang_driver_matches_spark_scan(paths):
    """Every query-language shape ranks and scores identically on the
    driver path, the forced Spark scan and the cogrouped-tombstone
    Spark path, and never returns a deleted doc."""
    want = {name: paths["driver"][f"qlang_{name}"] for name in qlang_queries(REPO)}
    for path in ("spark", "cogroup"):
        for name in want:
            pd.testing.assert_frame_equal(paths[path][f"qlang_{name}"], want[name], obj=name)
    _assert_qlang_nonvacuous(want)
    for name, rows in want.items():
        assert not set(rows["doc_id"]) & set(DEAD), name


def test_qlang_matches_corpus_oracle_on_delta_only_store(spark, tmp_path):
    """Mutations confined to the delta tier, then merged, leave exact
    stats: the indexed query language equals ``execute`` over the live
    corpus, shape by shape."""
    pdf = gen_corpus(n_docs=200)
    repl = gen_corpus(n_docs=10, seed=7).assign(doc_id=range(160, 170))
    dead = list(range(180, 186))
    d = tmp_path / "idx"
    builder.build_index(
        spark, spark.createDataFrame(pdf[pdf["doc_id"] < 150]), d,
        cfg=TEST_CFG, text_col="content", tokenizer_mode="code",
        extra_meta_cols=["lang", "repo"], index_fields=["lang"],
    )
    merge.add_documents(spark, spark.createDataFrame(pdf[pdf["doc_id"] >= 150]), d)
    merge.add_documents(spark, spark.createDataFrame(repl), d, replace=True)
    merge.delete_documents(spark, d, dead)
    merge.merge_deltas(spark, d)
    live = pd.concat([pdf[~pdf["doc_id"].isin(repl["doc_id"])], repl])
    live = live[~live["doc_id"].isin(dead)]
    docs = spark.createDataFrame(live)

    queries = qlang_queries(pdf.loc[100, "repo"])
    got = _qlang_reads(spark, d, queries)
    _assert_qlang_nonvacuous(got)
    for name, q in queries.items():
        want = query_language.execute(
            docs, q, k=25, text_col="content", tokenizer_mode="code"
        ).toPandas()
        pd.testing.assert_frame_equal(got[name], want, obj=name)


def test_warm_small_qlang_starts_no_job(spark, store):
    """A warm query-language query without a filter on a non-indexed
    doc_meta column runs its one kernel in the driver: no Spark job."""
    queries = qlang_queries("unused")
    del queries["meta_filter"]
    eng = QueryEngine(spark, store)
    eng.query(queries["and"], k=10).collect()
    before = _jobs(spark)
    rows = {name: eng.query(q, k=10).collect() for name, q in queries.items()}
    assert _jobs(spark) == before
    assert len(rows["phrase3"]) > 0 and len(rows["indexed_field"]) > 0


def test_unknown_term_reads_start_no_job(spark, store):
    before = _jobs(spark)
    assert wand.wand_topk(spark, store, ["zzz_not_a_term"], k=5).collect() == []
    assert lists.phrase_docs(spark, store, ["zzz_not_a_term", "def"]).collect() == []
    assert lists.term_postings(spark, store, ["zzz_not_a_term"]).collect() == []
    assert _jobs(spark) == before


def test_stale_handle_raises_after_commit_drops_generations(spark, tmp_path, monkeypatch):
    """A handle whose meta predates a commit that dropped generations
    (compact) must raise on either scan, not read part of the store."""
    pdf = gen_corpus(n_docs=60)
    d = tmp_path / "idx"
    builder.build_index(
        spark, spark.createDataFrame(pdf[pdf["doc_id"] < 40]), d,
        cfg=TEST_CFG, text_col="content", tokenizer_mode="code",
    )
    merge.add_documents(spark, spark.createDataFrame(pdf[pdf["doc_id"] >= 40]), d)
    eng = QueryEngine(spark, d, auto_refresh=False)
    cold = lists.ColdIndex(spark, d)
    assert eng.topk(["def"], k=5, mode="or").count() > 0
    merge.compact(spark, d)

    reads = {
        "warm_topk": lambda: eng.topk(["def"], k=5, mode="or").collect(),
        "warm_phrase": lambda: eng.phrase(PHRASE).collect(),
        "cold_phrase": lambda: lists.phrase_docs(spark, cold, PHRASE).collect(),
        "cold_proximity": lambda: proximity.proximity_topk_indexed(
            spark, cold, PHRASE, k=5
        ).collect(),
        "cold_postings": lambda: lists.term_postings(spark, cold, ["def"]).collect(),
    }
    for name, read in reads.items():
        with pytest.raises(FileNotFoundError, match="dropped by a later commit"):
            read()
    monkeypatch.setattr(lists, "SMALL_SCAN_MAX_BYTES", -1)
    for name in ("warm_topk", "warm_phrase", "cold_proximity"):
        with pytest.raises(FileNotFoundError, match="dropped by a later commit"):
            reads[name]()
    monkeypatch.undo()

    eng.refresh()
    assert eng.topk(["def"], k=5, mode="or").count() == 5
