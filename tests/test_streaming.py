"""§2.10 — streaming incremental build: new files land → stream drains
→ docs are queryable; second wave appends another generation."""

from __future__ import annotations

import pytest

from fixtures.gen_corpus import gen_corpus
from open_source_search_engine_spark.index import builder, merge, wand
from open_source_search_engine_spark.streaming.incremental import (
    start_incremental_indexer,
)
from tests.conftest import TEST_CFG


def test_streaming_incremental_index(spark, tmp_path):
    src = tmp_path / "src"
    idx = tmp_path / "idx"
    ckpt = tmp_path / "ckpt"

    all_pdf = gen_corpus(n_docs=240)
    base, w1, w2 = all_pdf[:120], all_pdf[120:180], all_pdf[180:]

    # base index from the initial batch (generation 0)
    base_df = spark.createDataFrame(base)
    builder.build_index(
        spark, base_df, idx, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    schema = base_df.schema

    # wave 1 lands as new parquet files; drain with availableNow
    spark.createDataFrame(w1).write.mode("append").parquet(str(src))
    q = start_incremental_indexer(spark, src, idx, schema, ckpt)
    q.awaitTermination(180)
    assert merge.current_generations(idx) == [0, 1]

    got = wand.wand_topk(spark, idx, ["def"], k=1000, mode="or").toPandas()
    seen = set(got["doc_id"])
    assert any(d >= 120 for d in seen), "wave-1 docs must be searchable"

    # wave 2: restart from the same checkpoint picks up only new files
    spark.createDataFrame(w2).write.mode("append").parquet(str(src))
    q2 = start_incremental_indexer(spark, src, idx, schema, ckpt)
    q2.awaitTermination(180)
    gens = merge.current_generations(idx)
    assert gens[-1] > 1 and len(gens) == 3

    got2 = wand.wand_topk(spark, idx, ["def"], k=1000, mode="or").toPandas()
    assert any(d >= 180 for d in set(got2["doc_id"]))
    # wave-1 docs still present (checkpoint did not reprocess or lose)
    assert seen <= set(got2["doc_id"])


def test_streaming_stateful_dedup(spark, tmp_path):
    """applyInPandasWithState dedup: a hash admitted in batch 1 is
    dropped in batch 2; within a batch the lowest doc_id survives."""
    import pandas as pd
    from pyspark.sql.types import StructType

    from open_source_search_engine_spark.streaming.dedup_stream import dedup_stream

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    w1 = pd.DataFrame(
        {"doc_id": [3, 1, 2], "text": ["aaa", "aaa", "bbb"]}
    )
    w2 = pd.DataFrame(
        {"doc_id": [10, 11, 12], "text": ["aaa", "ccc", "bbb"]}
    )
    schema = spark.createDataFrame(w1).schema

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            dedup_stream(stream)
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(w1).write.mode("append").parquet(str(src))
    drain()
    got1 = {r["doc_id"] for r in spark.read.parquet(str(out)).collect()}
    # 'aaa' survives once (doc 1 < doc 3), 'bbb' once (doc 2)
    assert got1 == {1, 2}

    spark.createDataFrame(w2).write.mode("append").parquet(str(src))
    drain()
    got2 = {r["doc_id"] for r in spark.read.parquet(str(out)).collect()}
    # batch 2: 'aaa'/'bbb' already admitted → only 'ccc' (doc 11)
    assert got2 == {1, 2, 11}


def test_streaming_windowed_watermark(spark, tmp_path):
    """Event-time windowed agg with watermark: in append mode a window
    emits once its end passes the watermark; a late row older than the
    watermark is dropped."""
    import pandas as pd

    from open_source_search_engine_spark.operators.events import (
        streaming_windowed_counts,
    )

    src = tmp_path / "ev"
    out = tmp_path / "evout"
    ckpt = tmp_path / "evckpt"
    src.mkdir()

    def mk(rows):
        return pd.DataFrame(
            {
                "ts": pd.to_datetime([r[0] for r in rows]),
                "event_type": [r[1] for r in rows],
                "value": [float(r[2]) for r in rows],
            }
        )

    w1 = mk([("2024-01-01 00:10", "click", 1), ("2024-01-01 00:40", "click", 2),
             ("2024-01-01 01:10", "view", 3)])
    # wave 2 advances event time far enough (watermark 2h) to close the
    # 00:00 and 01:00 windows
    w2 = mk([("2024-01-01 06:00", "click", 4)])
    # wave 3 delivers a LATE row: the watermark is now 04:00 (06:00 -
    # 2h, set at the END of the previous batch), so 00:20 is dropped
    w3 = mk([("2024-01-01 00:20", "click", 99), ("2024-01-01 06:30", "view", 5)])
    schema = spark.createDataFrame(w1).schema

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            streaming_windowed_counts(stream, window="1 hour", watermark="2 hours")
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for wave in (w1, w2, w3):
        spark.createDataFrame(wave).write.mode("append").parquet(str(src))
        drain()
    collected = spark.read.parquet(str(out)).collect()
    rows = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in collected
    }
    # closed windows emitted with their on-time counts; the late 00:20
    # row (value 99) was dropped — the 00:00 click window stays (2, 3.0)
    # and was emitted exactly once
    assert rows[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert rows[("2024-01-01 01:00:00", "view")] == (1, 3.0)
    assert (
        sum(1 for r in collected if str(r["window_start"]).startswith("2024-01-01 00:00")) == 1
    )
    # the 06:00 window is still open (watermark = 06:30 - 2h) → absent
    assert ("2024-01-01 06:00:00", "click") not in rows


def test_streaming_with_merge_policy_bounds_generations(spark, tmp_path):
    """A long-running stream with max_generations keeps the store's
    generation count bounded (the reference's SpiderLoop never lets
    Rdb files accumulate unboundedly — RdbBase::attemptMerge fires as
    part of the add loop), and every drained doc stays searchable."""
    src = tmp_path / "srcp"
    idx = tmp_path / "idxp"
    ckpt = tmp_path / "ckptp"

    all_pdf = gen_corpus(n_docs=240)
    base = all_pdf[:120]
    base_df = spark.createDataFrame(base)
    builder.build_index(
        spark, base_df, idx, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )
    # three waves land before the drain; maxFilesPerTrigger=1 forces
    # one micro-batch (= one generation) per wave
    for lo, hi in ((120, 160), (160, 200), (200, 240)):
        spark.createDataFrame(all_pdf[lo:hi]).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    q = start_incremental_indexer(
        spark, src, idx, base_df.schema, ckpt,
        available_now=True, max_files_per_trigger=1, max_generations=2,
    )
    q.awaitTermination(300)
    assert len(merge.current_generations(idx)) <= 2
    got = wand.wand_topk(spark, idx, ["def"], k=1000, mode="or").toPandas()
    seen = set(got["doc_id"])
    for lo in (120, 160, 200):
        assert any(lo <= d < lo + 40 for d in seen), lo


def test_streaming_query_server(spark, tmp_path):
    """Queries arrive as a stream; each micro-batch is served by ONE
    QueryEngine.topk_batch job; results are rank-identical per query to
    wand_topk, and a second wave served from the same checkpoint after
    an add_documents commit appends its own batch partition, served
    from the committed store, without reprocessing wave 1."""
    import pandas as pd

    from open_source_search_engine_spark.streaming.query_server import (
        QUERY_STREAM_SCHEMA,
        read_results,
        start_query_server,
    )

    idx = tmp_path / "idx"
    qdir = tmp_path / "queries"
    rdir = tmp_path / "results"
    ckpt = tmp_path / "qckpt"

    docs = spark.createDataFrame(gen_corpus(n_docs=240))
    builder.build_index(
        spark, docs, idx, cfg=TEST_CFG, text_col="content", tokenizer_mode="code"
    )

    wave1 = [
        ("w1_and", ["def", "return"], "and"),
        ("w1_or", ["dup", "if"], "or"),
        ("w1_missing", ["def", "zzz_not_a_term"], "and"),
    ]
    spark.createDataFrame(wave1, QUERY_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(qdir))
    assert read_results(spark, rdir).count() == 0  # typed, before any batch
    q = start_query_server(spark, idx, qdir, rdir, ckpt, k=10)
    assert q.awaitTermination(180)

    def ranked(df):
        # the sink keeps no rank: order both sides by (score desc,
        # doc_id asc) so docs tied at the rounded score compare stably
        return (
            df.sort_values(["score", "doc_id"], ascending=[False, True])[
                ["doc_id", "score"]
            ]
            .reset_index(drop=True)
        )

    def served(res, qid):
        return ranked(res[res["query_id"] == qid])

    res = read_results(spark, rdir).toPandas()
    assert set(res["batch"]) == {0}
    for qid, terms, mode in wave1:
        want = wand.wand_topk(spark, idx, terms, k=10, mode=mode).toPandas()
        pd.testing.assert_frame_equal(served(res, qid), ranked(want), obj=qid)
    assert len(res[res["query_id"] == "w1_missing"]) == 0

    # a commit between the waves: one doc carrying a term no wave-1
    # query could find
    new_id = 10_000
    merge.add_documents(
        spark,
        spark.createDataFrame(
            pd.DataFrame({"doc_id": [new_id], "content": ["zzzwavetwo scan"]})
        ),
        idx,
    )

    # wave 2 from the SAME checkpoint: only the new file is served, on
    # the committed store
    wave2 = [("w2_single", ["scan"], "and"), ("w2_new", ["zzzwavetwo"], "and")]
    spark.createDataFrame(wave2, QUERY_STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(qdir))
    q2 = start_query_server(spark, idx, qdir, rdir, ckpt, k=10)
    assert q2.awaitTermination(180)

    res2 = read_results(spark, rdir).toPandas()
    assert set(res2["batch"]) == {0, 1}
    assert set(res2[res2["batch"] == 1]["query_id"]) == {"w2_single", "w2_new"}
    for qid, terms, mode in wave2:
        want = wand.wand_topk(spark, idx, terms, k=10, mode=mode).toPandas()
        pd.testing.assert_frame_equal(served(res2, qid), ranked(want), obj=qid)
    assert list(served(res2, "w2_new")["doc_id"]) == [new_id]


def test_batch_queries_rejects_duplicate_query_ids():
    """One micro-batch's rows → {query_id: (terms, mode)}; a query_id
    queued twice in one batch fails loudly instead of the last row
    silently winning."""
    from open_source_search_engine_spark.streaming.query_server import batch_queries

    rows = [
        {"query_id": "a", "terms": ["def"], "mode": "and"},
        {"query_id": "b", "terms": ["scan", "merge"], "mode": "or"},
    ]
    assert batch_queries(rows) == {"a": (["def"], "and"), "b": (["scan", "merge"], "or")}
    dup = rows + [{"query_id": "a", "terms": ["if"], "mode": "or"}]
    with pytest.raises(ValueError, match=r"duplicate query_id.*\['a'\]"):
        batch_queries(dup)
