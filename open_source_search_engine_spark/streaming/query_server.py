"""Continuous query serving — the Spark-native analog of the
reference's query front end (SURVEY.md §2.6: Msg39 fans a user query
to every shard and Msg3a merges the per-shard top-k; the reference
serves a CONCURRENT STREAM of such queries per host).

Spark has no per-request RPC loop; its concurrency unit is the
micro-batch. So the serving shape is:

    readStream over a query feed (new parquet files = newly arrived
    queries — on a real deployment this is the Kafka topic a frontend
    writes to)
      → foreachBatch: ALL queries of the micro-batch served by ONE
          QueryEngine.topk_batch job on the server's one warm engine
          (one pruned scan over the union of their term buckets,
          per-query kernel, per-query merge — rank-identical per query
          to independent wand_topk calls). The engine's commit-stamp
          auto-refresh keeps every batch on the committed store without
          re-listing it per batch.
      → results appended to a sink table keyed by (query_id, batch)

Amortization is the point (BENCH.md §r05 batched: 10.8× the serial
QPS at sf0.1, 2.7× at sf1): the per-job costs are paid once per
micro-interval instead of once per query, and the data costs (scan,
shuffle) were already shared.

Exactly-once: foreachBatch + the streaming checkpoint give
at-least-once batch delivery; the sink write is idempotent per batch
because results are deterministic for a given (index state, query
set) and re-delivery overwrites its own batch partition
(``batch=<id>`` dynamic overwrite) — the standard foreachBatch
idempotence pattern.

QUERY_STREAM_SCHEMA rows: (query_id string, terms array<string>,
mode string); a query_id is unique within one micro-batch (a duplicate
fails the batch). Queries are metadata-scale; collecting one micro-batch
of them to the driver is the same class of work as the term-dict
lookup every query already does.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from open_source_search_engine_spark.index.engine import QueryEngine
from open_source_search_engine_spark.session import local_frame

QUERY_STREAM_SCHEMA = StructType(
    [
        StructField("query_id", StringType(), False),
        StructField("terms", ArrayType(StringType()), False),
        StructField("mode", StringType(), False),
    ]
)


def batch_queries(rows) -> dict[str, tuple[list[str], str]]:
    """{query_id: (terms, mode)} for one micro-batch's rows. Results are
    keyed by query_id, so an id queued twice in one batch would have
    all but one of its queries silently dropped: raise instead."""
    counts = Counter(r["query_id"] for r in rows)
    dups = sorted(q for q, n in counts.items() if n > 1)
    if dups:
        raise ValueError(f"duplicate query_id in one micro-batch: {dups}")
    return {r["query_id"]: (list(r["terms"]), r["mode"]) for r in rows}


def start_query_server(
    spark: SparkSession,
    index_dir: str | Path,
    query_dir: str | Path,
    result_dir: str | Path,
    checkpoint_dir: str | Path,
    k: int = 10,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Serve a stream of queries from ``query_dir`` into
    ``result_dir`` (parquet, partitioned by micro-batch id).

    ``available_now=True`` drains the queries currently queued and
    stops (the request-backlog mode the driver test uses); ``False``
    keeps serving micro-batches as queries arrive."""
    result_dir = Path(result_dir)
    engine = QueryEngine(spark, index_dir)
    reader = spark.readStream.schema(QUERY_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(str(query_dir))

    def process_batch(batch_df, batch_id: int) -> None:
        rows = batch_df.collect()
        if not rows:
            return
        out = engine.topk_batch(batch_queries(rows), k=k)
        # idempotent re-delivery: each batch owns its partition dir
        # (batch becomes a partition column at read time via basePath)
        out.write.mode("overwrite").parquet(
            str(result_dir / f"batch={int(batch_id)}")
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", str(checkpoint_dir))
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


RESULT_SCHEMA = "query_id string, doc_id long, score double, batch int"


def read_results(spark: SparkSession, result_dir: str | Path):
    """(query_id, doc_id, score, batch) — the served result log; empty
    (same columns) before the first batch lands."""
    if not any(Path(result_dir).glob("batch=*")):
        return local_frame(spark, RESULT_SCHEMA)
    return spark.read.option("basePath", str(result_dir)).parquet(
        str(Path(result_dir) / "batch=*")
    )
