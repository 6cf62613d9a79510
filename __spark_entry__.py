"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Every entry here maps to a SURVEY.md §2 operator; the Spark
implementation lives in open_source_search_engine_spark/ and the
DuckDB oracle text in plans/oracle_sql.py so the two stay in lockstep.

Entry packing: the driver verifies at most ~50 entries per round, so
operators that have BOTH a corpus-algebra and a segment-store
implementation are registered as ONE dual-path entry — the union of
both paths tagged with a ``path`` column ('corpus' | 'indexed'), the
oracle being the same SQL emitted once per path. A green row for such
an entry therefore proves BOTH implementations AND their rank
identity in a single driver check. Families of closely-related calls
(the three wand variants, the three ANN algorithms, the boolean-
expression queries, …) are likewise packed into one entry with a
``variant`` tag column. ``_finalize_queries``/``_finalize_oracles``
at the bottom of this file hold the packing spec.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from open_source_search_engine_spark.operators import bm25, boolean, facets, phrase, ranking
from open_source_search_engine_spark.operators import anchors, curate, dedup, events, multimodal, proximity, similarity, textstats
from open_source_search_engine_spark.operators.postings import doc_tokens
from open_source_search_engine_spark.operators.stats import doc_meta
from open_source_search_engine_spark.plans import oracle_sql as osql
from open_source_search_engine_spark.sources import table_io

FLAGSHIP_TERMS = ["join", "hash"]

_IDX_CACHE: dict[str, Path] = {}


def _segment_index(spark: SparkSession, sf_dir: str) -> Path:
    """Build the M3 segment store for sf_dir once per process; the
    wand_* and *_indexed queries below then exercise the REAL engine
    (segments + positions + doc_meta extras), each checked against the
    same oracle SQL as the DataFrame-algebra path — the driver
    enforces rank identity every round."""
    if sf_dir not in _IDX_CACHE:
        import tempfile

        from open_source_search_engine_spark.config import EngineConfig
        from open_source_search_engine_spark.index import builder as idx_builder

        d = Path(tempfile.mkdtemp(prefix="osse_seg_")) / "idx"
        docs = _docs(spark, sf_dir)
        idx_builder.build_index(
            spark,
            docs,
            d,
            cfg=EngineConfig(n_buckets=16, n_salts=4, block_size=64),
            text_col="text",
            extra_meta_cols=["lang", "source", "n_chars"],
            index_fields=["lang", "source"],
            # per-doc siteRank persisted into doc_meta from the link
            # graph at build time (J4/A6) — rank-boosted queries read
            # doc_meta only
            site_rank_edges=anchors.synthetic_edges(docs),
            site_col="source",
        )
        _IDX_CACHE[sf_dir] = d
    return _IDX_CACHE[sf_dir]


def _segment_index_anchored(spark: SparkSession, sf_dir: str) -> Path:
    """Second, smaller fixture store built with anchor_edges: inbound
    anchor text indexed into the target docs' termlists at build time
    (J3 — XmlDoc::hashIncomingLinkText). Serves the anchored BM25
    entry with zero query-time corpus work."""
    key = sf_dir + "#anchored"
    if key not in _IDX_CACHE:
        import tempfile

        from open_source_search_engine_spark.config import EngineConfig
        from open_source_search_engine_spark.index import builder as idx_builder

        d = Path(tempfile.mkdtemp(prefix="osse_anc_")) / "idx"
        docs = _docs(spark, sf_dir)
        idx_builder.build_index(
            spark,
            docs,
            d,
            cfg=EngineConfig(n_buckets=8, n_salts=2, block_size=64),
            text_col="text",
            anchor_edges=anchors.synthetic_edges(docs),
        )
        _IDX_CACHE[key] = d
    return _IDX_CACHE[key]


LSM_SUFFIX = " lsmupdated zzzlsm"


def _lsm_index(spark: SparkSession, sf_dir: str) -> Path:
    """LSM-lifecycle fixture (O2/S2, SURVEY.md §2.6/§2.10): gen-0 build
    → replace-mode add_documents for doc_id % 100 == 3 (text gains a
    marker suffix) → delete_documents for doc_id % 100 == 7. Queries
    against this store pin tombstone annihilation and generation-merge
    on the READ path (RdbList::merge_r negative keys) against oracles
    over the equivalently-mutated corpus."""
    key = sf_dir + "#lsm"
    if key not in _IDX_CACHE:
        import tempfile

        from open_source_search_engine_spark.config import EngineConfig
        from open_source_search_engine_spark.index import builder as idx_builder
        from open_source_search_engine_spark.index import merge as idx_merge

        d = Path(tempfile.mkdtemp(prefix="osse_lsm_")) / "idx"
        docs = _docs(spark, sf_dir)
        idx_builder.build_index(
            spark, docs, d,
            cfg=EngineConfig(n_buckets=8, n_salts=2, block_size=64),
            text_col="text",
        )
        upd = docs.filter(F.col("doc_id") % 100 == 3).withColumn(
            "text", F.concat(F.col("text"), F.lit(LSM_SUFFIX))
        )
        idx_merge.add_documents(spark, upd, d, replace=True)
        # DataFrame overload: mass deletes stay distributed (never
        # collected to the driver)
        idx_merge.delete_documents(
            spark, d, docs.filter(F.col("doc_id") % 100 == 7).select("doc_id")
        )
        _IDX_CACHE[key] = d
    return _IDX_CACHE[key]


def _lsm_autocompacted(spark: SparkSession, sf_dir: str) -> Path:
    """Store maintained by the AUTOMATIC tiered merge policy
    (merge.maybe_compact / merge_deltas — RdbBase::attemptMerge,
    SURVEY.md §1.1): base build over doc_id < 200, then continuous-
    ingest traffic confined to the DELTA tier — three adds (doc_id
    200-350 split 3 ways), a replace of doc_id in [200, 220) (text
    gains the marker suffix) and a delete of doc_id % 20 == 7 within
    [200, 300) — every mutation through ``max_generations=2``, forcing
    delta-tier merges along the way, and the store is left UNCOMPACTED.

    Format v2 + merge_deltas stats restoration make SCORED reads on
    this store hash-identical to a fresh build over the logical corpus
    (VERDICT r04 item 2): scores come from (tf, dl) + live stats at
    read time, and the merge swaps the merged deltas' raw df for the
    merged generation's block counts and recomputes n_docs/avgdl from
    the liveness view — exact because no BASE-generation doc is
    masked (base-doc mutations keep their raw df counted until
    compact, Lucene docFreq semantics). The merged_topk entry pins
    exactly that."""
    key = sf_dir + "#lsmauto"
    if key not in _IDX_CACHE:
        import tempfile

        from open_source_search_engine_spark.config import EngineConfig
        from open_source_search_engine_spark.index import builder as idx_builder
        from open_source_search_engine_spark.index import merge as idx_merge

        d = Path(tempfile.mkdtemp(prefix="osse_lsma_")) / "idx"
        docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 350)
        idx_builder.build_index(
            spark, docs.filter(F.col("doc_id") < 200), d,
            cfg=EngineConfig(n_buckets=8, n_salts=2, block_size=64),
            text_col="text",
        )
        for lo, hi in ((200, 250), (250, 300)):
            idx_merge.add_documents(
                spark,
                docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
                d,
                max_generations=2,
            )
        # delta-tier mutations: replace + delete docs that live only in
        # delta generations (never the base)...
        upd = docs.filter(
            (F.col("doc_id") >= 200) & (F.col("doc_id") < 220)
        ).withColumn("text", F.concat(F.col("text"), F.lit(LSM_SUFFIX)))
        idx_merge.add_documents(spark, upd, d, replace=True, max_generations=2)
        idx_merge.delete_documents(
            spark,
            d,
            docs.filter(
                (F.col("doc_id") >= 200)
                & (F.col("doc_id") < 300)
                & (F.col("doc_id") % 20 == 7)
            ).select("doc_id"),
        )
        # ...then one more policy add, whose triggered merge_deltas
        # drops the mutated postings' df and recomputes n_docs/avgdl
        # from the liveness view — the store ends UNCOMPACTED but
        # stats-exact
        merged = idx_merge.add_documents(
            spark,
            docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 350)),
            d,
            max_generations=2,
        )
        gens = idx_merge.current_generations(d)
        assert len(gens) <= 2 and gens[0] == 0, gens  # base untouched
        _IDX_CACHE[key] = d
    return _IDX_CACHE[key]


def _lsm_compacted(spark: SparkSession, sf_dir: str) -> Path:
    """The same mutated store after compact() — tombstones applied,
    exact stats recomputed (equivalent to a from-scratch build over
    the live set), so SCORED queries are oracle-comparable too."""
    key = sf_dir + "#lsmc"
    if key not in _IDX_CACHE:
        import shutil
        import tempfile

        from open_source_search_engine_spark.index import merge as idx_merge

        src = _lsm_index(spark, sf_dir)
        d = Path(tempfile.mkdtemp(prefix="osse_lsmc_")) / "idx"
        shutil.copytree(src, d)
        idx_merge.compact(spark, d)
        _IDX_CACHE[key] = d
    return _IDX_CACHE[key]


def _lsm_auto_oracle(sql: str) -> str:
    """Mutated-corpus CTE for the _lsm_autocompacted store: doc_id <
    350, docs [200, 220) text-suffixed, doc_id %% 20 == 7 in [200, 300)
    deleted — the exact delta-tier mutations applied above."""
    body = sql.lstrip()
    assert body.upper().startswith("WITH")
    return f"""WITH __base AS (SELECT * FROM main.documents),
documents AS (
  SELECT doc_id,
         CASE WHEN doc_id >= 200 AND doc_id < 220 THEN text || '{LSM_SUFFIX}' ELSE text END AS text,
         lang, source, n_chars
  FROM __base
  WHERE doc_id < 350
    AND NOT (doc_id >= 200 AND doc_id < 300 AND doc_id % 20 = 7)
),{body[4:]}"""


def _lsm_oracle(sql: str) -> str:
    """Wrap a standard oracle so its ``documents`` is the MUTATED
    corpus (CTE shadowing the view): doc_id % 100 == 7 deleted,
    doc_id % 100 == 3 text-suffixed — the exact mutations
    _lsm_index applies through add_documents/delete_documents."""
    body = sql.lstrip()
    assert body.upper().startswith("WITH")
    return f"""WITH __base AS (SELECT * FROM main.documents),
documents AS (
  SELECT doc_id,
         CASE WHEN doc_id % 100 = 3 THEN text || '{LSM_SUFFIX}' ELSE text END AS text,
         lang, source, n_chars
  FROM __base WHERE doc_id % 100 <> 7
),{body[4:]}"""


def _subset_oracle(sql: str, pred: str) -> str:
    """Wrap a standard oracle so ``documents`` is restricted to
    ``pred`` (CTE shadowing the registered view)."""
    body = sql.lstrip()
    assert body.upper().startswith("WITH")
    return (
        "WITH __base AS (SELECT * FROM main.documents),\n"
        f"documents AS (SELECT * FROM __base WHERE {pred}),{body[4:]}"
    )


def _stream_index(spark: SparkSession, sf_dir: str) -> Path:
    """Index built INCREMENTALLY by the Structured Streaming indexer
    (SURVEY.md §2.10): gen-0 batch build over doc_id < 100, then the
    availableNow file stream drains two parquet files (doc_id 100-199,
    200-299) as two micro-batches → two LSM generations via
    foreachBatch add_documents. Queries over it pin the
    generation-merged read path against oracles over the full
    doc_id < 300 corpus."""
    key = sf_dir + "#stream"
    if key not in _IDX_CACHE:
        import tempfile

        from open_source_search_engine_spark.config import EngineConfig
        from open_source_search_engine_spark.index import builder as idx_builder
        from open_source_search_engine_spark.streaming.incremental import (
            start_incremental_indexer,
        )

        base = Path(tempfile.mkdtemp(prefix="osse_stream_"))
        d, src, ckpt = base / "idx", base / "src", base / "ckpt"
        docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
        idx_builder.build_index(
            spark,
            docs.filter(F.col("doc_id") < 100),
            d,
            cfg=EngineConfig(n_buckets=8, n_salts=2, block_size=64),
            text_col="text",
        )
        for lo, hi in ((100, 200), (200, 300)):
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).coalesce(1).write.mode("append").parquet(str(src))
        q = start_incremental_indexer(
            spark, src, d, docs.schema, ckpt,
            replace=False, available_now=True, max_files_per_trigger=1,
        )
        q.awaitTermination()
        _IDX_CACHE[key] = d
    return _IDX_CACHE[key]


def _wand_q(terms: list[str], mode: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from open_source_search_engine_spark.index import wand as idx_wand

        return idx_wand.wand_topk(spark, _segment_index(spark, sf_dir), terms, k=10, mode=mode)

    return run


STOPWORDS_FIXTURE = ("a", "the")  # present in the fixture vocab; no doc is all-stopword

# pinned batch for wand_topk_batch — the three single-query wand
# entries served from ONE scan/job (concurrent-load amortization)
BATCH_QUERIES = {
    "and2": (FLAGSHIP_TERMS, "and"),
    "or2": (["dup", "merge"], "or"),
    "or3": (["dup", "key", "scan"], "or"),
}


def _wand_batch_q():
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from open_source_search_engine_spark.index import wand as idx_wand

        return idx_wand.wand_topk_batch(
            spark, _segment_index(spark, sf_dir), BATCH_QUERIES, k=10
        )

    return run


def _streaming_query_q():
    """The SAME pinned batch served through the Structured Streaming
    query server (streaming/query_server.py): queries land as a file
    stream, one availableNow micro-batch serves them via the server's
    QueryEngine.topk_batch, results read back from the sink — end-to-end
    stream-serving path, same oracle as the batch entry."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        from open_source_search_engine_spark.streaming.query_server import (
            QUERY_STREAM_SCHEMA,
            read_results,
            start_query_server,
        )

        idx = _segment_index(spark, sf_dir)
        work = Path(tempfile.mkdtemp(prefix="osse_qserve_"))
        rows = [(qid, terms, mode) for qid, (terms, mode) in BATCH_QUERIES.items()]
        spark.createDataFrame(rows, QUERY_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(work / "queries"))
        q = start_query_server(
            spark, idx, work / "queries", work / "results", work / "ckpt", k=10
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("query server did not drain its backlog in 300 s")
        return read_results(spark, work / "results").select(
            "query_id", "doc_id", "score"
        )

    return run


def _segment_index_stopworded(spark: SparkSession, sf_dir: str) -> Path:
    """Store built with stopwords enabled (X6 — Words.cpp isStopWord /
    the indexable-word filter): doc_len, df and avgdl all reflect the
    KEPT token stream, so scores differ from the plain store and the
    oracle must filter identically (oracle_sql._prelude(stopwords))."""
    key = sf_dir + "#stop"
    if key not in _IDX_CACHE:
        import tempfile

        from open_source_search_engine_spark.config import EngineConfig
        from open_source_search_engine_spark.index import builder as idx_builder

        d = Path(tempfile.mkdtemp(prefix="osse_stop_")) / "idx"
        idx_builder.build_index(
            spark,
            _docs(spark, sf_dir),
            d,
            cfg=EngineConfig(
                n_buckets=8,
                n_salts=2,
                block_size=64,
                stopwords=frozenset(STOPWORDS_FIXTURE),
            ),
            text_col="text",
        )
        _IDX_CACHE[key] = d
    return _IDX_CACHE[key]


def _wand_stopworded_q(terms: list[str], mode: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from open_source_search_engine_spark.index import wand as idx_wand

        return idx_wand.wand_topk(
            spark, _segment_index_stopworded(spark, sf_dir), terms, k=10, mode=mode
        )

    return run


def _idx_q(fn_name: str, **kwargs):
    """Driver entry for an operators.indexed function, bound to the
    per-sf segment store."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from open_source_search_engine_spark.operators import indexed

        return getattr(indexed, fn_name)(spark, _segment_index(spark, sf_dir), **kwargs)

    return run


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 for a 2-term AND query on sf0.001."""
    return bm25.bm25_topk_oracle(_docs(spark, "/root/testdata/sf0.001"), FLAGSHIP_TERMS, k=10)


def raw_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The unpacked per-implementation callables (one per path /
    variant, 78 total). bench.py times these so its numbers stay
    comparable across rounds; the driver sees the packed queries()."""
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # --- full-text core (SURVEY §2.2-2.7) ---
        "bm25_topk": lambda s, d: bm25.bm25_topk_oracle(_docs(s, d), FLAGSHIP_TERMS, k=10),
        "bm25_topk_or": lambda s, d: bm25.bm25_topk_oracle(
            _docs(s, d), ["dup", "merge"], k=10, mode="or"
        ),
        "bm25_lang_filter": lambda s, d: bm25.bm25_topk_oracle(
            _docs(s, d), FLAGSHIP_TERMS, k=10,
            candidate_filter=(_lang_col() == "en"),
        ),
        "term_lookup": lambda s, d: boolean.term_lookup(_docs(s, d), "dup"),
        "and_intersect": lambda s, d: boolean.and_intersect(_docs(s, d), ["join", "hash", "scan"]),
        "or_union": lambda s, d: boolean.or_union(_docs(s, d), ["dup", "key"]),
        "not_exclude": lambda s, d: boolean.not_exclude(_docs(s, d), "dup", "join"),
        "numeric_range": lambda s, d: boolean.numeric_range(
            _docs(s, d), "dup", "n_chars", 100, 300
        ),
        "facets_lang": lambda s, d: facets.facet_counts(_docs(s, d), ["dup"], "lang"),
        "facets_nchars_range": lambda s, d: facets.facet_ranges(
            _docs(s, d), ["dup"], "n_chars", 100
        ),
        "facets_nchars_range_indexed": _idx_q(
            "facet_ranges", terms=["dup"], facet_col="n_chars", bucket_width=100
        ),
        "term_stats": lambda s, d: _term_stats_q(s, d),
        "doc_meta_invariant": lambda s, d: _doc_meta_q(s, d),
        "topk_sitecap": lambda s, d: ranking.topk_sitecap(_docs(s, d), FLAGSHIP_TERMS, k=10, cap=2),
        "pagination": lambda s, d: ranking.paginate(_docs(s, d), FLAGSHIP_TERMS, offset=10, limit=10),
        "sortby_field": lambda s, d: ranking.sort_by_field(_docs(s, d), ["dup"], "n_chars", k=10),
        "phrase_bigram": lambda s, d: phrase.phrase_bigram(_docs(s, d), "join", "hash"),
        # --- segment-store engine (M3/M4): same oracle as the
        # DataFrame BM25 path ⇒ driver-verified rank identity ---
        "wand_topk": _wand_q(FLAGSHIP_TERMS, "and"),
        "wand_topk_or": _wand_q(["dup", "merge"], "or"),
        "wand_topk_3term": _wand_q(["dup", "key", "scan"], "or"),
        # X6: same query against the stopworded store — doc_len/df/
        # avgdl all change, the oracle filters the same stopword set
        "wand_topk_stopworded": _wand_stopworded_q(FLAGSHIP_TERMS, "and"),
        # concurrent-load shape: the three queries above in ONE job
        # (one pruned scan over the union of term buckets, per-query
        # kernel, per-query merge) — must be rank-identical per query
        "wand_topk_batch": _wand_batch_q(),
        # the same batch through the Structured Streaming query server
        # (query file stream → foreachBatch QueryEngine.topk_batch → sink)
        "streaming_query_topk": _streaming_query_q(),
        # --- index-backed operators (index/lists.py + operators/
        # indexed.py): the SAME oracles as the corpus-algebra entries
        # above, but served entirely from the segment store — decoded
        # lists, persisted positions, doc_meta metadata joins. Nothing
        # re-tokenizes the corpus at query time. ---
        "term_lookup_indexed": _idx_q("term_lookup", term="dup"),
        "and_intersect_indexed": _idx_q("and_intersect", terms=["join", "hash", "scan"]),
        "or_union_indexed": _idx_q("or_union", terms=["dup", "key"]),
        "not_exclude_indexed": _idx_q("not_exclude", term="dup", minus="join"),
        "numeric_range_indexed": _idx_q(
            "numeric_range", term="dup", col="n_chars", lo=100, hi=300
        ),
        "facets_lang_indexed": _idx_q("facet_counts", terms=["dup"], facet_col="lang"),
        "sortby_field_indexed": _idx_q(
            "sort_by_field", terms=["dup"], sort_col="n_chars", k=10
        ),
        "topk_sitecap_indexed": _idx_q("topk_sitecap", terms=FLAGSHIP_TERMS, k=10, cap=2),
        "pagination_indexed": _idx_q("paginate", terms=FLAGSHIP_TERMS, offset=10, limit=10),
        "phrase_bigram_indexed": _idx_q("phrase_bigram", w1="join", w2="hash"),
        # full-chain n-gram phrase (strict: consecutive positions for
        # ALL words — stronger than the pairwise constraint qlang uses)
        "phrase_trigram_indexed": lambda s, d: _trigram_q(s, d),
        "bm25_topk_indexed": _idx_q("bm25_topk", terms=FLAGSHIP_TERMS, k=10, mode="and"),
        "bm25_lang_filter_indexed": _idx_q(
            "bm25_topk_field", terms=FLAGSHIP_TERMS, field="lang", value="en", k=10
        ),
        # --- presentation (SURVEY §2.9 P1-P3) + direct lookup (§3.3) ---
        "search_snippets": lambda s, d: _snippets_q(s, d),
        "search_snippets_indexed": lambda s, d: _snippets_idx_q(s, d),
        "doc_lookup": lambda s, d: _doc_lookup_q(s, d),
        # --- query-language front end (Query.cpp set2; §2.2 F1-F5) ---
        "query_language": lambda s, d: _qlang_q(s, d),
        "query_language_phrase": lambda s, d: _qlang_phrase_q(s, d),
        "query_language_synonyms": lambda s, d: _qlang_syn_q(s, d, indexed=False),
        "query_language_synonyms_indexed": lambda s, d: _qlang_syn_q(s, d, indexed=True),
        "query_language_dictionary": lambda s, d: _qlang_dict_q(s, d),
        # --- nested boolean expressions (Query.cpp Expression, F5) ---
        "bool_expr": lambda s, d: _bool_q(s, d, BOOL_Q1, False),
        "bool_expr_nested": lambda s, d: _bool_q(s, d, BOOL_Q2, False),
        "bool_expr_indexed": lambda s, d: _bool_q(s, d, BOOL_Q1, True),
        # --- synonym OR-groups (SURVEY §2.8 X5) ---
        "bm25_synonyms": lambda s, d: bm25.bm25_grouped(
            _docs(s, d), [["join", "merge"], ["hash"]], k=10
        ),
        # --- LSM lifecycle (O2/S2, §2.10): add/replace/delete served
        # through generation merge + tombstones, then compact ---
        "lsm_update_contains": lambda s, d: _lsm_q(s, d, "contains"),
        "lsm_delete_and_intersect": lambda s, d: _lsm_q(s, d, "and"),
        "lsm_update_topk": lambda s, d: _lsm_q(s, d, "topk"),
        # automatic tiered merge policy (maybe_compact): 3 deltas
        # through max_generations=2, membership read on the result
        "lsm_autocompact_contains": lambda s, d: _lsm_q(s, d, "autocompact"),
        # scored top-k on the UNCOMPACTED policy-merged store — pins
        # that v2 read-time scoring + merge_deltas stats restoration
        # give exact BM25 under continuous delta-tier ingest
        "lsm_merged_topk": lambda s, d: _lsm_q(s, d, "merged_topk"),
        # --- streaming incremental build (§2.10): generations written
        # by the availableNow file stream, positions served merged ---
        "streaming_incremental_phrase": lambda s, d: _stream_phrase_q(s, d),
    }
    q.update(anchors.driver_queries())
    q.update(curate.driver_queries())
    q.update(table_io.driver_queries())
    q.update(events.driver_queries())
    q.update(proximity.driver_queries())
    q.update(dedup.driver_queries())
    q.update(multimodal.driver_queries())
    q.update(similarity.driver_queries())
    q.update(textstats.driver_queries())
    return q


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _finalize_queries(raw_queries())


def oracle_sql() -> dict[str, str]:
    o = {
        "bm25_topk": osql.bm25_topk_sql(FLAGSHIP_TERMS, k=10, mode="and"),
        "bm25_topk_or": osql.bm25_topk_sql(["dup", "merge"], k=10, mode="or"),
        "bm25_lang_filter": osql.bm25_topk_sql(FLAGSHIP_TERMS, k=10, mode="and", lang="en"),
        "term_lookup": osql.term_lookup_sql("dup"),
        "and_intersect": osql.and_intersect_sql(["join", "hash", "scan"]),
        "or_union": osql.or_union_sql(["dup", "key"]),
        "not_exclude": osql.not_exclude_sql("dup", "join"),
        "numeric_range": osql.numeric_range_sql("dup", 100, 300),
        "facets_lang": osql.facets_sql(["dup"], "lang"),
        "facets_nchars_range": osql.facets_range_sql(["dup"], "n_chars", 100),
        "facets_nchars_range_indexed": osql.facets_range_sql(["dup"], "n_chars", 100),
        "term_stats": osql.term_stats_sql(),
        "doc_meta_invariant": osql.doc_meta_sql(),
        "topk_sitecap": osql.topk_sitecap_sql(FLAGSHIP_TERMS, k=10, cap=2),
        "pagination": osql.pagination_sql(FLAGSHIP_TERMS, offset=10, limit=10),
        "sortby_field": osql.sortby_sql(["dup"], "n_chars", k=10),
        "phrase_bigram": osql.phrase_bigram_sql("join", "hash"),
        "wand_topk": osql.bm25_topk_sql(FLAGSHIP_TERMS, k=10, mode="and"),
        "wand_topk_or": osql.bm25_topk_sql(["dup", "merge"], k=10, mode="or"),
        "wand_topk_3term": osql.bm25_topk_sql(["dup", "key", "scan"], k=10, mode="or"),
        "wand_topk_stopworded": osql.bm25_topk_sql(
            FLAGSHIP_TERMS, k=10, mode="and", stopwords=STOPWORDS_FIXTURE
        ),
        "wand_topk_batch": osql.bm25_topk_batch_sql(BATCH_QUERIES, k=10),
        "streaming_query_topk": osql.bm25_topk_batch_sql(BATCH_QUERIES, k=10),
        # indexed twins: IDENTICAL oracles to the corpus-algebra
        # entries — the driver proves the segment store serves every
        # operator with the same answers
        "term_lookup_indexed": osql.term_lookup_sql("dup"),
        "and_intersect_indexed": osql.and_intersect_sql(["join", "hash", "scan"]),
        "or_union_indexed": osql.or_union_sql(["dup", "key"]),
        "not_exclude_indexed": osql.not_exclude_sql("dup", "join"),
        "numeric_range_indexed": osql.numeric_range_sql("dup", 100, 300),
        "facets_lang_indexed": osql.facets_sql(["dup"], "lang"),
        "sortby_field_indexed": osql.sortby_sql(["dup"], "n_chars", k=10),
        "topk_sitecap_indexed": osql.topk_sitecap_sql(FLAGSHIP_TERMS, k=10, cap=2),
        "pagination_indexed": osql.pagination_sql(FLAGSHIP_TERMS, offset=10, limit=10),
        "phrase_bigram_indexed": osql.phrase_bigram_sql("join", "hash"),
        "phrase_trigram_indexed": _trigram_sql(TRIGRAM),
        "bm25_topk_indexed": osql.bm25_topk_sql(FLAGSHIP_TERMS, k=10, mode="and"),
        "bm25_lang_filter_indexed": osql.bm25_topk_sql(
            FLAGSHIP_TERMS, k=10, mode="and", lang="en"
        ),
        "search_snippets": osql.snippets_sql(FLAGSHIP_TERMS, k=10, mode="and"),
        "search_snippets_indexed": osql.snippets_sql(FLAGSHIP_TERMS, k=10, mode="and"),
        "doc_lookup": osql.doc_lookup_sql(42),
        "query_language": _qlang_sql(QLANG_Q),
        "query_language_phrase": _qlang_sql(QLANG_PHRASE_Q),
        "query_language_synonyms": _qlang_sql(QLANG_SYN_Q),
        "query_language_synonyms_indexed": _qlang_sql(QLANG_SYN_Q),
        "query_language_dictionary": _qlang_dict_sql(),
        "bool_expr": _bool_sql(BOOL_Q1),
        "bool_expr_nested": _bool_sql(BOOL_Q2),
        "bool_expr_indexed": _bool_sql(BOOL_Q1),
        "bm25_synonyms": osql.bm25_grouped_sql([["join", "merge"], ["hash"]], k=10),
        # LSM lifecycle: standard oracles over the CTE-mutated corpus
        "lsm_update_contains": _lsm_oracle(osql.term_lookup_sql("zzzlsm")),
        "lsm_delete_and_intersect": _lsm_oracle(
            osql.and_intersect_sql(["join", "hash", "scan"])
        ),
        "lsm_autocompact_contains": _lsm_auto_oracle(osql.term_lookup_sql("join")),
        "lsm_merged_topk": _lsm_auto_oracle(
            osql.bm25_topk_sql(FLAGSHIP_TERMS, k=10)
        ),
        "lsm_update_topk": _lsm_oracle(osql.bm25_topk_sql(FLAGSHIP_TERMS, k=10)),
        "streaming_incremental_phrase": _subset_oracle(
            osql.phrase_bigram_sql("join", "hash"), "doc_id < 300"
        ),
    }
    o.update(anchors.driver_oracles())
    o.update(curate.driver_oracles())
    o.update(table_io.driver_oracles())
    o.update(events.driver_oracles())
    o.update(proximity.driver_oracles())
    o.update(dedup.driver_oracles())
    o.update(multimodal.driver_oracles())
    o.update(similarity.driver_oracles())
    o.update(textstats.driver_oracles())
    return _finalize_oracles(o)


QLANG_Q = "join +hash -dup lang:en"
# dictionary-driven synonym expansion (X5 — Synonyms.cpp): the raw
# query has NO explicit OR-groups; expand_synonyms rewrites it through
# the broadcast-scale (term, synonym) table below into the a|b grammar
QLANG_DICT_Q = "join hash scan -dup"
SYN_DICT = {"join": ["merge"], "scan": ["key"]}
QLANG_PHRASE_Q = '"join hash" scan'
# synonym OR-group syntax (X5 through the front end — VERDICT r02
# missing #4): join|merge is one AND unit, composed with a negative
# term and a metadata filter in the same query
QLANG_SYN_Q = "join|merge hash -dup lang:en"
BOOL_Q1 = "(join OR hash) AND NOT (dup OR key)"
BOOL_Q2 = "(scan AND key) OR (merge AND NOT dup)"
TRIGRAM = ["stream", "table", "hash"]


def _trigram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_source_search_engine_spark.index import lists

    return lists.phrase_docs(
        spark, _segment_index(spark, sf_dir), TRIGRAM
    ).orderBy("doc_id")


def _trigram_sql(words: list[str]) -> str:
    joins = []
    for i, w in enumerate(words[1:], start=1):
        ww = w.replace("'", "''")
        joins.append(
            f"JOIN (SELECT doc_id, pos FROM ptoks WHERE term = '{ww}') t{i}\n"
            f"  ON t0.doc_id = t{i}.doc_id AND t{i}.pos = t0.pos + {i}"
        )
    w0 = words[0].replace("'", "''")
    return f"""WITH ptoks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term,
         generate_subscripts(string_split(lower(text), ' '), 1) AS pos
  FROM documents
)
SELECT DISTINCT t0.doc_id
FROM (SELECT doc_id, pos FROM ptoks WHERE term = '{w0}') t0
{chr(10).join(joins)}
ORDER BY t0.doc_id"""


def _lsm_q(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    from open_source_search_engine_spark.operators import indexed

    if kind == "contains":
        # replaced docs carry the marker term in their gen-1 postings
        return indexed.term_lookup(spark, _lsm_index(spark, sf_dir), "zzzlsm")
    if kind == "and":
        # deleted docs must be annihilated by tombstones at read time
        return indexed.and_intersect(
            spark, _lsm_index(spark, sf_dir), ["join", "hash", "scan"]
        )
    if kind == "autocompact":
        return indexed.term_lookup(spark, _lsm_autocompacted(spark, sf_dir), "join")
    if kind == "merged_topk":
        # scored, UNcompacted, policy-merged (VERDICT r04 item 2)
        return indexed.bm25_topk(
            spark, _lsm_autocompacted(spark, sf_dir), FLAGSHIP_TERMS, k=10
        )
    # scored top-k on the compacted store (exact stats over live set)
    return indexed.bm25_topk(
        spark, _lsm_compacted(spark, sf_dir), FLAGSHIP_TERMS, k=10
    )


def _stream_phrase_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_source_search_engine_spark.index import lists

    return lists.phrase_docs(
        spark, _stream_index(spark, sf_dir), ["join", "hash"]
    ).orderBy("doc_id")


def _bool_q(spark: SparkSession, sf_dir: str, q: str, use_index: bool) -> DataFrame:
    from open_source_search_engine_spark.plans import boolean_expr

    if use_index:
        return boolean_expr.evaluate_indexed(spark, _segment_index(spark, sf_dir), q)
    return boolean_expr.evaluate(_docs(spark, sf_dir), q)


def _bool_sql(q: str) -> str:
    from open_source_search_engine_spark.plans import boolean_expr

    return boolean_expr.to_sql(q)


def _snippets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_source_search_engine_spark.operators import snippets

    return snippets.search_with_snippets(_docs(spark, sf_dir), FLAGSHIP_TERMS, k=10)


def _snippets_idx_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_source_search_engine_spark.operators import snippets

    return snippets.search_with_snippets_indexed(
        spark, _segment_index(spark, sf_dir), _docs(spark, sf_dir), FLAGSHIP_TERMS, k=10
    )


def _doc_lookup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_source_search_engine_spark.operators import snippets

    return snippets.doc_lookup(_docs(spark, sf_dir), 42)


def _qlang_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rerouted through the segment store (VERDICT r01 item 1): the
    # front end compiles onto decoded lists + persisted positions +
    # doc_meta filters; same DuckDB oracle as before proves identity.
    from open_source_search_engine_spark.plans import query_language

    return query_language.execute_indexed(spark, _segment_index(spark, sf_dir), QLANG_Q, k=10)


def _qlang_phrase_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_source_search_engine_spark.plans import query_language

    return query_language.execute_indexed(
        spark, _segment_index(spark, sf_dir), QLANG_PHRASE_Q, k=10
    )


def _qlang_dict_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the production shape: the dictionary arrives as a (term, synonym)
    # TABLE; expand_synonyms collects it (vocabulary-scale metadata)
    # and rewrites the raw query into the OR-group grammar, compiled
    # onto the segment store
    from open_source_search_engine_spark.plans import query_language

    syn_df = spark.createDataFrame(
        [(t, s) for t, ss in SYN_DICT.items() for s in ss], "term string, synonym string"
    )
    expanded = query_language.expand_synonyms(QLANG_DICT_Q, syn_df)
    return query_language.execute_indexed(
        spark, _segment_index(spark, sf_dir), expanded, k=10
    )


def _qlang_syn_q(spark: SparkSession, sf_dir: str, indexed: bool) -> DataFrame:
    # X5 reachable from the query string (a|b OR-groups): both the
    # corpus-algebra and segment-store compilations, one shared oracle
    from open_source_search_engine_spark.plans import query_language

    if indexed:
        return query_language.execute_indexed(
            spark, _segment_index(spark, sf_dir), QLANG_SYN_Q, k=10
        )
    return query_language.execute(_docs(spark, sf_dir), QLANG_SYN_Q, k=10)


def _qlang_sql(q: str) -> str:
    from open_source_search_engine_spark.plans import query_language

    return query_language.sql(q, k=10)


def _qlang_dict_sql() -> str:
    # the oracle applies the IDENTICAL string-level expansion (dict
    # form — deterministic) and emits the grouped-BM25 SQL
    from open_source_search_engine_spark.plans import query_language

    return query_language.sql(
        query_language.expand_synonyms(QLANG_DICT_Q, SYN_DICT), k=10
    )


# -- helpers (kept tiny; real logic lives in the package) --

def _lang_col():
    from pyspark.sql import functions as F

    return F.col("lang")


def _term_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from open_source_search_engine_spark.operators.stats import term_stats
    from open_source_search_engine_spark.operators.postings import postings

    docs = _docs(spark, sf_dir)
    posts = postings(doc_tokens(docs), with_positions=False)
    return term_stats(posts).select("term", "df").orderBy("term")


def _doc_meta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = doc_tokens(docs)
    return doc_meta(docs, toks).select("doc_id", "doc_len", "content_sha256").orderBy("doc_id")


# -- entry packing (see module docstring): keep the verified surface
#    at 75 implementations while staying under the driver's ~50-entry
#    budget. A dual-path entry is green only if BOTH the corpus-algebra
#    and the segment-store path hash-match the shared oracle. --

# operators with twin implementations: base name + "<base>_indexed"
_DUAL = [
    "bm25_topk",
    "bm25_lang_filter",
    "term_lookup",
    "and_intersect",
    "or_union",
    "not_exclude",
    "numeric_range",
    "facets_lang",
    "facets_nchars_range",
    "topk_sitecap",
    "pagination",
    "sortby_field",
    "phrase_bigram",
    "search_snippets",
    "query_language_synonyms",
    "proximity_topk",
    "anchor_text_topk",
    "site_rank_boosted_topk",
]

# families packed under one name with a `variant` tag column;
# each part keeps its own oracle SQL
_SUITES: dict[str, list[tuple[str, str]]] = {
    "wand_topk": [
        ("and2", "wand_topk"),
        ("or2", "wand_topk_or"),
        ("or3", "wand_topk_3term"),
        ("stop", "wand_topk_stopworded"),
        # the same three queries through the ONE-job batch API: carries
        # an extra query_id column, union-aligned by name (NULL on the
        # single-query variants — the ann suite's ivf_batch pattern)
        ("batch", "wand_topk_batch"),
        # and through the Structured Streaming query server end to end
        ("stream", "streaming_query_topk"),
    ],
    "query_language": [
        ("basic", "query_language"),
        ("phrase", "query_language_phrase"),
        ("dictionary", "query_language_dictionary"),
    ],
    "bool_expr": [
        ("q1_corpus", "bool_expr"),
        ("q1_indexed", "bool_expr_indexed"),
        ("q2_corpus", "bool_expr_nested"),
    ],
    "ann_topk": [
        ("brute", "ann_cosine_topk"),
        ("lsh", "ann_lsh_topk"),
        ("ivf", "ann_ivf_topk"),
        # incremental ingest: build on half, ivf_add the rest, probe
        ("ivf_add", "ann_ivf_add_topk"),
        # batched probe join over the same prebuilt store: carries an
        # extra query_id column, union-aligned by name (NULL elsewhere)
        ("ivf_batch", "ann_ivf_knn_join"),
    ],
    # the two near-dup PAIR producers share a schema — one suite
    "dedup_pairs": [
        ("jaccard", "dedup_ngram_jaccard"),
        ("minhash_lsh", "dedup_minhash_lsh"),
    ],
    # signatures (doc_id, simhash) and pairs (doc_id_a/b, hamming)
    # union BY NAME — disjoint columns null-pad each other
    "simhash": [
        ("signatures", "simhash_signatures"),
        ("near_dup", "simhash_near_dup"),
    ],
    # LSM lifecycle membership: tf exists only for the term-lookup
    # variants (BY NAME union null-pads delete_and)
    "lsm_membership": [
        ("update_contains", "lsm_update_contains"),
        ("delete_and", "lsm_delete_and_intersect"),
        ("autocompact_contains", "lsm_autocompact_contains"),
        # SCORED top-k on the uncompacted policy-merged store (score
        # column null-pads the membership variants)
        ("merged_topk", "lsm_merged_topk"),
    ],
}


def _dual_path(fc, fi):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        a = fc(spark, sf_dir).withColumn("path", F.lit("corpus"))
        b = fi(spark, sf_dir).withColumn("path", F.lit("indexed"))
        return a.unionByName(b)

    return run


def _variant_union(fns):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = None
        for v, fn in fns:
            df = fn(spark, sf_dir).withColumn("variant", F.lit(v))
            # name-aligned union: a variant with extra columns (e.g.
            # ann ivf_batch's query_id) null-pads the others, exactly
            # like the oracle's UNION ALL BY NAME
            out = df if out is None else out.unionByName(df, allowMissingColumns=True)
        return out

    return run


def _sub(sql: str, label_col: str, label: str) -> str:
    return f"SELECT '{label}' AS {label_col}, * FROM (\n{sql}\n)"


def _finalize_queries(q):
    for base in _DUAL:
        q[base] = _dual_path(q.pop(base), q.pop(base + "_indexed"))
    for new, parts in _SUITES.items():
        q[new] = _variant_union([(v, q.pop(n)) for v, n in parts])
    # token_counts_bpe's output carries the whitespace n_tokens column
    # verbatim, so the plain entry is subsumed
    q.pop("token_counts")
    q["token_counts"] = q.pop("token_counts_bpe")
    return q


def _finalize_oracles(o):
    for base in _DUAL:
        sql = o.pop(base)
        o.pop(base + "_indexed")
        o[base] = (
            _sub(sql, "path", "corpus") + "\nUNION ALL\n" + _sub(sql, "path", "indexed")
        )
    for new, parts in _SUITES.items():
        sqls = [(v, o.pop(n)) for v, n in parts]
        o[new] = "\nUNION ALL BY NAME\n".join(_sub(s, "variant", v) for v, s in sqls)
    o.pop("token_counts")
    o["token_counts"] = o.pop("token_counts_bpe")
    return o
