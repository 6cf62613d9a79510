"""QueryEngine — a warm handle over one index for repeated queries.

The reference keeps termlist metadata and hot lists in RdbCache
(RdbCache.cpp, SURVEY.md §4 'list caching'); the Spark analog is an
index handle that plans live doc_meta and takes the tombstone snapshot
(index/tombstones.py) once per commit instead of once per call. It IS
a ``lists.ColdIndex`` — the term lookup (driver-side pyarrow read of
the term-sorted dictionary, no Spark job) and both scans are the cold
handle's own. A small scan (touched segment files ≤
``lists.SMALL_SCAN_MAX_BYTES``, small tombstones) is a driver-side
pyarrow read, so a warm small top-k, phrase or query-language query
(``query``; one without a filter on a non-indexed doc_meta column)
starts no Spark job: its final frame (columns, order, rounded scores)
is built in the driver and returned as one local DataFrame, so
``topk``, ``topk_batch`` and ``query`` add no projection to it. A
large scan reads the Spark ``segments`` listing lazily, once per
commit. Every
operator that takes an index path takes the engine instead: top-k
(``wand.topk``, the one top-k implementation), boolean/facets/sort/
pagination, phrase, the query language and nested boolean expressions.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from open_source_search_engine_spark.index import tombstones as T
from open_source_search_engine_spark.index import wand as W
from open_source_search_engine_spark.index.builder import load_meta
from open_source_search_engine_spark.index.lists import ColdIndex


class QueryEngine(ColdIndex):
    """``auto_refresh=True`` (default) re-checks the store's commit
    markers (meta.json mtime + tombstone dir state — two stats) at
    each query entry point and reloads the warm state when a writer
    committed since the last load: the RdbCache-invalidation analog
    (the reference drops cache entries when an Rdb's file set
    changes). Pass False to never reload mid-loop (caller owns
    refresh() timing)."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str | Path,
        auto_refresh: bool = True,
    ):
        self.spark = spark
        self.index_dir = Path(index_dir)
        self.auto_refresh = auto_refresh
        self._load()

    def _commit_stamp(self) -> tuple:
        """Cheap writer-commit fingerprint. meta.json is rewritten by
        build/add/merge/compact; delete_documents only touches the
        tombstones dir, so fold in its file set too."""
        meta_m = (self.index_dir / "meta.json").stat().st_mtime_ns
        return (meta_m, tuple(p.name for p in T.files(self.index_dir)))

    def _maybe_refresh(self) -> None:
        if self.auto_refresh and self._commit_stamp() != self._stamp:
            self.refresh()

    def _load(self) -> None:
        self._stamp = self._commit_stamp()
        self.meta = load_meta(self.index_dir)
        # the large-scan path reads ``segments`` lazily, once per commit
        self.__dict__.pop("segments", None)
        self.tombstones = T.Snapshot(self.spark, self.index_dir)
        self._doc_meta = super().doc_meta_df()

    def refresh(self) -> None:
        """Pick up new generations/tombstones (after add/delete)."""
        self._load()

    def doc_meta_df(self) -> DataFrame:
        return self._doc_meta

    def topk(
        self, terms: list[str], k: int = 10, mode: str = "and",
        round_dp: int | None = 5,
    ) -> DataFrame:
        self._maybe_refresh()
        return W.topk(self, {"q": (terms, mode)}, k, round_dp, with_query_id=False)

    def topk_batch(
        self,
        queries: dict[str, tuple[list[str], str]],
        k: int = 10,
        round_dp: int | None = 5,
    ) -> DataFrame:
        """N queries in ONE scan — (query_id, doc_id, score),
        rank-identical per query to topk() (see wand.topk)."""
        self._maybe_refresh()
        return W.topk(self, queries, k, round_dp)

    # ---- ergonomic delegates over the shared indexed operators ----

    def facets(self, terms: list[str], facet_col: str = "lang") -> DataFrame:
        from open_source_search_engine_spark.operators import indexed

        self._maybe_refresh()
        return indexed.facet_counts(self.spark, self, terms, facet_col)

    def phrase(self, words: list[str]) -> DataFrame:
        from open_source_search_engine_spark.index import lists

        self._maybe_refresh()
        return lists.phrase_docs(self.spark, self, words)

    def query(self, q: str, k: int = 10) -> DataFrame:
        """Full query-language front end, warm (Query.cpp set2)."""
        from open_source_search_engine_spark.plans import query_language

        self._maybe_refresh()
        return query_language.execute_indexed(self.spark, self, q, k=k)

    def boolean(self, expr: str) -> DataFrame:
        from open_source_search_engine_spark.plans import boolean_expr

        self._maybe_refresh()
        return boolean_expr.evaluate_indexed(self.spark, self, expr)

    def close(self) -> None:
        """Nothing to release: the handle persists no data. Kept so
        callers can scope a handle in try/finally."""
