"""Index-backed list reads — the segment store serving EVERY query
operator, not just BM25 top-k (VERDICT r01 item 1).

Reference shape: Msg2 fetches the query's term lists once and every
downstream consumer — intersection, facets, clustering, sorting —
works off those lists (Msg2.cpp getLists / Msg39 intersect,
SURVEY.md §3.1). The Spark expression:

    term_dict lookup (driver, pyarrow, metadata-scale)
        → partition-pruned segment scan (bucket IN …, term_id IN …;
          parquet row-group stats skip non-matching term_ids)
        → per-(salt, bucket) decode kernel (numpy, Arrow-batched)
        → posting rows (term_id, doc_id, tf, score)

and every operator downstream is plain DataFrame algebra over those
rows. Nothing re-tokenizes the corpus at query time; the scan cost is
O(query's posting lists), not O(corpus). Deletes are annihilated
inside the decode kernels, shipped by the handle's tombstone snapshot
(index/tombstones.py).

Parallelism: the decode groups by (salt, bucket) — all generations of
one (term, salt) share a bucket (bucket = term_id % n_buckets), so
LSM generation-merge stays correct while the decode fans out over
n_salts × touched-buckets tasks. Phrase matching groups by salt only
(it must see all the phrase's terms for a doc range together — a doc's
salt is term-independent, so the grouping is complete).
"""

from __future__ import annotations

from functools import cached_property
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_source_search_engine_spark.index import tombstones as T
from open_source_search_engine_spark.index.builder import load_meta
from open_source_search_engine_spark.index.segments import decode_blocks
from open_source_search_engine_spark.index import wand as W
from open_source_search_engine_spark.index.wand import (
    KERNEL_INPUT_COLS,
    query_term_rows,
)

POSTING_SCHEMA = "term_id long, doc_id long, tf int, score double"
PHRASE_SCHEMA = "doc_id long"


def require_positions(meta: dict) -> None:
    """Positional ops on a store built with ``store_positions=False``
    must fail loudly: such stores still carry pos_blob=b"" per block
    (the encoder always materializes the column), so without this check
    phrase/proximity queries silently return empty (ADVICE r02)."""
    if not meta.get("config", {}).get("store_positions", True):
        raise ValueError(
            "index was built with store_positions=False — phrase and "
            "proximity operators need positions; rebuild with "
            "EngineConfig(store_positions=True)"
        )


class ColdIndex:
    """One-shot index handle: ``meta``, ``term_rows``,
    ``pruned_segments``, ``tombstones`` (one index.tombstones.Snapshot
    shared by every read through the handle), ``doc_meta_df``. Every
    operator in this module, operators/indexed.py and wand.topk takes a
    handle (or a path, via as_handle). The warm subclass
    index.engine.QueryEngine caches the segment listing, live doc_meta
    and tombstone snapshot per commit, so query loops pay that IO once
    (RdbCache, SURVEY.md §4)."""

    def __init__(self, spark: SparkSession, index_dir):
        self.spark = spark
        self.index_dir = Path(index_dir)
        self.meta = load_meta(index_dir)

    @cached_property
    def segments(self) -> DataFrame:
        return self.spark.read.parquet(str(self.index_dir / "segments"))

    def term_rows(self, terms: list[str]) -> list[dict]:
        return query_term_rows(self.spark, self.index_dir, terms)

    def pruned_segments(self, tids: list[int], with_positions: bool = False) -> DataFrame:
        if with_positions:
            require_positions(self.meta)
        n_buckets = self.meta["config"]["n_buckets"]
        buckets = sorted({t % n_buckets for t in tids})
        # snapshot isolation: only generations the meta commit pointer
        # references (a concurrent merge's staged dirs are invisible)
        seg = self.segments.filter(
            F.col("generation").isin([int(g) for g in self.meta["generations"]])
            & F.col("bucket").isin(buckets)
            & F.col("term_id").isin(tids)
        )
        cols = list(KERNEL_INPUT_COLS) + ["bucket"]
        if with_positions:
            cols.append("pos_blob")
        return seg.select(*cols)

    @cached_property
    def tombstones(self) -> T.Snapshot:
        return T.Snapshot(self.spark, self.index_dir)

    def doc_meta_df(self) -> DataFrame:
        return T.live_doc_meta(
            self.spark, self.index_dir, self.meta["generations"], self.tombstones
        )


def as_handle(spark: SparkSession, ix) -> ColdIndex:
    """Normalize a str/Path index dir or an already-open handle."""
    return ix if isinstance(ix, ColdIndex) else ColdIndex(spark, ix)


def term_postings(spark: SparkSession, index_dir, terms: list[str]) -> DataFrame:
    """Decoded, generation-merged, tombstone-filtered posting rows
    (term_id, doc_id, tf, score) for the given terms — the Msg2 list
    fetch. Terms absent from the dictionary contribute no rows.
    ``index_dir`` may be a path or a warm handle (QueryEngine)."""
    ix = as_handle(spark, index_dir)
    trows = ix.term_rows(terms)
    if not trows:
        return spark.createDataFrame([], POSTING_SCHEMA)
    tids = sorted({int(r["term_id"]) for r in trows})
    seg = ix.pruned_segments(tids)
    n_buckets = ix.meta["config"]["n_buckets"]
    idf_by, avgdl, k1, b = W.scoring_ctx(ix.meta, trows)

    def kernel_factory(tombstones):
        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            outs = []
            for tid, rows in pdf.groupby("term_id"):
                docs, tfs, scores = decode_blocks(
                    rows, tombstones=tombstones,
                    rescore=(idf_by[int(tid)], avgdl, k1, b),
                )
                outs.append(
                    pd.DataFrame(
                        {
                            "term_id": np.full(docs.size, tid, dtype=np.int64),
                            "doc_id": docs,
                            "tf": tfs.astype(np.int32),
                            "score": scores,
                        }
                    )
                )
            if not outs:
                return pd.DataFrame(
                    {
                        "term_id": pd.Series(dtype="int64"),
                        "doc_id": pd.Series(dtype="int64"),
                        "tf": pd.Series(dtype="int32"),
                        "score": pd.Series(dtype="float64"),
                    }
                )
            return pd.concat(outs, ignore_index=True)

        return kernel

    return ix.tombstones.apply_kernel(
        seg, ("salt", "bucket"), kernel_factory, POSTING_SCHEMA,
        ix.meta["config"]["n_salts"], buckets=sorted({t % n_buckets for t in tids}),
    )


def term_id_map(spark: SparkSession, index_dir, terms: list[str]) -> dict[str, int]:
    """term → term_id for terms present in the dictionary."""
    return {
        r["term"]: int(r["term_id"])
        for r in as_handle(spark, index_dir).term_rows(terms)
    }


def phrase_docs(spark: SparkSession, index_dir, words: list[str]) -> DataFrame:
    """doc_ids containing the words ADJACENT in order — index-backed
    phrase matching from the persisted positions (posdb positional
    keys, SURVEY.md §1.3; bigram ids, Phrases.cpp — §2.8 X4).

    Kernel: decode the phrase terms' lists WITH positions per salt,
    then run the position-chain intersection VECTORIZED over the whole
    candidate set at once: every term's candidate positions are kept
    flat as (doc_index * M + pos) keys, and start positions survive
    word i iff (start_key + i) appears in word i's key stream — one
    searchsorted per word over the concatenation, no per-doc Python
    (VERDICT r02 item 2: the per-doc intersect1d chain died on
    stop-wordy phrases with huge candidate sets)."""
    ix = as_handle(spark, index_dir)
    tmap = term_id_map(spark, ix, words)
    if any(w not in tmap for w in words):
        return spark.createDataFrame([], PHRASE_SCHEMA)
    word_tids = [tmap[w] for w in words]
    tids = sorted(set(word_tids))
    seg = ix.pruned_segments(tids, with_positions=True)
    n_words = len(words)

    def kernel_factory(tombstones):
        return _phrase_kernel(word_tids, n_words, tombstones)

    return ix.tombstones.apply_kernel(
        seg, ("salt",), kernel_factory, PHRASE_SCHEMA, ix.meta["config"]["n_salts"]
    )


def _phrase_kernel(word_tids: list[int], n_words: int, tombstones):
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        from open_source_search_engine_spark.index.segments import gather_flat

        per_term: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        for tid, rows in pdf.groupby("term_id"):
            docs, tfs, _sc, pos_flat = decode_blocks(
                rows, tombstones=tombstones, with_positions=True
            )
            per_term[int(tid)] = (docs, tfs, pos_flat)
        empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64")})
        if any(t not in per_term for t in word_tids):
            return empty
        # docs containing every word
        cand = per_term[word_tids[0]][0]
        for t in word_tids[1:]:
            docs = per_term[t][0]
            if docs.size == 0 or cand.size == 0:
                cand = cand[:0]
                break
            pos = np.searchsorted(docs, cand)
            pos_c = np.minimum(pos, docs.size - 1)
            cand = cand[docs[pos_c] == cand]
        if cand.size == 0:
            return empty
        # flat candidate position streams per word, as composite keys
        # cand_index * M + pos (M big enough that +i never crosses a
        # doc boundary); each stream is globally sorted because cand
        # indices ascend and positions ascend within a posting
        keys = []
        max_pos = 0
        sel_of = {}
        for t in set(word_tids):
            docs, tfs, pos_flat = per_term[t]
            j = np.searchsorted(docs, cand)
            p = gather_flat(pos_flat, tfs, j)
            sel_of[t] = (j, p)
            if p.size:
                max_pos = max(max_pos, int(p.max()))
        M = np.int64(max_pos + n_words + 2)
        key_of = {}
        for t in set(word_tids):
            j, p = sel_of[t]
            ci = np.repeat(
                np.arange(cand.size, dtype=np.int64), per_term[t][1][j]
            )
            key_of[t] = ci * M + p
        # chain: a start key k survives word i iff k + i is in word
        # i's stream (same doc guaranteed: pos + i < M)
        starts = key_of[word_tids[0]]
        for i, t in enumerate(word_tids[1:], start=1):
            ks = key_of[t]
            if starts.size == 0 or ks.size == 0:
                starts = starts[:0]
                break
            jj = np.minimum(np.searchsorted(ks, starts + i), ks.size - 1)
            starts = starts[ks[jj] == starts + i]
        if starts.size == 0:
            return empty
        out = cand[np.unique(starts // M)]
        return pd.DataFrame({"doc_id": pd.Series(out, dtype="int64")})

    return kernel
