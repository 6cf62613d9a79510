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

One size rule picks where a scored or positional scan runs
(``ColdIndex.small_scan``): when the tombstones are small and the
touched segment files total at most SMALL_SCAN_MAX_BYTES on disk
(a 32nd of it for a positional scan, POSITIONAL_SCAN_WEIGHT),
top-k (index/wand.py) and ``phrase_docs`` read those files in the
driver with pyarrow and run their kernel once over all rows, so the
query starts no Spark job. Above it they run the Spark scan below.

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
from open_source_search_engine_spark.index.segments import BLOCK_SCHEMA, decode_blocks
from open_source_search_engine_spark.index import wand as W
from open_source_search_engine_spark.session import local_frame
from open_source_search_engine_spark.index.wand import (
    KERNEL_INPUT_COLS,
    query_term_rows,
)

POSTING_SCHEMA = "term_id long, doc_id long, tf int, score double"
PHRASE_SCHEMA = "doc_id long"

# The one size rule of the read path: a scan whose touched segment
# files (committed generations × the query's buckets) total at most
# this many bytes on disk is read and scored in the driver
# (ColdIndex.small_scan); a larger one runs as a Spark job.
# Measured crossover, warm OR top-k (k=10), gen_corpus stores built
# with perfbench's config (64 buckets, 8 salts), local[4] on a 4-core
# host, median of 7 per path (touched MB: driver ms / Spark ms):
#   head term "dup", 2k-256k docs: 0.08: 86/406, 0.2: 51/327,
#     0.7: 55/279, 1.4: 94/482, 2.8: 96/421, 5.5: 120/394 — the
#     driver always wins;
#   one head term per bucket (61 terms, every file touched), 64k, 128k
#     and 256k docs: 44: 1073/1996, 85: 1654/2462, 167: 3075/2158.
# The lines cross near 120 MB; 64 MiB keeps the driver path ~1.5x
# faster at the bound and its per-query memory well below the crossover.
# Cold top-k (a fresh handle per query, median of 4 of 5, same stores)
# crosses later, since the Spark path also lists the store each query:
#   wide query, 8k/64k/128k docs: 7.9: 319/1636, 44: 958/1670,
#     85: 1531/1948.
SMALL_SCAN_MAX_BYTES = 64 * 1024 * 1024
# A positional scan (phrase_docs) also reads pos_blob, and decodes and
# chains positions on one driver thread, so its touched bytes count
# this many times against the bound (64 MiB / 32 = 2 MiB). Measured
# the same way, warm phrase_docs, median of 4 of 5 (touched MB: driver
# ms / Spark ms):
#   "dup guard" (in half the docs), 8k/64k/128k docs: 0.32: 80/309,
#     1.9: 285/397, 3.7: 598/620;
#   61 head terms (one per bucket, no match), 8k/64k/128k docs:
#     7.9: 315/1473, 44: 1497/1572, 85: 3170/1809.
# The dense two-word phrase crosses near 4 MB; at 2 MiB the driver
# path is ~1.4x faster.
POSITIONAL_SCAN_WEIGHT = 32


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
    """One-shot index handle: ``meta``, ``term_rows``, ``small_scan``,
    ``pruned_segments``, ``tombstones`` (one index.tombstones.Snapshot
    shared by every read through the handle), ``doc_meta_df``. Every
    operator in this module, operators/indexed.py and wand.topk takes a
    handle (or a path, via as_handle). The warm subclass
    index.engine.QueryEngine caches live doc_meta, the tombstone
    snapshot and (on the large path) the segment listing per commit, so
    query loops pay that IO once (RdbCache, SURVEY.md §4)."""

    def __init__(self, spark: SparkSession, index_dir):
        self.spark = spark
        self.index_dir = Path(index_dir)
        self.meta = load_meta(index_dir)

    @cached_property
    def segments(self) -> DataFrame:
        # the large scan's listing, once per handle (per commit on the
        # warm engine): listing the root costs one Spark job, where
        # reading the touched files by name costs one listing job per
        # query once they pass 32 (2.4 s for 459 files, local[4]: the
        # 2000-doc perfbench store when its base encode ran 64 tasks;
        # sized to its postings it is one task and 61 files). The
        # explicit schema spares a schema-inference job.
        return self.spark.read.schema(BLOCK_SCHEMA).parquet(str(self.index_dir / "segments"))

    def term_rows(self, terms: list[str]) -> list[dict]:
        return query_term_rows(self.spark, self.index_dir, terms)

    def _scope(self, tids: list[int]) -> tuple[list[int], list[int]]:
        """(generations, buckets) a scan of ``tids`` reads — the one
        snapshot and pruning rule of both scans. Snapshot isolation:
        only generations the meta commit pointer references (a
        concurrent merge's staged dirs are invisible). A referenced
        generation whose dir is gone was dropped by a later commit:
        this handle's meta is stale, and reading on would return part
        of the store, so it raises."""
        gens = [int(g) for g in self.meta["generations"]]
        root = self.index_dir / "segments"
        gone = [g for g in gens if not (root / f"generation={g}").is_dir()]
        if gone:
            raise FileNotFoundError(
                f"generations {gone} of {self.index_dir} were dropped by a later "
                "commit; reopen the index (or refresh the QueryEngine)"
            )
        n_buckets = self.meta["config"]["n_buckets"]
        return gens, sorted({t % n_buckets for t in tids})

    def pruned_segments(self, tids: list[int], with_positions: bool = False) -> DataFrame:
        if with_positions:
            require_positions(self.meta)
        seg = self.segments
        gens, buckets = self._scope(tids)
        seg = seg.filter(
            F.col("generation").isin(gens)
            & F.col("bucket").isin(buckets)
            & F.col("term_id").isin(tids)
        )
        cols = list(KERNEL_INPUT_COLS) + ["bucket"]
        if with_positions:
            cols.append("pos_blob")
        return seg.select(*cols)

    def small_scan(self, tids: list[int], with_positions: bool = False) -> pd.DataFrame | None:
        """The block rows ``pruned_segments`` would scan, read in the
        driver with pyarrow — or None when the scan is not small: the
        tombstones are not small, or the touched segment files exceed
        SMALL_SCAN_MAX_BYTES on disk (weighted by POSITIONAL_SCAN_WEIGHT
        with positions). Same scope as ``pruned_segments`` (``_scope``),
        found by globbing ``generation=G/bucket=B`` dirs instead of a
        Spark listing; the ``term_id`` filter prunes on row-group
        stats."""
        if with_positions:
            require_positions(self.meta)
        if not self.tombstones.small:
            return None
        import pyarrow.dataset as ds

        root = self.index_dir / "segments"
        gens, buckets = self._scope(tids)
        paths = [
            p
            for g in gens
            for b in buckets
            for p in sorted((root / f"generation={g}" / f"bucket={b}").glob("*.parquet"))
        ]
        weight = POSITIONAL_SCAN_WEIGHT if with_positions else 1
        if sum(p.stat().st_size for p in paths) * weight > SMALL_SCAN_MAX_BYTES:
            return None
        cols = list(KERNEL_INPUT_COLS) + (["pos_blob"] if with_positions else [])
        data = ds.dataset(
            [str(p) for p in paths], format="parquet",
            partitioning="hive", partition_base_dir=str(root),
        )
        return data.to_table(filter=ds.field("term_id").isin(tids), columns=cols).to_pandas()

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
        return local_frame(spark, POSTING_SCHEMA)
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

    Kernel: decode the phrase terms' lists WITH positions — once over
    every row for a small scan, per salt otherwise — then run the
    position-chain intersection VECTORIZED over the whole candidate set
    at once: every term's candidate positions are kept
    flat as (doc_index * M + pos) keys, and start positions survive
    word i iff (start_key + i) appears in word i's key stream — one
    searchsorted per word over the concatenation, no per-doc Python
    (VERDICT r02 item 2: the per-doc intersect1d chain died on
    stop-wordy phrases with huge candidate sets)."""
    ix = as_handle(spark, index_dir)
    tmap = term_id_map(spark, ix, words)
    if any(w not in tmap for w in words):
        return local_frame(spark, PHRASE_SCHEMA)
    word_tids = [tmap[w] for w in words]
    tids = sorted(set(word_tids))
    n_words = len(words)
    rows = ix.small_scan(tids, with_positions=True)
    if rows is not None:
        kernel = _phrase_kernel(word_tids, n_words, ix.tombstones.arrays)
        return local_frame(spark, PHRASE_SCHEMA, kernel(rows))
    seg = ix.pruned_segments(tids, with_positions=True)

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
