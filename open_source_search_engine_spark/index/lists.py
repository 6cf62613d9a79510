"""Index-backed list reads — the segment store serving EVERY query
operator, not just BM25 top-k (VERDICT r01 item 1).

Reference shape: Msg2 fetches the query's term lists once and every
downstream consumer — intersection, facets, clustering, sorting —
works off those lists (Msg2.cpp getLists / Msg39 intersect,
SURVEY.md §3.1). The Spark expression:

    term_dict lookup (driver, pyarrow, metadata-scale)
        → partition-pruned segment scan (generation, bucket IN …;
          reads the touched files' columns and filters on term_id —
          a segment file is one parquet row group, ROADMAP item 8)
        → one doc-local numpy kernel over a salt's block rows

Nothing re-tokenizes the corpus at query time; the scan cost is
O(query's posting lists), not O(corpus). Deletes are annihilated
inside the decode kernels, shipped by the handle's tombstone snapshot
(index/tombstones.py). Every match read (plans/query_language.py,
operators/indexed.py) is a ``match_plan`` for one kernel,
``match_kernel`` (Msg39's intersect-and-score).

Every list read runs its kernel through ``ColdIndex``. Reads whose
output is O(k) — top-k (index/wand.py), ``phrase_docs``, proximity
(operators/proximity.py) and the query language — go through one
dispatcher, ``ColdIndex.scan``, and one size rule
(``ColdIndex.small_scan``): when the tombstones are small and the
touched segment files total at most SMALL_SCAN_MAX_BYTES on disk (a
32nd of it for a positional scan, POSITIONAL_SCAN_WEIGHT), the kernel
runs once in the driver over those files read with pyarrow, so the
query starts no Spark job. Above it ``scan`` takes the Spark leg,
``ColdIndex.spark_scan``: one kernel per salt. A live doc's postings
all sit in one salt, so each kernel sees every list of its docs and
the per-salt outputs are disjoint.

Reads with an O(matches) output (operators/indexed.py) or an
O(postings) one (``term_postings``: tf for ``indexed.term_lookup``,
the doc_meta universe for ``boolean_expr.evaluate_indexed``'s NOT)
always take the Spark leg: handing every row from the driver to Spark
(``local_frame``) loses from about 65k postings, far inside
SMALL_SCAN_MAX_BYTES (ROADMAP item 6 has the measurement).
"""

from __future__ import annotations

from functools import cached_property
from pathlib import Path
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_source_search_engine_spark.index import tombstones as T
from open_source_search_engine_spark.index.builder import load_meta
from open_source_search_engine_spark.index.segments import (
    BLOCK_SCHEMA,
    decode_blocks,
    gather_flat,
)
from open_source_search_engine_spark.index import wand as W
from open_source_search_engine_spark.session import local_frame, schema_fields, spark_round
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
    """One-shot index handle: ``meta``, ``term_rows``, ``scan`` (with
    its legs ``small_scan`` and ``spark_scan``), ``tombstones`` (one
    index.tombstones.Snapshot shared by every read through the handle),
    ``doc_meta_df``. Every operator in this module,
    operators/indexed.py, operators/proximity.py and wand.topk takes a
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

    def spark_scan(
        self, tids: list[int], kernel_factory, schema: str, with_positions: bool = False
    ) -> DataFrame:
        """The Spark leg of every list read: the block rows of ``tids``
        (committed generations × their buckets, ``_scope``; partition
        filters on generation and bucket, a pushed filter on term_id),
        grouped by salt into ``kernel_factory(tombstone arrays)``
        (``Snapshot.apply_kernel``)."""
        if with_positions:
            require_positions(self.meta)
        gens, buckets = self._scope(tids)
        seg = self.segments.filter(
            F.col("generation").isin(gens)
            & F.col("bucket").isin(buckets)
            & F.col("term_id").isin(tids)
        ).select(*KERNEL_INPUT_COLS, *(["pos_blob"] if with_positions else []))
        return self.tombstones.apply_kernel(
            seg, kernel_factory, schema, self.meta["config"]["n_salts"]
        )

    def small_scan(self, tids: list[int], with_positions: bool = False) -> pd.DataFrame | None:
        """The block rows ``spark_scan`` would read, read in the
        driver with pyarrow — or None when the scan is not small: the
        tombstones are not small, or the touched segment files exceed
        SMALL_SCAN_MAX_BYTES on disk (weighted by POSITIONAL_SCAN_WEIGHT
        with positions). Same scope as ``spark_scan`` (``_scope``),
        found by globbing ``generation=G/bucket=B`` dirs instead of a
        Spark listing. It reads the touched files' columns and filters
        on ``term_id``: a segment file is one parquet row group, so
        nothing inside a file is skipped (ROADMAP item 8)."""
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

    def scan(
        self, tids: list[int], kernel_factory, schema: str,
        with_positions: bool = False, merge=None,
        out_schema: str | None = None, round_dp: int | None = None,
    ) -> DataFrame:
        """The one read dispatcher: ``kernel_factory(tombstone arrays)``
        over the block rows of ``tids``, returned as the columns of
        ``out_schema`` (default ``schema``, the kernel's) in its order,
        with ``score`` rounded to ``round_dp`` places as Spark's
        ``round`` does when given.

        A small scan runs the kernel once in the driver over every
        row, so its output is final: rounded in Python
        (``spark_round``) and returned as one local frame with no
        projection on top (no Spark job, no per-call plan work). A
        large one runs it per salt in Spark, ``merge``s the per-salt
        outputs on their raw scores, then projects and rounds with
        ``F.round`` (rounding before the merge would reorder near
        ties)."""
        out_schema = out_schema or schema
        rows = self.small_scan(tids, with_positions)
        if rows is not None:
            out = kernel_factory(self.tombstones.arrays)(rows)
            if round_dp is not None:
                out = out.assign(score=spark_round(out["score"], round_dp))
            return local_frame(self.spark, out_schema, out)
        out = self.spark_scan(tids, kernel_factory, schema, with_positions)
        out = out if merge is None else merge(out)
        return out.select(*(
            F.round(c, round_dp).alias(c) if c == "score" and round_dp is not None else c
            for c in schema_fields(out_schema)
        ))

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

    return ix.spark_scan(tids, kernel_factory, POSTING_SCHEMA)


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
    every row for a small scan, per salt otherwise (``ColdIndex.scan``)
    — then ``phrase_chain`` over them."""
    ix = as_handle(spark, index_dir)
    tmap = term_id_map(spark, ix, words)
    if any(w not in tmap for w in words):
        return local_frame(spark, PHRASE_SCHEMA)
    word_tids = [tmap[w] for w in words]

    def kernel_factory(tombstones):
        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            lists = {
                int(t): decode_blocks(rows, tombstones=tombstones, with_positions=True)
                for t, rows in pdf.groupby("term_id")
            }
            return pd.DataFrame(
                {"doc_id": pd.Series(phrase_chain(word_tids, lists), dtype="int64")}
            )

        return kernel

    return ix.scan(sorted(set(word_tids)), kernel_factory, PHRASE_SCHEMA, with_positions=True)


def phrase_chain(word_tids: list[int], lists: dict) -> np.ndarray:
    """Doc ids (ascending) where the words ``word_tids`` occur ADJACENT
    in order, from decoded per-term lists ``{tid: (doc_ids, tfs,
    scores, flat positions)}`` (decode_blocks with positions; a
    missing tid matches nothing).

    The position-chain intersection runs VECTORIZED over the whole
    candidate set at once: every term's candidate positions are kept
    flat as (doc_index * M + pos) keys, and start positions survive
    word i iff (start_key + i) appears in word i's key stream — one
    searchsorted per word over the concatenation, no per-doc Python
    (VERDICT r02 item 2: the per-doc intersect1d chain died on
    stop-wordy phrases with huge candidate sets)."""
    empty = np.empty(0, dtype=np.int64)
    if any(t not in lists for t in word_tids):
        return empty
    # docs containing every word
    cand = lists[word_tids[0]][0]
    for t in word_tids[1:]:
        docs = lists[t][0]
        if docs.size == 0 or cand.size == 0:
            return empty
        pos = np.minimum(np.searchsorted(docs, cand), docs.size - 1)
        cand = cand[docs[pos] == cand]
    if cand.size == 0:
        return empty
    # flat candidate position streams per word, as composite keys
    # cand_index * M + pos (M big enough that +i never crosses a
    # doc boundary); each stream is globally sorted because cand
    # indices ascend and positions ascend within a posting
    max_pos = 0
    sel_of = {}
    for t in set(word_tids):
        docs, tfs, _sc, pos_flat = lists[t]
        j = np.searchsorted(docs, cand)
        p = gather_flat(pos_flat, tfs, j)
        sel_of[t] = (j, p)
        if p.size:
            max_pos = max(max_pos, int(p.max()))
    M = np.int64(max_pos + len(word_tids) + 2)
    key_of = {}
    for t, (j, p) in sel_of.items():
        ci = np.repeat(np.arange(cand.size, dtype=np.int64), lists[t][1][j])
        key_of[t] = ci * M + p
    # chain: a start key k survives word i iff k + i is in word
    # i's stream (same doc guaranteed: pos + i < M)
    starts = key_of[word_tids[0]]
    for i, t in enumerate(word_tids[1:], start=1):
        ks = key_of[t]
        if starts.size == 0 or ks.size == 0:
            return empty
        jj = np.minimum(np.searchsorted(ks, starts + i), ks.size - 1)
        starts = starts[ks[jj] == starts + i]
    return cand[np.unique(starts // M)]


class MatchPlan(NamedTuple):
    """Term ids of a compiled match read, and ``wand.scoring_ctx``."""

    tids: list[int]  # every list the scan reads
    units: list[list[int]]  # a doc hits >=1 term of every unit
    scored: list[int]  # terms whose BM25 contributions sum into score
    pairs: list[tuple[int, int]]  # adjacent phrase pairs
    excluded: list[int]  # a live posting of one drops the doc
    scoring: tuple


def match_plan(
    ix: ColdIndex, units: list[list[str]], scored: list[str] = (),
    pairs: list[tuple[str, str]] = (), excluded: list[str] = (),
) -> MatchPlan | None:
    """The one term→plan step of every match read: one dictionary
    read. ``scored`` terms and phrase words must be unit members. None
    (an empty result) with no unit, a unit with no known member or an
    unknown phrase word; other unknown terms match nothing."""
    words = [w for p in pairs for w in p]
    trows = ix.term_rows([t for u in units for t in u] + list(excluded))
    tid = {r["term"]: int(r["term_id"]) for r in trows}
    groups = [sorted({tid[t] for t in u if t in tid}) for u in units]
    if not groups or not all(groups) or not all(w in tid for w in words):
        return None
    return MatchPlan(
        sorted(set(tid.values())),
        groups,
        sorted({tid[t] for t in scored if t in tid}),
        [(tid[a], tid[b]) for a, b in pairs],
        sorted({tid[t] for t in excluded if t in tid}),
        W.scoring_ctx(ix.meta, trows),
    )


def match_kernel(plan: MatchPlan, k: int | None, tombstones):
    """The one doc-local match kernel over one salt's block rows, or
    every row of a small scan. A doc matches with >=1 member of every
    unit, every pair adjacent and no live excluded posting; its score
    sums its scored terms in ascending term_id order (FIXTURES.md §3).
    (doc_id, score) by (score desc, doc_id asc), cut to ``k`` unless
    None."""
    phrase_tids = {t for p in plan.pairs for t in p}
    idf_by, avgdl, k1, b = plan.scoring

    def kernel(pdf):
        rows = {int(t): g for t, g in pdf.groupby("term_id")}
        lists = {
            t: decode_blocks(
                rows.get(t, pdf.iloc[0:0]), tombstones=tombstones,
                with_positions=t in phrase_tids,
                rescore=(idf_by[t], avgdl, k1, b) if t in plan.scored else None,
            )
            for t in {t for u in plan.units for t in u} | set(plan.excluded)
        }
        cand = None
        for u in plan.units:
            docs = np.unique(np.concatenate([lists[t][0] for t in u]))
            cand = docs if cand is None else np.intersect1d(cand, docs, assume_unique=True)
        for a, b_ in plan.pairs:
            cand = cand[np.isin(cand, phrase_chain([a, b_], lists), assume_unique=True)]
        for t in plan.excluded:
            cand = cand[~np.isin(cand, lists[t][0], assume_unique=True)]
        total, _hits = W._score_candidates(
            cand, [(t, lists[t][0], lists[t][2]) for t in plan.scored]
        )
        idx = np.lexsort((cand, -total))[:k]
        return W._topk_frame(cand[idx], total[idx])

    return kernel
