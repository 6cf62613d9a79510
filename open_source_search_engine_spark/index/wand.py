"""M4 — top-k BM25 over the segment store with block-max pruning.

Query lifecycle (Spark expression of SURVEY.md §3.1), implemented
ONCE in ``topk`` over an index handle (cold ``lists.ColdIndex`` or warm
``engine.QueryEngine``) for one query or a batch of many:

  1. term lookup in term_dict (replaces driver-side re-hashing; also
     yields exact df — Posdb::getTermFreq is approximate, ours exact)
  2. the one scan dispatcher (``ColdIndex.scan``) and its size rule
     (``ColdIndex.small_scan``): when the tombstones are small and the
     touched segment files — committed generations × the queries' term
     buckets — total at most ``lists.SMALL_SCAN_MAX_BYTES`` on disk,
     the scan is small:
       small: pyarrow reads those files' columns in the driver and
         filters on term_id (a segment file is one parquet row group,
         so nothing inside it is skipped — ROADMAP item 8; pos_blob is
         not read), and the kernel below runs ONCE over all rows;
         every doc's postings are in that one
         frame, so each query's local top-k is its answer. The final
         frame is built right there — the caller's columns, scores
         rounded in Python exactly as Spark's ``round``
         (``session.spark_round``) — and returned as one local
         DataFrame with no projection on top: a warm query starts no
         Spark job and pays no per-call plan work (a Spark job costs
         more than the read; the reference serves a query's lists
         inside the process that holds them, Msg39, and Msg3a returns
         the final ranked list)
       large: partition-pruned Spark scan ``bucket IN (...) AND
         term_id IN (...)`` — Catalyst prunes to the queries' term
         buckets (the RdbMap ranged seek, SURVEY.md §2.1 S3), then
         reads the touched files' columns and filters on term_id
         (ROADMAP item 8) — then steps 3 and 4
  3. per-salt kernel (applyInPandas over disjoint doc_id ranges — the
     per-shard Msg39 computation): decode + prune + score + local
     top-k via numpy, per query; deletes are annihilated in the decode,
     shipped by the handle's tombstone snapshot (index/tombstones.py)
  4. merge of the ≤ n_salts × k candidates per query on their raw
     scores: ``ORDER BY score DESC, doc_id ASC LIMIT k`` for one query
     (Msg3a::mergeLists, §2.6 O4), a per-query window rank for a
     batch; then ``F.round`` (rounding before the merge would reorder
     near ties)

Pruning inside the kernel is the MaxScore/block-max family
(Posdb.cpp getMaxPossibleScore is the reference precedent, §4):

  * AND mode: rarest-term-driven intersection; for every other term
    only blocks whose [doc_id_min, doc_id_max] can contain a candidate
    are decoded (vectorized block skipping via the metadata columns).
  * OR mode (MaxScore): U_t = max block_max per term; θ0 = kth best
    single-term score of the highest-impact term; terms whose
    cumulative U (ascending) stays below θ0 are non-essential — docs
    appearing ONLY in those lists cannot reach the top-k, so candidate
    generation unions essential lists only, and non-essential terms
    decode just the blocks overlapping surviving candidates.

Scoring sums per-posting float64 contributions in ascending term_id
order (FIXTURES.md §3 determinism pin). v2 blocks are stat-free: the
contributions are computed IN the kernel from (tf, dl) + the live
(df, N, avgdl) — exact between compactions (segments.bm25_rescore).
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_source_search_engine_spark.index.segments import block_bound, decode_blocks
from open_source_search_engine_spark.session import local_frame

# make_salt_kernel output; the batch kernel prefixes query_id
KERNEL_SCHEMA = "doc_id long, score double"

# every column the salt kernel reads — scans select exactly these so
# parquet column pruning drops pos_blob (positions are for the
# phrase/proximity path, index/lists.py, never for top-k scoring)
KERNEL_INPUT_COLS = (
    "salt", "term_id", "generation", "n_docs", "doc_id_min",
    "doc_id_max", "block_max_tf", "block_min_dl", "docs_blob",
    "tfs_blob", "dls_blob",
)


def idf_map(trows: list[dict], n_docs: float) -> dict[int, float]:
    """term_id → BM25 idf under the LIVE stats — driver-side scalar
    math over the query's term rows (metadata-scale). Same expression
    tree as operators.bm25.idf_col."""
    import math

    return {
        int(r["term_id"]): math.log(
            (n_docs - float(r["df"]) + 0.5) / (float(r["df"]) + 0.5) + 1.0
        )
        for r in trows
    }


def scoring_ctx(meta: dict, trows: list[dict]):
    """(idf_by_tid, avgdl, k1, b) — everything a decode kernel needs to
    compute exact BM25 contributions from the stat-free v2 blocks."""
    cfg = meta["config"]
    return (
        idf_map(trows, float(meta["n_docs"])),
        float(meta["avgdl"]),
        float(cfg["k1"]),
        float(cfg["b"]),
    )


def query_term_rows(
    spark: SparkSession, index_dir: str | Path, terms: list[str]
) -> list[dict]:
    """(term, term_id, df) for the query's terms.

    Driver-side pyarrow read — no Spark job. The dictionary lookup is
    metadata-scale work (the reference keeps termId→listSize in the
    in-memory RdbMap, Posdb::getTermFreq); launching a distributed job
    for it costs more than the read. term_dict files are term-sorted,
    so the isin filter prunes on parquet row-group min/max stats.
    pyarrow.dataset reads local paths here and s3/hdfs URIs on a real
    deployment alike."""
    import pyarrow.dataset as ds

    d = ds.dataset(str(Path(index_dir) / "term_dict"), format="parquet")
    tbl = d.to_table(
        filter=ds.field("term").isin(list(set(terms))),
        columns=["term", "term_id", "df"],
    )
    return tbl.to_pylist()


def _blocks_overlapping(
    rows: pd.DataFrame, cand: np.ndarray
) -> np.ndarray:
    """Mask of block rows whose [doc_id_min, doc_id_max] contains at
    least one candidate doc_id (cand sorted asc). Vectorized."""
    lo = rows["doc_id_min"].to_numpy(np.int64)
    hi = rows["doc_id_max"].to_numpy(np.int64)
    left = np.searchsorted(cand, lo, side="left")
    right = np.searchsorted(cand, hi, side="right")
    return right > left


def _score_candidates(
    cand: np.ndarray,
    term_lists: list[tuple[int, np.ndarray, np.ndarray]],
) -> tuple[np.ndarray, np.ndarray]:
    """Sum per-term contributions for candidate docs in ascending
    term_id order (float64 determinism). Returns (scores, n_terms_hit).
    term_lists: [(term_id, doc_ids sorted, scores)]."""
    total = np.zeros(cand.size, dtype=np.float64)
    hits = np.zeros(cand.size, dtype=np.int32)
    for _tid, docs, scores in sorted(term_lists, key=lambda t: t[0]):
        if docs.size == 0:
            continue
        pos = np.searchsorted(docs, cand)
        pos_c = np.minimum(pos, docs.size - 1)
        m = docs[pos_c] == cand
        total[m] += scores[pos_c[m]]
        hits[m] += 1
    return total, hits


def _topk_frame(docs: np.ndarray, scores: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame(
        {"doc_id": docs.astype(np.int64), "score": scores.astype(np.float64)}
    )


def make_salt_kernel(
    term_ids: list[int],
    k: int,
    mode: str,
    tombstones: tuple[np.ndarray, np.ndarray] | None,
    scoring,
):
    """Kernel run once per salt (disjoint doc_id range), or once over
    every row of a small scan. Input: block rows of the query's terms
    only. Output: local top-k candidates.

    ``scoring`` = (idf_by_tid, avgdl, k1, b) from scoring_ctx: v2
    blocks are stat-free, so per-posting scores AND the MaxScore block
    bounds are computed here under the live stats (exact even between
    compactions — VERDICT r04 item 2)."""
    tids = sorted(set(term_ids))
    n_q = len(tids)
    idf_by, avgdl, k1, b = scoring

    def _rs(t):
        return (idf_by[int(t)], avgdl, k1, b)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        per_term = {t: g for t, g in pdf.groupby("term_id")}
        # empty group (cogrouped tombstone shipping can surface a salt
        # with tombstones but no postings) or unsatisfiable AND
        if len(per_term) == 0 or (mode == "and" and len(per_term) < n_q):
            return _topk_frame(np.empty(0, np.int64), np.empty(0))

        if mode == "and":
            # rarest term drives (shortest-list-first, §4): decode the
            # term with fewest postings fully, then intersect onward,
            # decoding only overlapping blocks of later terms.
            order = sorted(per_term, key=lambda t: int(per_term[t]["n_docs"].sum()))
            cand, _tf, _sc = decode_blocks(per_term[order[0]], tombstones=tombstones)
            # (intersection decodes skip the dls/rescore work — only the
            # final scoring pass below computes contributions)
            for t in order[1:]:
                if cand.size == 0:
                    break
                rows = per_term[t]
                mask = _blocks_overlapping(rows, cand)
                docs, _tfs, _s = decode_blocks(rows, mask, tombstones=tombstones)
                pos = np.searchsorted(docs, cand) if docs.size else None
                if docs.size == 0:
                    cand = cand[:0]
                    break
                pos_c = np.minimum(pos, docs.size - 1)
                cand = cand[docs[pos_c] == cand]
            if cand.size == 0:
                return _topk_frame(cand, np.empty(0))
            lists = []
            for t, rows in per_term.items():
                mask = _blocks_overlapping(rows, cand)
                docs, _tfs, scores = decode_blocks(
                    rows, mask, tombstones=tombstones, rescore=_rs(t)
                )
                lists.append((int(t), docs, scores))
            total, hits = _score_candidates(cand, lists)
            keep = hits == n_q
            cand, total = cand[keep], total[keep]
        else:
            # MaxScore (block-max family). U_t from block metadata only
            # — v2: bounds computed from (block_max_tf, block_min_dl)
            # under the live stats (segments.block_bound; score monotone
            # in each, so this is a valid upper bound).
            U = {
                t: float(
                    block_bound(
                        g["block_max_tf"].to_numpy(np.float64),
                        g["block_min_dl"].to_numpy(np.float64),
                        idf_by[int(t)], avgdl, k1, b,
                    ).max()
                )
                for t, g in per_term.items()
            }
            drive = max(U, key=U.get)
            d_docs, _dt, d_scores = decode_blocks(
                per_term[drive], tombstones=tombstones, rescore=_rs(drive)
            )
            if d_scores.size >= k:
                theta0 = float(np.partition(d_scores, -k)[-k])
            else:
                theta0 = 0.0
            asc = sorted(U, key=U.get)
            cum, non_essential = 0.0, set()
            for t in asc:
                if cum + U[t] < theta0:
                    cum += U[t]
                    non_essential.add(t)
                else:
                    break
            decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {
                int(drive): (d_docs, d_scores)
            }
            cand_parts = [d_docs]
            for t, rows in per_term.items():
                if t == drive or t in non_essential:
                    continue
                docs, _tfs, scores = decode_blocks(
                    rows, tombstones=tombstones, rescore=_rs(t)
                )
                decoded[int(t)] = (docs, scores)
                cand_parts.append(docs)
            cand = np.unique(np.concatenate(cand_parts)) if cand_parts else np.empty(0, np.int64)
            lists = [(t, d, s) for t, (d, s) in decoded.items()]
            for t in non_essential:
                rows = per_term[t]
                mask = _blocks_overlapping(rows, cand)
                docs, _tfs, scores = decode_blocks(
                    rows, mask, tombstones=tombstones, rescore=_rs(t)
                )
                lists.append((int(t), docs, scores))
            total, _hits = _score_candidates(cand, lists)

        # local top-k with (score desc, doc_id asc) tie-break
        idx = np.lexsort((cand, -total))[:k]
        return _topk_frame(cand[idx], total[idx])

    return kernel




BATCH_KERNEL_SCHEMA = "query_id string, " + KERNEL_SCHEMA


def make_batch_salt_kernel(
    resolved: list[tuple[str, list[int], str]],
    k: int,
    tombstones: tuple[np.ndarray, np.ndarray] | None,
    scoring,
):
    """Per-salt kernel serving MANY queries from one block partition
    (or from every row of a small scan).

    ``resolved`` = [(query_id, tids sorted, mode)]. Each query runs the
    EXACT single-query kernel (make_salt_kernel) over the sub-frame of
    its own term_ids, so a batch of one and a batch of N rank each query
    identically (pinned in tests). Shared terms decode once per query
    that uses them (bounded duplicate work; the scan and the shuffle —
    the scale costs — are already shared)."""
    kernels = [
        (qid, tids, make_salt_kernel(tids, k, mode, tombstones, scoring))
        for qid, tids, mode in resolved
    ]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        groups = {int(t): g for t, g in pdf.groupby("term_id")}
        outs = []
        for qid, tids, kern in kernels:
            subs = [groups[t] for t in tids if t in groups]
            o = kern(pd.concat(subs) if subs else pdf.iloc[0:0])
            o.insert(0, "query_id", qid)
            outs.append(o)
        return pd.concat(outs, ignore_index=True)

    return kernel


def resolve_batch_queries(
    queries: dict[str, tuple[list[str], str]], tid_of: dict[str, int]
) -> list[tuple[str, list[int], str]]:
    """[(query_id, tids sorted, mode)] with per-query empty-result
    semantics applied: a required term with no posting list (AND) or a
    query with no known terms contributes nothing (Query.cpp default-AND
    semantics, SURVEY.md §2.2 F2)."""
    resolved: list[tuple[str, list[int], str]] = []
    for qid, (terms, mode) in sorted(queries.items()):
        found = [t for t in set(terms) if t in tid_of]
        if not found or (mode == "and" and len(found) < len(set(terms))):
            continue
        resolved.append((qid, sorted({tid_of[t] for t in found}), mode))
    return resolved


def topk(
    ix,
    queries: dict[str, tuple[list[str], str]],
    k: int = 10,
    round_dp: int | None = 5,
    with_query_id: bool = True,
) -> DataFrame:
    """The one top-k implementation: (query_id, doc_id, score) — or
    (doc_id, score) without ``with_query_id`` — for
    ``queries`` = {query_id: (terms, mode)} over an index handle
    (index.lists.ColdIndex or the warm index.engine.QueryEngine).
    Every top-k entry point — wand_topk, wand_topk_batch,
    QueryEngine.topk/topk_batch and the streaming query server — is a
    thin wrapper over this one function.

    One scan whatever |Q| (Msg39 serving many queries per shard,
    SURVEY.md §2.6): the handle resolves every query's terms in one
    dictionary read, one scan covers the UNION of their term buckets,
    and the kernel runs each query's single-query kernel over its own
    term groups, with tombstones shipped by the handle's snapshot
    (index.tombstones).

    ``ColdIndex.scan`` picks the path. A small scan runs the kernel
    once in the driver and needs no merge: the kernel's rows, rounded
    in Python, are the final frame. A large one is a Spark job
    with one kernel per salt; the merge over the ≤ n_salts × k × |Q| per-salt
    candidates follows the input size: one resolved query merges by
    ``ORDER BY score DESC, doc_id ASC LIMIT k`` — a driver-side take on
    collect, no shuffle (Msg3a::mergeLists, §2.6 O4); more than one
    ranks per query_id in a window. Queries whose required term is
    missing (AND) or with no known terms contribute no rows. Scores
    are rounded to ``round_dp`` places after the merge (None: raw)."""
    spark = ix.spark
    out_schema = BATCH_KERNEL_SCHEMA if with_query_id else KERNEL_SCHEMA
    all_terms = sorted({t for terms, _m in queries.values() for t in terms})
    trows = ix.term_rows(all_terms)
    resolved = resolve_batch_queries(
        queries, {r["term"]: int(r["term_id"]) for r in trows}
    )
    if not resolved:
        return local_frame(spark, out_schema)
    tids = sorted({t for _q, ts, _m in resolved for t in ts})
    scoring = scoring_ctx(ix.meta, trows)

    def merge(local: DataFrame) -> DataFrame:
        if len(resolved) == 1:
            return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return local.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)

    return ix.scan(
        tids,
        lambda arrays: make_batch_salt_kernel(resolved, k, arrays, scoring),
        BATCH_KERNEL_SCHEMA, merge=merge, out_schema=out_schema, round_dp=round_dp,
    )


def wand_topk(
    spark: SparkSession,
    index_dir: str | Path,
    terms: list[str],
    k: int = 10,
    mode: str = "and",
    round_dp: int | None = 5,
) -> DataFrame:
    """Top-k (doc_id, score) — must be rank-identical to
    bm25.bm25_topk_oracle on the same corpus (§5.2 pinned oracle)."""
    from open_source_search_engine_spark.index.lists import ColdIndex

    ix = ColdIndex(spark, index_dir)
    return topk(ix, {"q": (terms, mode)}, k, round_dp, with_query_id=False)


def wand_topk_batch(
    spark: SparkSession,
    index_dir: str | Path,
    queries: dict[str, tuple[list[str], str]],
    k: int = 10,
    round_dp: int | None = 5,
) -> DataFrame:
    """Top-k for MANY queries in ONE scan: (query_id, doc_id, score),
    rank-identical per query to wand_topk (see topk)."""
    from open_source_search_engine_spark.index.lists import ColdIndex

    return topk(ColdIndex(spark, index_dir), queries, k, round_dp)
