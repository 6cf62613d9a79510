"""Proximity-boosted ranking — the positional half of the reference's
scorer, now expressible because positions are persisted index-side.

Gigablast's ranking is fundamentally positional: PosdbTable computes
term-pair proximity ("hash group" / wiki-phrase weights over posdb key
positions, Posdb.cpp intersectLists10_r — SURVEY.md §2.4/§4). The
graft pins textbook BM25 as the rank-identity oracle, so proximity is
offered as a PINNED, SQL-expressible boost on top of it:

    mindist(d)  = min over (p1 in pos(t_i, d), p2 in pos(t_j, d)),
                  i < j, of |p1 - p2|            (closest query-term pair)
    score(d)    = bm25(d) * (1 + W / (1 + mindist(d)))   W = 0.25

Two implementations + one oracle, all hash-identical:

    proximity_topk          corpus algebra (positional self-join)
    proximity_topk_indexed  segment store: one kernel (tf/dl rescored
                            at read time + pos_blob decoded) through
                            the read dispatcher ColdIndex.scan, so a
                            small query runs it once in the driver
    proximity_topk_sql      DuckDB mirror
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_source_search_engine_spark.config import EngineConfig
from open_source_search_engine_spark.index import lists as L
from open_source_search_engine_spark.index import wand as W
from open_source_search_engine_spark.index.segments import decode_blocks, gather_flat
from open_source_search_engine_spark.operators import bm25
from open_source_search_engine_spark.operators.postings import doc_tokens
from open_source_search_engine_spark.plans.oracle_sql import BM25_PARAMS, _terms_list
from open_source_search_engine_spark.session import local_frame

PROX_W = 0.25


def _prox_factor(mindist: F.Column) -> F.Column:
    return F.lit(1.0) + F.lit(PROX_W) / (F.lit(1.0) + mindist.cast("double"))


def proximity_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    cfg: EngineConfig = EngineConfig(),
    text_col: str = "text",
    tokenizer_mode: str = "simple",
) -> DataFrame:
    """BM25 × proximity top-k, corpus-algebra path (AND semantics).
    The pair-distance join is per-doc and bounded by tf_i × tf_j —
    the same term-pair scan PosdbTable does, as a co-partitioned
    self-join Catalyst plans on doc_id."""
    ts = sorted(set(terms))
    scored = bm25.bm25_scores(
        docs, ts, mode="and", cfg=cfg, text_col=text_col,
        tokenizer_mode=tokenizer_mode,
    )
    toks = doc_tokens(docs, text_col, mode=tokenizer_mode).filter(
        F.col("term").isin(ts)
    )
    a = toks.select("doc_id", F.col("term").alias("t1"), F.col("pos").alias("p1"))
    b = toks.select("doc_id", F.col("term").alias("t2"), F.col("pos").alias("p2"))
    dists = (
        a.join(b, "doc_id")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("doc_id")
        .agg(F.min(F.abs(F.col("p1") - F.col("p2"))).alias("mindist"))
    )
    out = scored.join(dists, "doc_id").withColumn(
        "_boosted", F.col("_score") * _prox_factor(F.col("mindist"))
    )
    return (
        out.orderBy(F.desc("_boosted"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.round("_boosted", 5).alias("score"))
    )


def proximity_topk_indexed(
    spark: SparkSession, index_dir, terms: list[str], k: int = 10
) -> DataFrame:
    """Same semantics entirely from the segment store, as one kernel
    through ``ColdIndex.scan``: it decodes the query terms' lists WITH
    positions, computes each matching doc's BM25 sum (read-time
    rescore from the stat-free blocks) and its min pair distance, and
    keeps the top k. A small scan runs it once in the driver (no Spark
    job; the rounded frame is final); a large one runs it per salt and
    takes the global top-k of the per-salt candidates."""
    ts = sorted(set(terms))
    ix = L.as_handle(spark, index_dir)
    trows = ix.term_rows(ts)
    tmap = {r["term"]: int(r["term_id"]) for r in trows}
    # proximity needs ≥2 distinct present terms (mindist is a PAIR
    # distance; the corpus path and oracle drop all rows otherwise)
    if len(tmap) < len(ts) or len(ts) < 2:
        return local_frame(spark, "doc_id long, score double")
    tids = sorted(tmap.values())
    n_q = len(tids)
    idf_by, avgdl, bm_k1, bm_b = W.scoring_ctx(ix.meta, trows)
    # per-term rescore tuples resolved OUTSIDE the kernel: the pair
    # loop below reuses the name k1 for a stream, which would shadow
    # the BM25 parameter inside the closure
    rs_by = {t: (idf_by[t], avgdl, bm_k1, bm_b) for t in tids}

    def kernel(pdf: pd.DataFrame, tombstones=None) -> pd.DataFrame:
        per_term = {}
        for tid, rows in pdf.groupby("term_id"):
            per_term[int(tid)] = decode_blocks(
                rows, tombstones=tombstones, with_positions=True,
                rescore=rs_by[int(tid)],
            )
        empty = pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")}
        )
        if len(per_term) < n_q:
            return empty
        # intersect doc sets (AND)
        cand = per_term[tids[0]][0]
        for t in tids[1:]:
            docs_t = per_term[t][0]
            if docs_t.size == 0 or cand.size == 0:
                return empty
            posn = np.searchsorted(docs_t, cand)
            posn = np.minimum(posn, docs_t.size - 1)
            cand = cand[docs_t[posn] == cand]
        if cand.size == 0:
            return empty
        # flat candidate position streams per term: composite keys
        # cand_index * M + pos keep every candidate's positions in one
        # globally-sorted array, so the pair-distance scan is ONE
        # searchsorted over the concatenation per term pair — no
        # per-candidate Python loop (VERDICT r02 item 1)
        total = np.zeros(cand.size, dtype=np.float64)
        flat = {}
        max_pos = 0
        for t in tids:
            docs_t, tfs_t, scores_t, pos_flat = per_term[t]
            j = np.searchsorted(docs_t, cand)
            total += scores_t[j]
            p = gather_flat(pos_flat, tfs_t, j)
            c = tfs_t[j].astype(np.int64)
            flat[t] = (p, c)
            if p.size:
                max_pos = max(max_pos, int(p.max()))
        M = np.int64(max_pos + 2)
        streams = {}
        for t in tids:
            p, c = flat[t]
            ci = np.repeat(np.arange(cand.size, dtype=np.int64), c)
            off = np.zeros(cand.size, dtype=np.int64)
            np.cumsum(c[:-1], out=off[1:])
            streams[t] = (p, ci, off, ci * M + p)
        BIG = np.int64(1) << 60
        mindist = np.full(cand.size, BIG, dtype=np.int64)
        for i1 in range(n_q):
            for i2 in range(i1 + 1, n_q):
                p1, ci1, _off1, k1 = streams[tids[i1]]
                p2, ci2, off2, k2 = streams[tids[i2]]
                # nearest same-doc neighbor of each p2 within p1:
                # predecessor (k1[jj-1] < k2) and successor (k1[jj])
                jj = np.searchsorted(k1, k2)
                left = np.maximum(jj - 1, 0)
                right = np.minimum(jj, k1.size - 1)
                d_left = np.where(
                    (jj > 0) & (ci1[left] == ci2), p2 - p1[left], BIG
                )
                d_right = np.where(
                    (jj < k1.size) & (ci1[right] == ci2), p1[right] - p2, BIG
                )
                d = np.minimum(d_left, d_right)
                # per-candidate min over its contiguous slice of d
                # (every AND candidate has tf >= 1 in both terms, so
                # no empty reduceat groups)
                np.minimum(mindist, np.minimum.reduceat(d, off2), out=mindist)
        boosted = total * (1.0 + PROX_W / (1.0 + mindist.astype(np.float64)))
        order = np.lexsort((cand, -boosted))[:k]
        return pd.DataFrame({"doc_id": cand[order], "score": boosted[order]})

    def top(df: DataFrame) -> DataFrame:
        return df.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    return ix.scan(
        tids, lambda arrays: lambda pdf: kernel(pdf, tombstones=arrays),
        "doc_id long, score double",
        with_positions=True, merge=top, round_dp=5,
    )


def proximity_topk_sql(terms: list[str], k: int = 10) -> str:
    tl = _terms_list(terms)
    n_terms = len(set(terms))
    p = BM25_PARAMS
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term,
         generate_subscripts(string_split(lower(text), ' '), 1) - 1 AS pos
  FROM documents
), toks_f AS (
  SELECT doc_id, term, pos FROM toks WHERE term <> ''
), dl AS (
  SELECT doc_id, COUNT(*)::BIGINT AS doc_len FROM toks_f GROUP BY doc_id
), stats AS (
  SELECT COUNT(*)::DOUBLE AS n_docs, AVG(doc_len)::DOUBLE AS avgdl FROM dl
), q_df AS (
  SELECT term, COUNT(*)::DOUBLE AS df
  FROM (SELECT DISTINCT doc_id, term FROM toks_f WHERE term IN ({tl}))
  GROUP BY term
), tf AS (
  SELECT doc_id, term, COUNT(*)::DOUBLE AS tf
  FROM toks_f WHERE term IN ({tl}) GROUP BY doc_id, term
), agg AS (
  SELECT tf.doc_id,
         SUM( ln((stats.n_docs - q_df.df + 0.5)/(q_df.df + 0.5) + 1.0)
              * tf.tf * ({p['k1']} + 1.0)
              / (tf.tf + {p['k1']} * (1.0 - {p['b']}
                    + {p['b']} * dl.doc_len / stats.avgdl)) ) AS s
  FROM tf JOIN q_df USING (term) JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats GROUP BY tf.doc_id HAVING COUNT(*) = {n_terms}
), dists AS (
  SELECT a.doc_id, MIN(ABS(a.pos - b.pos))::BIGINT AS mindist
  FROM (SELECT doc_id, term, pos FROM toks_f WHERE term IN ({tl})) a
  JOIN (SELECT doc_id, term, pos FROM toks_f WHERE term IN ({tl})) b
    ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.doc_id
), boosted AS (
  SELECT agg.doc_id, agg.s * (1.0 + {PROX_W} / (1.0 + dists.mindist)) AS b
  FROM agg JOIN dists ON agg.doc_id = dists.doc_id
)
SELECT doc_id, ROUND(b, 5) AS score
FROM boosted ORDER BY b DESC, doc_id ASC LIMIT {k}"""


def driver_queries():
    return {
        "proximity_topk": lambda s, d: proximity_topk(
            _docs(s, d), ["join", "hash"], k=10
        ),
        "proximity_topk_indexed": lambda s, d: _indexed(s, d),
    }


def _indexed(spark, sf_dir):
    import __spark_entry__ as entry

    return proximity_topk_indexed(
        spark, entry._segment_index(spark, sf_dir), ["join", "hash"], k=10
    )


def driver_oracles():
    sql = proximity_topk_sql(["join", "hash"], k=10)
    return {"proximity_topk": sql, "proximity_topk_indexed": sql}


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")
