"""BM25 scoring, pure DataFrame algebra — the pinned rank-identity
oracle (SURVEY.md §0 semantics note, §5.2).

Reference: Posdb.cpp PosdbTable::intersectLists10_r + getSingleTermScore
compute per-doc scores during list intersection, TopTree.cpp keeps the
top-k (SURVEY.md §2.3 J1, §2.4 A4, §2.5 W1). The reference's scorer is
proximity/positional; the graft's north_rule pins textbook BM25:

    idf_t  = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)
    s(t,d) = idf_t * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    k1 = 1.2, b = 0.75, float64

Everything here is joins + aggs + column math: Catalyst plans it
(broadcast the tiny per-term df table and the 1-row stats table,
shuffle only the per-doc agg), whole-stage codegen end to end, zero
Python. The segment/WAND engine (operators/wand.py) must be
rank-identical to this.

Semantics: stats (N, avgdl, df) are corpus-global; metadata filters
(`lang:` — Query.cpp getFieldCode, §2.2 F3) restrict candidate docs
only, mirroring the reference where termlist stats are collection-wide.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from open_source_search_engine_spark.config import EngineConfig
from open_source_search_engine_spark.operators.postings import doc_tokens, postings
from open_source_search_engine_spark.operators.stats import corpus_stats, doc_meta


def idf_col(df_: Column, n_docs: Column) -> Column:
    return F.log((n_docs - df_ + F.lit(0.5)) / (df_ + F.lit(0.5)) + F.lit(1.0))


def bm25_term_score_col(
    tf: Column, df_: Column, dl: Column, n_docs: Column, avgdl: Column, cfg: EngineConfig
) -> Column:
    k1, b = F.lit(cfg.k1), F.lit(cfg.b)
    tf_d = tf.cast("double")
    norm = tf_d * (k1 + F.lit(1.0)) / (
        tf_d + k1 * (F.lit(1.0) - b + b * dl.cast("double") / avgdl)
    )
    return idf_col(df_.cast("double"), n_docs) * norm


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    mode: str = "and",
    candidate_filter: Column | None = None,
    cfg: EngineConfig = EngineConfig(),
    text_col: str = "text",
    id_col: str = "doc_id",
    tokenizer_mode: str = "simple",
    require_docs: DataFrame | None = None,
    exclude_docs: DataFrame | None = None,
    extra_tokens: DataFrame | None = None,
    groups: list[list[str]] | None = None,
) -> DataFrame:
    """FULL scored match set (doc_id, _score float64, unrounded,
    unordered, no k cut) — the partial result every result-shaping
    operator (top-k, site-cap window, pagination) consumes. Kept
    un-limited so consumers never funnel the match set through a
    single-point TakeOrderedAndProject; each applies its own window /
    limit (the Msg3a partial/final shape, SURVEY.md §2.6).

    ``extra_tokens`` (doc_id, term) is unioned into the token stream
    before ANY statistic — df, tf, doc_len and avgdl are all computed
    over the combined stream (the anchor-text indexing hook, J3:
    operators/anchors.py).

    ``groups`` (synonym OR-groups, X5 — Query.cpp set2 synonym term
    grouping): when given, must partition ``query_terms``; AND mode
    then requires >=1 member of EVERY group present (countDistinct of
    the group id) instead of every term, while every present member
    still contributes its term score."""
    terms = sorted(set(query_terms))
    tokens = doc_tokens(docs, text_col, id_col, mode=tokenizer_mode)
    if extra_tokens is not None:
        tokens = tokens.select("doc_id", "term").unionByName(
            extra_tokens.select("doc_id", "term")
        )
    posts = postings(tokens, with_positions=False)
    meta = doc_meta(docs, tokens, text_col, id_col)
    stats = corpus_stats(meta)
    # df over the full corpus, but only for the query's terms (tiny)
    q_df = (
        posts.filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    cand = posts.filter(F.col("term").isin(terms))
    if candidate_filter is not None:
        keep = docs.filter(candidate_filter).select(F.col(id_col).alias("doc_id"))
        cand = cand.join(keep, "doc_id", "left_semi")
    if require_docs is not None:
        cand = cand.join(require_docs.select("doc_id"), "doc_id", "left_semi")
    if exclude_docs is not None:
        cand = cand.join(exclude_docs.select("doc_id"), "doc_id", "left_anti")
    scored = (
        cand.join(F.broadcast(q_df), "term")
        .join(meta.select("doc_id", "doc_len"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "term_score",
            bm25_term_score_col(
                F.col("tf"), F.col("df"), F.col("doc_len"),
                F.col("n_docs"), F.col("avgdl"), cfg,
            ),
        )
    )
    if groups:
        gid = None
        for i, g in enumerate(groups):
            cond = F.col("term").isin(sorted(set(g)))
            gid = F.when(cond, i) if gid is None else gid.when(cond, i)
        agg = scored.withColumn("gid", gid).groupBy("doc_id").agg(
            F.sum("term_score").alias("_score"),
            F.countDistinct("gid").alias("_nterms"),
        )
        if mode == "and":
            agg = agg.filter(F.col("_nterms") == len(groups))
        return agg.select("doc_id", "_score")
    agg = scored.groupBy("doc_id").agg(
        F.sum("term_score").alias("_score"),
        F.count(F.lit(1)).alias("_nterms"),
    )
    if mode == "and":
        agg = agg.filter(F.col("_nterms") == len(terms))
    return agg.select("doc_id", "_score")


def bm25_topk_oracle(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    mode: str = "and",
    candidate_filter: Column | None = None,
    cfg: EngineConfig = EngineConfig(),
    text_col: str = "text",
    id_col: str = "doc_id",
    tokenizer_mode: str = "simple",
    require_docs: DataFrame | None = None,
    exclude_docs: DataFrame | None = None,
    extra_tokens: DataFrame | None = None,
    groups: list[list[str]] | None = None,
) -> DataFrame:
    """Top-k (doc_id, score) for a bag of query terms, end to end from
    the raw docs table. `mode='and'` requires all terms present
    (Gigablast default AND, Query.cpp set2); `'or'` is the union.
    `require_docs` / `exclude_docs` are (doc_id) sets semi-/anti-joined
    onto the candidates (phrase constraints F5, negative terms F1).
    ``groups`` switches AND-counting to synonym OR-groups (X5).
    Output: (doc_id, score) with score rounded to 5 dp for stable
    cross-engine comparison; ordering uses the unrounded float64.
    """
    agg = bm25_scores(
        docs, query_terms, mode, candidate_filter, cfg, text_col, id_col,
        tokenizer_mode, require_docs, exclude_docs, extra_tokens, groups,
    )
    return (
        agg.orderBy(F.desc("_score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.round(F.col("_score"), 5).alias("score"))
    )


def bm25_grouped(
    docs: DataFrame,
    groups: list[list[str]],
    k: int = 10,
    cfg: EngineConfig = EngineConfig(),
    text_col: str = "text",
    id_col: str = "doc_id",
    tokenizer_mode: str = "simple",
) -> DataFrame:
    """Synonym-group scoring (SURVEY.md §2.8 X5; reference:
    Synonyms.cpp getSynonyms + Posdb.cpp synonym term OR-grouping):
    each group must match (>=1 member present, default-AND across
    groups, Query.cpp set2); every present member contributes its BM25
    term score. Singleton groups degrade to plain AND; one big group
    is plain OR -- this is the general form of both.
    """
    flat = sorted({t for g in groups for t in g})
    tokens = doc_tokens(docs, text_col, id_col, mode=tokenizer_mode)
    posts = postings(tokens, with_positions=False)
    meta = doc_meta(docs, tokens, text_col, id_col)
    stats = corpus_stats(meta)
    q_df = (
        posts.filter(F.col("term").isin(flat))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    gid = None
    for i, g in enumerate(groups):
        cond = F.col("term").isin(sorted(set(g)))
        gid = F.when(cond, i) if gid is None else gid.when(cond, i)
    scored = (
        posts.filter(F.col("term").isin(flat))
        .join(F.broadcast(q_df), "term")
        .join(meta.select("doc_id", "doc_len"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "term_score",
            bm25_term_score_col(
                F.col("tf"), F.col("df"), F.col("doc_len"),
                F.col("n_docs"), F.col("avgdl"), cfg,
            ),
        )
        .withColumn("gid", gid)
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("term_score").alias("_score"),
        F.countDistinct("gid").alias("_ngroups"),
    )
    return (
        agg.filter(F.col("_ngroups") == len(groups))
        .orderBy(F.desc("_score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.round(F.col("_score"), 5).alias("score"))
    )
