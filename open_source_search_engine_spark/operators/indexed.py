"""Index-backed query operators — boolean, facets, sort, pagination,
site-cap, scored retrieval — ALL served from the segment store
(VERDICT r01 item 1: everything except BM25 top-k used to re-tokenize
the corpus per query; at 100 TB a facet query that re-tokenizes the
corpus is a batch job, not an operator).

Every function here consumes `index.lists.term_postings` (the Msg2
list fetch: pruned scan + numpy decode) and composes plain DataFrame
algebra on the decoded rows. Metadata predicates (`lang:`, numeric
ranges, site, sort keys) join `doc_meta`, which the build persists
with the caller's extra columns — the titledb join (SURVEY.md §1.2).

Score semantics: segment blocks store no statistics (tf, doc length
and positions only); each per-posting BM25 contribution is computed at
read time by `segments.bm25_rescore` from the LIVE stats (df from
term_dict, N and avgdl from meta), so `sum(score) GROUP BY doc_id` here
is rank-identical to the bm25_topk_oracle / DuckDB oracle — the driver
verifies every one of these entries against the same SQL as the
DataFrame-algebra path.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_source_search_engine_spark.index import lists as L


def _doc_meta(spark: SparkSession, index_dir) -> DataFrame:
    # index_dir may be a path or a warm handle (index.lists.ColdIndex /
    # index.engine.QueryEngine) — every operator below accepts both
    return L.as_handle(spark, index_dir).doc_meta_df()


def field_docs(spark: SparkSession, index_dir, field: str, value: str) -> DataFrame:
    """Doc set for a ``field:value`` restriction served from the
    composite-term posting list (built with ``index_fields`` — the
    reference's field-prefixed termIds, SURVEY.md §2.2 F3): one pruned
    list read, no doc_meta scan."""
    return L.term_postings(spark, index_dir, [f"{field}:{value}"]).select("doc_id")


def bm25_topk_field(
    spark: SparkSession,
    index_dir,
    terms: list[str],
    field: str,
    value: str,
    k: int = 10,
    mode: str = "and",
) -> DataFrame:
    """Field-restricted BM25 top-k, BOTH legs from the index: the
    restriction is the composite-term list, the scores are the
    read-time per-posting contributions."""
    scored = scored_matches(
        spark, index_dir, terms, mode,
        candidate_docs=field_docs(spark, index_dir, field, value),
    )
    return (
        scored.orderBy(F.desc("_score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.round("_score", 5).alias("score"))
    )


def term_lookup(spark: SparkSession, index_dir, term: str) -> DataFrame:
    """(doc_id, tf) for one term — the Rdb list read (S3), decoded."""
    tp = L.term_postings(spark, index_dir, [term])
    return tp.select("doc_id", F.col("tf").cast("long").alias("tf")).orderBy("doc_id")


def and_intersect(spark: SparkSession, index_dir, terms: list[str]) -> DataFrame:
    """Docs containing ALL terms (J1/U2) from the index lists."""
    n = len(set(terms))
    tmap = L.term_id_map(spark, index_dir, terms)
    if len(tmap) < n:
        return spark.createDataFrame([], "doc_id long")
    tp = L.term_postings(spark, index_dir, terms)
    return (
        tp.groupBy("doc_id")
        .agg(F.countDistinct("term_id").alias("nt"))
        .filter(F.col("nt") == n)
        .select("doc_id")
        .orderBy("doc_id")
    )


def or_union(spark: SparkSession, index_dir, terms: list[str]) -> DataFrame:
    tp = L.term_postings(spark, index_dir, terms)
    return tp.select("doc_id").distinct().orderBy("doc_id")


def not_exclude(spark: SparkSession, index_dir, term: str, minus: str) -> DataFrame:
    """`term -minus` (F1/U3) — anti-join of decoded lists."""
    tmap = L.term_id_map(spark, index_dir, [term, minus])
    if term not in tmap:
        return spark.createDataFrame([], "doc_id long")
    tp = L.term_postings(spark, index_dir, [term, minus])
    pos = tp.filter(F.col("term_id") == tmap[term]).select("doc_id")
    if minus not in tmap:
        return pos.distinct().orderBy("doc_id")
    neg = tp.filter(F.col("term_id") == tmap[minus]).select("doc_id")
    return pos.join(neg, "doc_id", "left_anti").distinct().orderBy("doc_id")


def numeric_range(
    spark: SparkSession, index_dir, term: str, col: str, lo: int, hi: int
) -> DataFrame:
    """Term match restricted to a numeric doc_meta range (F4) — the
    metadata leg comes from the persisted doc_meta, not the corpus."""
    matches = L.term_postings(spark, index_dir, [term]).select("doc_id")
    keep = _doc_meta(spark, index_dir).filter(F.col(col).between(lo, hi)).select("doc_id")
    return matches.join(keep, "doc_id", "left_semi").distinct().orderBy("doc_id")


def facet_counts(
    spark: SparkSession, index_dir, terms: list[str], facet_col: str = "lang"
) -> DataFrame:
    """Facets over the match set (A5) — match from index lists, facet
    values from doc_meta; partial+final hash agg is the Msg39/Msg3a
    FacetEntry merge."""
    matches = or_union(spark, index_dir, terms)
    return (
        _doc_meta(spark, index_dir)
        .join(matches, "doc_id", "left_semi")
        .groupBy(F.col(facet_col).alias("facet_value"))
        .agg(F.count(F.lit(1)).alias("facet_count"))
        .orderBy("facet_value")
    )


def facet_ranges(
    spark: SparkSession,
    index_dir,
    terms: list[str],
    facet_col: str = "n_chars",
    bucket_width: int = 100,
) -> DataFrame:
    """Numeric range facets from the index (A5 int variant): match
    from decoded lists, histogram from doc_meta."""
    matches = or_union(spark, index_dir, terms)
    lo = (F.floor(F.col(facet_col) / bucket_width) * bucket_width).cast("bigint")
    return (
        _doc_meta(spark, index_dir)
        .join(matches, "doc_id", "left_semi")
        .groupBy(lo.alias("bucket_lo"))
        .agg(F.count(F.lit(1)).alias("facet_count"))
        .orderBy("bucket_lo")
    )


def scored_matches(
    spark: SparkSession,
    index_dir,
    terms: list[str],
    mode: str = "and",
    require_docs: DataFrame | None = None,
    exclude_docs: DataFrame | None = None,
    candidate_docs: DataFrame | None = None,
    groups: list[list[str]] | None = None,
) -> DataFrame:
    """FULL scored match set (doc_id, _score) from the read-time
    per-posting scores — unrounded, unordered, no k cut (the indexed
    twin of bm25.bm25_scores; consumers window/limit themselves).

    ``groups`` (synonym OR-groups, X5): AND mode requires >=1 member
    of every group present instead of every term; a group none of
    whose members is in the term dictionary can never match, so the
    result is empty — mirroring bm25_scores where an unknown term
    zeroes the AND."""
    n = len(set(terms))
    tmap = L.term_id_map(spark, index_dir, terms)
    if mode == "and" and groups is None and len(tmap) < n:
        return spark.createDataFrame([], "doc_id long, _score double")
    if mode == "and" and groups is not None and any(
        not any(t in tmap for t in g) for g in groups
    ):
        return spark.createDataFrame([], "doc_id long, _score double")
    tp = L.term_postings(spark, index_dir, terms)
    if candidate_docs is not None:
        tp = tp.join(candidate_docs.select("doc_id"), "doc_id", "left_semi")
    if require_docs is not None:
        tp = tp.join(require_docs.select("doc_id"), "doc_id", "left_semi")
    if exclude_docs is not None:
        tp = tp.join(exclude_docs.select("doc_id"), "doc_id", "left_anti")
    if groups:  # groups=[] is a no-op, mirroring bm25_scores
        gid = None
        for i, g in enumerate(groups):
            tids = sorted(tmap[t] for t in set(g) if t in tmap)
            if not tids:
                continue
            cond = F.col("term_id").isin(tids)
            gid = F.when(cond, i) if gid is None else gid.when(cond, i)
        if gid is None:
            # OR mode with no group member in the term dictionary:
            # no group can contribute a match
            return spark.createDataFrame([], "doc_id long, _score double")
        agg = tp.withColumn("gid", gid).groupBy("doc_id").agg(
            F.sum("score").alias("_score"),
            F.countDistinct("gid").alias("_nterms"),
        )
        if mode == "and":
            agg = agg.filter(F.col("_nterms") == len(groups))
        return agg.select("doc_id", "_score")
    agg = tp.groupBy("doc_id").agg(
        F.sum("score").alias("_score"),
        F.countDistinct("term_id").alias("_nterms"),
    )
    if mode == "and":
        agg = agg.filter(F.col("_nterms") == len(tmap))
    return agg.select("doc_id", "_score")


def bm25_topk(
    spark: SparkSession, index_dir, terms: list[str], k: int = 10, mode: str = "and"
) -> DataFrame:
    """Top-k from the decoded score sums (the non-pruned sibling of
    wand_topk — same result, no block-max skipping; exists so the
    scored_matches path is driver-verified end to end)."""
    scored = scored_matches(spark, index_dir, terms, mode)
    return (
        scored.orderBy(F.desc("_score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.round("_score", 5).alias("score"))
    )


def sort_by_field(
    spark: SparkSession, index_dir, terms: list[str], sort_col: str = "n_chars", k: int = 10
) -> DataFrame:
    """gbsortby: (W4) — match from index, order by a doc_meta field."""
    matched = and_intersect(spark, index_dir, terms)
    return (
        _doc_meta(spark, index_dir)
        .join(matched, "doc_id", "left_semi")
        .select("doc_id", F.col(sort_col).alias("sort_key"))
        .orderBy(F.desc("sort_key"), F.asc("doc_id"))
        .limit(k)
    )


def topk_sitecap(
    spark: SparkSession,
    index_dir,
    terms: list[str],
    k: int = 10,
    cap: int = 2,
    site_col: str = "source",
) -> DataFrame:
    """Top-k with ≤cap per site (W1) over the indexed scored set —
    site window directly on the distributed rows, no full-set funnel."""
    scored = scored_matches(spark, index_dir, terms, "and")
    joined = scored.join(
        _doc_meta(spark, index_dir).select("doc_id", F.col(site_col).alias("source")),
        "doc_id",
    )
    w = Window.partitionBy("source").orderBy(F.desc("_score"), F.asc("doc_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .orderBy(F.desc("_score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.round("_score", 5).alias("score"), "source")
    )


def bm25_topk_site_boosted(
    spark: SparkSession,
    index_dir,
    terms: list[str],
    k: int = 10,
    site_col: str = "source",
) -> DataFrame:
    """Top-k on BM25 × (1 + site_rank/16), served entirely from the
    index: scores from the read-time per-posting contributions,
    site_rank from the doc_meta column the build persisted from the
    link graph (builder.build_index(site_rank_edges=…)) — the posdb
    siteRank multiplier (J4 + A6, SURVEY.md §2.4) with the link graph
    untouched at query time (VERDICT r02 item 2: the corpus-algebra
    twin re-derived ranks per query)."""
    scored = scored_matches(spark, index_dir, terms, "and")
    dm = _doc_meta(spark, index_dir).select(
        "doc_id", F.col(site_col).alias("site"), "site_rank"
    )
    w = F.lit(1.0) + F.coalesce(F.col("site_rank"), F.lit(0)).cast("double") / F.lit(16.0)
    return (
        scored.join(dm, "doc_id")
        .withColumn("_b", F.col("_score") * w)
        .orderBy(F.desc("_b"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.round("_b", 5).alias("score"), "site")
    )


def paginate(
    spark: SparkSession, index_dir, terms: list[str], offset: int, limit: int
) -> DataFrame:
    """Result page (W2) over the indexed scored set."""
    scored = scored_matches(spark, index_dir, terms, "and")
    return (
        scored.orderBy(F.desc("_score"), F.asc("doc_id"))
        .offset(offset)
        .limit(limit)
        .select("doc_id", F.round("_score", 5).alias("score"))
    )


def phrase_bigram(spark: SparkSession, index_dir, w1: str, w2: str) -> DataFrame:
    """Adjacent-pair match (X4) from persisted positions."""
    return L.phrase_docs(spark, index_dir, [w1, w2]).orderBy("doc_id")
