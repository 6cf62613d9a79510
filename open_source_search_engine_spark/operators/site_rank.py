"""A6 — site inlink counting → siteRank (SURVEY.md §2.4; reference:
Msg25.cpp getLinkInfo + Linkdb.cpp — count distinct C-class IPs of
inlinkers per site, quantized to the 4-bit siteRank field baked into
every posdb key, Posdb.h §1.3).

Our analog over a generic edge table ``(src_site, dst_site[, weight])``
(for a code corpus: repo-import edges). Pure DataFrame aggregation —
Catalyst's partial+final hash agg is exactly the per-shard + merge
shape the reference hand-rolls.

siteRank quantization mirrors the reference's log-ish bucketing of
inlink counts into 4 bits (getSiteRank logic in Linkdb/tagdb
[UNVERIFIED exact formula — documented as log2-bucket]):
``rank = min(15, floor(log2(1 + distinct_inlinkers)))``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def site_inlinks(edges: DataFrame) -> DataFrame:
    """(site, n_inlinkers) — distinct linking sites per target, self
    links excluded (the reference excludes same-site/same-IP links)."""
    return (
        edges.filter(F.col("src_site") != F.col("dst_site"))
        .groupBy(F.col("dst_site").alias("site"))
        .agg(F.countDistinct("src_site").alias("n_inlinkers"))
    )


def site_rank(edges: DataFrame) -> DataFrame:
    """(site, n_inlinkers, site_rank 0..15)."""
    inl = site_inlinks(edges)
    return inl.withColumn(
        "site_rank",
        F.least(
            F.lit(15),
            F.floor(F.log2(F.lit(1) + F.col("n_inlinkers"))).cast("int"),
        ),
    )


def doc_site_rank(
    docs: DataFrame,
    edges: DataFrame,
    site_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, site_rank) for EVERY doc (0 where the doc's site has no
    inlinking sites) — the per-docid siteRank the reference bakes into
    each posdb key's 4-bit field (Posdb.h, SURVEY.md §1.3), computed
    from a doc-level edge table ``(src_doc_id, dst_doc_id, …)`` lifted
    to site level. Used by builder.build_index to persist site_rank as
    a doc_meta column at build time so rank-boosted queries never touch
    the link graph (VERDICT r02 item 2). The site-level rank table is
    sites-sized (≪ docs) → broadcast."""
    sites = docs.select(F.col(id_col).alias("doc_id"), F.col(site_col).alias("site"))
    se = (
        edges.join(
            sites.withColumnsRenamed({"doc_id": "src_doc_id", "site": "src_site"}),
            "src_doc_id",
        )
        .join(
            sites.withColumnsRenamed({"doc_id": "dst_doc_id", "site": "dst_site"}),
            "dst_doc_id",
        )
        .select("src_site", "dst_site")
    )
    ranks = site_rank(se)
    return sites.join(
        F.broadcast(ranks.select("site", "site_rank")), "site", "left"
    ).select(
        "doc_id", F.coalesce("site_rank", F.lit(0)).cast("int").alias("site_rank")
    )
