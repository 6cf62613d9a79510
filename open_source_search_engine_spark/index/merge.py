"""M5 — incremental index maintenance: add / delete / compact.

LSM semantics lifted from the reference (SURVEY.md §1.1, §2.10):

  * ``add_documents``    → a new *generation* of segments (the RdbDump
    of a fresh memtable): only the new docs are tokenized/encoded; the
    existing generations are untouched. New postings are scored with
    the UPDATED corpus stats; older generations keep their build-time
    scores until compaction (the reference precedent: Posdb term
    frequencies are approximate and drift between merges,
    Posdb::getTermFreq — exactness is restored by ``compact``).
  * ``delete_documents`` → tombstones — negative keys (RdbList.cpp
    delete-key annihilation) that mask a doc below a generation bar.
    Queries apply them at read time (Msg5-style merged read);
    ``replace=True`` adds makes updates: old version annihilated, new
    version indexed. The format, the size switch and the doc_meta
    liveness view live in ``index/tombstones.py``; this module only
    picks the bars and calls it.
  * ``compact``          → the full merge (RdbBase::attemptMerge /
    RdbMerge.cpp): decode all generations back to posting tuples
    (vectorized mapInPandas), drop tombstoned versions, rebuild ONE
    fresh base generation with exact global stats. Sorted order is
    re-established per (bucket, salt) partition by the encoder — a
    distributed sorted merge expressed as shuffle + sortWithinPartitions
    rather than a hand-written k-way file merge. The rebuilt store is
    committed by an ATOMIC meta.json flip (readers filter segment scans
    to meta['generations'], so they see the old store or the new one,
    never a half-swapped tree — ADVICE/VERDICT r04 item 4); the base
    generation number therefore keeps increasing across compactions
    instead of resetting to 0.

Stats exactness (format v2, VERDICT r04 item 2): blocks store only
(tf, dl) and scores are computed at read time from the live
(df, N, avgdl), so scored reads are exact whenever term_dict/meta are.
``add_documents`` keeps them exact for adds (df folds in; N/avgdl from
the tombstone-filtered liveness view); ``merge_deltas`` restores
exactness after replaces/deletes WITHIN the delta tier by replacing the
merged deltas' raw df contribution with their live one (both aggregates
over data the merge already touches). The one remaining approximation
is Lucene's: postings of base-generation docs masked by tombstones
still count toward df until ``compact`` (docFreq-includes-deletes
semantics; the reference drifts far more, Posdb::getTermFreq).
"""

from __future__ import annotations

import shutil
from collections.abc import Iterator
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_source_search_engine_spark.config import EngineConfig
from open_source_search_engine_spark.functions.codec import (
    delta_decode,
    positions_byte_offsets,
    varint_decode,
)
from open_source_search_engine_spark.index import builder as B
from open_source_search_engine_spark.index import tombstones as T
from open_source_search_engine_spark.operators.postings import fast_postings
from open_source_search_engine_spark.operators.stats import term_stats

def _cfg_from_meta(meta: dict) -> EngineConfig:
    c = dict(meta["config"])
    c["stopwords"] = frozenset(c.get("stopwords", ()))
    return EngineConfig(**c)


def current_generations(index_dir: str | Path) -> list[int]:
    """Generation numbers present ON DISK — used only to pick fresh
    (collision-free) numbers for new generations. Membership questions
    (what is live, what merges, tombstone bars) use meta['generations']
    — the commit pointer — so garbage dirs left by a crashed merge can
    never inflate a delete bar or trigger a spurious merge."""
    seg = Path(index_dir) / "segments"
    return sorted(
        int(p.name.split("=")[1]) for p in seg.glob("generation=*") if p.is_dir()
    )


def _next_gen(index_dir: Path, meta: dict) -> int:
    return max([*current_generations(index_dir), *meta["generations"]]) + 1


def _live_doc_stats(dm_live: DataFrame):
    """Exact (n_docs, avgdl, max_doc_id) over the live document set
    (tombstones.live_doc_meta) — the read path's liveness rule, applied
    to stats so scored reads stay exact under deletes too (v2
    read-time scoring uses meta's N/avgdl)."""
    return dm_live.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
        F.max("doc_id").alias("max_doc_id"),
    ).collect()[0]


# Side-table commit protocol: stage (B._stage_side_table, epoch-
# stamped) → atomic meta flip → promote (B._promote_side_table).
# Rationale and the recovery matrix live on builder._recover_swaps.
# The old swap-before-flip order had a rerun-divergence window: a
# crash between the term_dict swap and the meta flip left the df fold
# APPLIED but the merge uncommitted, so the rerun folded it again
# (double-counted df). Staged-ahead dirs are discarded by recovery
# instead, so the fold lands exactly once, with the meta rename as the
# single commit point for generations AND stats.


def _live_postings(
    spark: SparkSession, index_dir: Path, generations: list[int], snap: T.Snapshot
) -> DataFrame:
    """decode → tombstone-filter → newest-generation-wins: the shared
    merged read (Msg5's view of an Rdb) used by both ``compact`` (all
    committed generations) and ``merge_deltas`` (the delta tier only).
    ``generations`` is always explicit (from meta['generations']) so a
    crashed merge's garbage dirs are never decoded."""
    seg = spark.read.parquet(str(index_dir / "segments"))
    seg = seg.filter(F.col("generation").isin([int(g) for g in generations]))
    posts = snap.mask(decode_segments_to_postings(seg), "generation")
    aggs = [F.max_by("tf", "generation").cast("int").alias("tf")]
    if "pos_blob" in posts.columns:
        aggs.append(F.max_by("pos_blob", "generation").alias("pos_blob"))
    return posts.groupBy("term_id", "doc_id").agg(*aggs)


def delete_documents(
    spark: SparkSession, index_dir: str | Path, doc_ids: list[int] | DataFrame
) -> None:
    """Tombstone: annihilates every posting of doc_id from generations
    strictly below the next generation number.

    ``doc_ids`` — a small Python list is written driver-side (a delete
    of a handful of ids shouldn't pay a Spark job); a DataFrame with a
    ``doc_id`` column is appended DISTRIBUTED, so mass deletes (a
    retention sweep, a licence takedown over millions of docs) never
    route ids through the driver — the same fan-out the replace branch
    of add_documents uses."""
    # the bar comes from the COMMITTED generation set: a crashed
    # merge's garbage dir must never inflate it past generations a
    # future add will legitimately use (which the bar would mask)
    gen = max(B.load_meta(index_dir)["generations"]) + 1
    T.append(spark, index_dir, doc_ids, gen)


def add_documents(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str | Path,
    replace: bool = False,
    input_snapshot: str = "incremental",
    anchor_edges: DataFrame | None = None,
    max_generations: int | None = None,
    compact_mode: str = "deltas",
) -> dict:
    """Index new docs as the next generation. ``replace=True`` first
    tombstones incoming doc_ids (update semantics).

    ``anchor_edges`` — inbound-anchor edges FOR THE DELTA DOCS (same
    shape as builder.build_index's): an anchored store should pass the
    new docs' inlink rows so their termlists carry anchor text like
    generation 0's (the reference re-hashes link info whenever a doc
    is reindexed, XmlDoc::hashIncomingLinkText).

    ``max_generations`` — automatic merge policy (RdbBase::attemptMerge,
    SURVEY.md §1.1/§4): after the add, if live generations exceed the
    budget, ``maybe_compact`` merges per ``compact_mode``. Without it
    generations accumulate unboundedly and every list read pays one
    decode per generation."""
    if (
        max_generations is not None
        and compact_mode == "deltas"
        and max_generations < 2
    ):
        # fail before the (expensive) add, not inside maybe_compact after it
        raise ValueError("max_generations must be >= 2 with compact_mode='deltas'")
    index_dir = Path(index_dir)
    meta = B.load_meta(index_dir, recover=True)
    cfg = _cfg_from_meta(meta)
    gen = _next_gen(index_dir, meta)
    text_col, tok_mode = meta["text_col"], meta["tokenizer_mode"]
    tok_docs, tok_text_col = docs, text_col
    if anchor_edges is not None:
        agg = anchor_edges.groupBy(F.col("dst_doc_id").alias("doc_id")).agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("src_doc_id", "anchor_text"))
                    ),
                    lambda x: x["anchor_text"],
                ),
                " ",
            ).alias("__anchors")
        )
        tok_docs = docs.join(agg, "doc_id", "left").withColumn(
            "__text_anchored", F.concat_ws(" ", F.col(text_col), F.col("__anchors"))
        )
        tok_text_col = "__text_anchored"

    if replace:
        # distributed append — never collect incoming ids to the driver
        # (a large re-ingest would OOM it; the reference's negative
        # keys flow through the same Msg4 fan-out as adds).
        # NOTE df drift (documented): replaced docs' term_dict df is
        # not decremented here, so scores drift upward until compact();
        # under a long replace=True loop run compact() periodically.
        T.append(spark, index_dir, docs, gen)

    posts = fast_postings(
        tok_docs, tok_text_col, "doc_id", mode=tok_mode, stopwords=cfg.stopwords
    )
    # field-prefixed termlists (F3) must cover new generations too, or
    # field-restricted queries silently miss every doc added after the
    # base build (same composite-term hook as builder.build_index)
    if meta.get("index_fields"):
        from open_source_search_engine_spark.functions.hashing import term_id_col

        fparts = [
            docs.select(
                F.concat(F.lit(f + ":"), F.col(f).cast("string")).alias("term"),
                F.col("doc_id"),
                F.lit(1).cast("int").alias("tf"),
                F.lit(0).cast("int").alias("doc_len"),
            ).filter(F.col("term").isNotNull())
            for f in meta["index_fields"]
        ]
        fposts = fparts[0]
        for p in fparts[1:]:
            fposts = fposts.unionByName(p)
        fposts = fposts.withColumn("term_id", term_id_col(F.col("term")))
        posts = posts.unionByName(fposts, allowMissingColumns=True)
    posts = posts.persist()
    lens = posts.groupBy("doc_id").agg(F.max("doc_len").alias("doc_len"))
    # carry the base doc_meta's extra columns (lang, site, nchars, …):
    # an append with a NARROWER schema makes spark.read's schema pick
    # nondeterministic (no mergeSchema) — facets/sorts would lose the
    # column outright after the first add_documents
    dm_fields = [
        f
        for f in spark.read.parquet(str(index_dir / "doc_meta")).schema.fields
        if f.name not in ("doc_id", "content_sha256", "doc_len", "gen")
    ]
    extra_exprs = [
        (
            F.col(f.name) if f.name in docs.columns else F.lit(None).cast(f.dataType)
        ).alias(f.name)
        for f in dm_fields
    ]
    new_meta_df = (
        docs.select(
            F.col("doc_id"),
            F.sha2(F.col(text_col).cast("binary"), 256).alias("content_sha256"),
            *extra_exprs,
        )
        .join(lens, "doc_id", "left")
        .fillna({"doc_len": 0})
    )
    new_meta_df.withColumn("gen", F.lit(gen)).write.mode("append").parquet(
        str(index_dir / "doc_meta")
    )

    # refresh global stats + term_dict (df adds up; N/avgdl over the
    # LIVE doc set — tombstone-filtered, so deletes are reflected too
    # and v2 read-time scoring stays exact under add+delete traffic)
    generations = sorted(set(meta["generations"]) | {gen})
    row = _live_doc_stats(
        T.live_doc_meta(spark, index_dir, generations, T.Snapshot(spark, index_dir))
    )
    old_dict = spark.read.parquet(str(index_dir / "term_dict"))
    merged_dict = (
        old_dict.unionByName(term_stats(posts))
        .groupBy("term", "term_id")
        .agg(F.sum("df").alias("df"))
    )
    new_epoch = int(meta.get("epoch", 0)) + 1
    # STAGE the folded dict unreferenced — the live term_dict is not
    # touched until the meta flip commits this add, so a crash anywhere
    # below rolls the fold back (recovery discards the staged-ahead
    # dir) and the rerun applies it exactly once
    B._stage_side_table(index_dir, "term_dict", merged_dict, new_epoch)

    new_max = max(int(row["max_doc_id"]), meta["max_doc_id"])
    try:
        # encode BEFORE the meta flip: readers filter segment scans to
        # meta['generations'], so the new generation only becomes
        # visible once its files are complete. (In replace mode the
        # tombstones are already visible — a replaced doc is briefly
        # absent rather than briefly doubled, the standard LSM
        # delete-before-add transient.)
        B._encode_and_write(
            posts, index_dir, gen, None, cfg, input_snapshot, new_max
        )
    finally:
        posts.unpersist()

    meta.update(
        n_docs=float(row["n_docs"]),
        avgdl=float(row["avgdl"]),
        max_doc_id=new_max,
        generations=generations,
        epoch=new_epoch,
    )
    B._write_meta(index_dir, meta)  # THE commit point
    B._promote_side_table(index_dir, "term_dict")
    # the dict was just swapped on disk: drop Spark's cached file
    # listings and plans for the index paths (and any read a caller
    # persisted) so later jobs read the new files, not the old ones
    B.refresh_read_caches(spark, index_dir)
    if max_generations is not None:
        merged = maybe_compact(
            spark, index_dir, max_generations=max_generations, mode=compact_mode
        )
        if merged is not None:
            return merged
    return meta


def decode_segments_to_postings(seg: DataFrame) -> DataFrame:
    """Segments → (term_id, doc_id, tf, generation[, pos_blob])
    posting tuples. Arrow-batched mapInPandas; numpy decode, no
    per-row Python. Per-posting position streams are self-contained
    (codec.positions_encode), so compaction re-slices block pos_blobs
    at posting boundaries (continuation-bit scan) and carries the raw
    bytes through to the re-encoder — positions are never re-encoded."""
    has_pos = "pos_blob" in seg.columns
    schema = "term_id long, doc_id long, tf long, generation long"
    if has_pos:
        schema += ", pos_blob binary"

    def it(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            pos_col = pdf["pos_blob"] if has_pos else [None] * len(pdf)
            for term_id, gen, blob_d, blob_t, blob_p in zip(
                pdf["term_id"], pdf["generation"], pdf["docs_blob"],
                pdf["tfs_blob"], pos_col,
            ):
                d = delta_decode(bytes(blob_d)).astype("int64")
                t = varint_decode(bytes(blob_t)).astype("int64")
                out = pd.DataFrame(
                    {
                        "term_id": term_id,
                        "doc_id": d,
                        "tf": t,
                        "generation": gen,
                    }
                )
                if has_pos:
                    pb = bytes(blob_p) if blob_p is not None else b""
                    offs = positions_byte_offsets(pb, t)
                    out["pos_blob"] = [
                        pb[offs[i] : offs[i + 1]] for i in range(d.size)
                    ]
                outs.append(out)
            if outs:
                yield pd.concat(outs)
            else:
                empty = {"term_id": [], "doc_id": [], "tf": [], "generation": []}
                if has_pos:
                    empty["pos_blob"] = []
                yield pd.DataFrame(empty)

    return seg.mapInPandas(it, schema)


def compact(spark: SparkSession, index_dir: str | Path) -> dict:
    """Full merge: all committed generations − tombstones → ONE fresh
    base generation with exact stats. Equivalent to a from-scratch
    build over the live document set (SURVEY.md §5.5 merge test).

    Reader/crash safety (VERDICT r04 item 4): the rebuilt segments are
    written as a NEW generation (the base generation number keeps
    increasing — it does not reset to 0), doc_meta/term_dict
    replacements are STAGED epoch-stamped and promoted only after the
    flip (builder._recover_swaps has the recovery matrix), and the
    commit is ONE atomic meta.json rename. A concurrent reader sees the old store or the new one,
    never a half-swapped tree (reads filter segment scans to
    meta['generations']); a crash leaves either the old store plus
    unreferenced garbage dirs (removed by the next compact) or the
    committed new one plus stale side dirs (removed by
    load_meta(recover=True) / the post-commit sweep on rerun). Old
    generation dirs are deleted only AFTER the flip; an in-flight job
    already planned on them can fail mid-scan — the documented
    single-writer / reader-retry contract (an Iceberg deployment keeps
    snapshots until expiry instead)."""
    index_dir = Path(index_dir)
    meta = B.load_meta(index_dir, recover=True)
    cfg = _cfg_from_meta(meta)
    committed = [int(g) for g in meta["generations"]]
    new_gen = _next_gen(index_dir, meta)

    snap = T.Snapshot(spark, index_dir)
    posts = _live_postings(spark, index_dir, committed, snap)

    # liveness comes from doc_meta MINUS tombstones, NOT from surviving
    # posting doc_ids — a live doc with zero postings (empty/whitespace-
    # only content) must keep its sha256/meta row and count toward
    # n_docs/avgdl, or compact would silently diverge from a
    # from-scratch build over the live set.
    dm_live = T.live_doc_meta(spark, index_dir, committed, snap)
    row = _live_doc_stats(dm_live)
    n_docs, avgdl, max_id = float(row["n_docs"]), float(row["avgdl"]), int(row["max_doc_id"])

    new_dict = (
        posts.groupBy("term_id")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(
            spark.read.parquet(str(index_dir / "term_dict")).select("term", "term_id").distinct(),
            "term_id",
        )
    )

    # stage the new store as an UNREFERENCED generation + side dirs;
    # nothing below is visible to readers until the meta rename
    B._encode_and_write(
        posts.join(dm_live.select("doc_id", "doc_len"), "doc_id"),
        index_dir, new_gen, None, cfg, "compact", max_id,
    )
    new_epoch = int(meta.get("epoch", 0)) + 1
    B._stage_side_table(
        index_dir, "doc_meta", dm_live.withColumn("gen", F.lit(new_gen)), new_epoch
    )
    B._stage_side_table(index_dir, "term_dict", new_dict, new_epoch)

    meta.update(
        n_docs=n_docs, avgdl=avgdl, max_doc_id=max_id,
        generations=[new_gen], epoch=new_epoch,
    )
    B._write_meta(index_dir, meta)  # THE commit point (atomic rename)
    B._promote_side_table(index_dir, "doc_meta")
    B._promote_side_table(index_dir, "term_dict")

    # post-commit sweep: dirs no reader with the new meta can reach
    for g in committed:
        for name in ("segments", "manifest"):
            old = index_dir / name / f"generation={g}"
            if old.exists():
                shutil.rmtree(old)
    T.clear(index_dir)
    B.refresh_read_caches(spark, index_dir)
    return meta


def merge_deltas(spark: SparkSession, index_dir: str | Path) -> dict | None:
    """Tiered merge (RdbBase::attemptMerge picking the SMALL tier —
    the reference merges the newest N files among themselves far more
    often than it touches the big base file): collapse every DELTA
    generation (above the base = min(meta['generations'])) into ONE new
    generation, leaving the base — the bulk of the store — untouched.
    At 100 TB this is the merge you can afford to run continuously:
    cost is proportional to the delta tier, not the corpus.

    Semantics:
      * existing tombstones are APPLIED to the merged postings (a
        delta posting an earlier delete/replace annihilated never
        reaches the new generation); rows still masking the base
        generation or the doc_meta liveness view are RETAINED (one row
        per doc), the rest PRUNED (``tombstones.prune``) — so
        replace-heavy continuous ingest doesn't accumulate an unbounded
        tombstone table across merges.
      * newest-generation-wins is resolved among the merged deltas;
        the rewritten postings get the next generation number, so they
        still win over the base at read time.
      * doc_meta is untouched: its ``gen`` column is a per-doc version
        ordinal ordered consistently with the (monotonic) new
        generation number, so liveness/max_by semantics are unchanged.
      * global stats are RESTORED TO EXACT (VERDICT r04 item 2, format
        v2): term_dict df — maintained as the sum of every committed
        generation's raw posting counts — has the merged deltas' raw
        contribution replaced by their live one (raw from block
        metadata alone, sum(n_docs) per term; live counted off the
        merged postings the job re-encodes anyway), and n_docs/avgdl
        are recomputed from the tombstone-filtered doc_meta liveness
        view. With read-time scoring this makes scored top-k on the
        merged store hash-identical to a fresh build over the live doc
        set, PROVIDED no BASE-generation doc is masked by a tombstone
        (base-doc deletes/replaces leave their raw df counted until
        ``compact`` — Lucene's docFreq-includes-deletes semantics, and
        still far tighter than the reference's Posdb::getTermFreq) and
        adds use fresh doc_ids or replace=True (re-adding a base doc
        WITHOUT replace double-counts it, as it would in any LSM).

    Commit protocol (ADVICE r04): the merged generation is encoded as
    an UNREFERENCED generation dir and the df-folded term_dict is
    STAGED epoch-stamped (never applied to the live dict), then ONE
    atomic meta.json rename flips readers from {deltas} to {new_gen}
    and commits the stats; the staged dict is promoted and the old
    delta dirs deleted only after the flip. No read window can see a
    delta's postings twice, a crash leaves either the old committed
    set (garbage swept by the next writer's recovery) or the new one,
    and a rerun after any crash applies the df fold exactly once
    (builder._recover_swaps).

    Returns the new meta when a merge ran, None when there was nothing
    to merge (fewer than two delta generations — the same contract as
    ``maybe_compact``, so callers can tell a real merge from a no-op)."""
    index_dir = Path(index_dir)
    meta = B.load_meta(index_dir, recover=True)
    cfg = _cfg_from_meta(meta)
    committed = [int(g) for g in meta["generations"]]
    base_gen = min(committed)
    deltas = [g for g in committed if g != base_gen]
    if len(deltas) < 2:
        return None
    new_gen = _next_gen(index_dir, meta)

    snap = T.Snapshot(spark, index_dir)
    posts = _live_postings(spark, index_dir, deltas, snap).persist()

    # exact df fold: raw delta contribution from block METADATA only
    # (sum of per-block posting counts — no blob decode), live from the
    # merged postings this job re-encodes anyway
    raw = (
        spark.read.parquet(str(index_dir / "segments"))
        .filter(F.col("generation").isin(deltas))
        .groupBy("term_id")
        .agg(F.sum("n_docs").alias("raw_df"))
    )
    live = posts.groupBy("term_id").agg(F.count(F.lit(1)).alias("live_df"))
    adj = (
        raw.join(live, "term_id", "full")
        .select(
            "term_id",
            (
                F.coalesce(F.col("live_df"), F.lit(0))
                - F.coalesce(F.col("raw_df"), F.lit(0))
            ).alias("df_adj"),
        )
        .filter(F.col("df_adj") != 0)
    )
    merged_dict = (
        spark.read.parquet(str(index_dir / "term_dict"))
        .join(adj, "term_id", "left")
        .withColumn("df", F.col("df") + F.coalesce(F.col("df_adj"), F.lit(0)))
        .drop("df_adj")
    )

    # doc_len join for the v2 dls stream (tf/positions carry through
    # unchanged; scores are read-time, so no re-scoring job exists)
    dm_live = T.live_doc_meta(spark, index_dir, committed, snap)
    new_epoch = int(meta.get("epoch", 0)) + 1
    try:
        B._encode_and_write(
            posts.join(dm_live.select("doc_id", "doc_len"), "doc_id"),
            index_dir, new_gen, None, cfg, "delta_merge", meta["max_doc_id"],
        )
        # stage the df-folded dict UNREFERENCED: the live term_dict is
        # untouched until the flip, so a crash here rolls the fold back
        # and the rerun (which still sees >= 2 deltas) applies it once
        B._stage_side_table(index_dir, "term_dict", merged_dict, new_epoch)
    finally:
        posts.unpersist()

    row = _live_doc_stats(dm_live)
    meta.update(
        n_docs=float(row["n_docs"]),
        avgdl=float(row["avgdl"]),
        generations=sorted((set(committed) - set(deltas)) | {new_gen}),
        epoch=new_epoch,
    )
    B._write_meta(index_dir, meta)  # atomic flip: {deltas} -> {new_gen}
    B._promote_side_table(index_dir, "term_dict")
    B.refresh_read_caches(spark, index_dir)
    for g in deltas:
        for name in ("segments", "manifest"):
            old = index_dir / name / f"generation={g}"
            if old.exists():
                shutil.rmtree(old)
    T.prune(spark, index_dir, meta["generations"])
    B.refresh_read_caches(spark, index_dir)
    return meta


def maybe_compact(
    spark: SparkSession,
    index_dir: str | Path,
    max_generations: int = 4,
    mode: str = "deltas",
) -> dict | None:
    """Automatic merge policy (RdbBase::attemptMerge / the
    ``<mergeFiles>`` trigger in the reference's Rdb config): merge
    when live generations exceed ``max_generations``, else no-op.

    ``mode="deltas"`` runs the tiered ``merge_deltas`` (cost ∝ delta
    tier — the continuous-ingest setting); ``mode="full"`` runs
    ``compact`` (cost ∝ corpus, restores exact stats — the periodic
    setting). Returns the new meta when a merge ran, None otherwise.

    ``max_generations`` must be ≥ 2 in deltas mode: a delta merge can
    never go below base + one delta, so a budget of 1 would trigger on
    every add yet never be met — raise instead of looping silently."""
    if mode not in ("deltas", "full"):
        raise ValueError(f"mode must be deltas|full, got {mode!r}")
    if mode == "deltas" and max_generations < 2:
        raise ValueError(
            "max_generations must be >= 2 in deltas mode (the tiered merge "
            "keeps generation 0 plus one merged delta); use mode='full' to "
            "compact down to a single generation"
        )
    if len(B.load_meta(index_dir)["generations"]) <= max_generations:
        return None
    if mode == "full":
        return compact(spark, index_dir)
    return merge_deltas(spark, index_dir)
