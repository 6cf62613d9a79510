"""M5 — incremental index maintenance: add / delete / compact.

LSM semantics lifted from the reference (SURVEY.md §1.1, §2.10):

  * ``add_documents``    → a new *generation* of segments (the RdbDump
    of a fresh memtable), written by the build's own generation writer
    (``builder._write_generation``): only the new docs are
    tokenized/encoded; the existing generations are untouched. Blocks
    are stat-free, so every generation scores at read time with the
    live (df, N, avgdl) the add commits.
  * ``delete_documents`` → tombstones — negative keys (RdbList.cpp
    delete-key annihilation) that mask a doc below a generation bar.
    Queries apply them at read time (Msg5-style merged read);
    ``replace=True`` adds makes updates: old version annihilated, new
    version indexed. The format, the size switch and the doc_meta
    liveness view live in ``index/tombstones.py``; this module only
    picks the bars and calls it.
  * ``merge_deltas`` / ``compact`` → ONE merge (``_merge``, the
    RdbMerge.cpp executor) run over the generations the caller picks
    (RdbBase::attemptMerge's choice): the delta tier, or every
    committed generation. It decodes those generations back to posting
    tuples once (a mapInArrow over the read path's block decoder),
    drops tombstoned versions, keeps the newest generation per
    (term, doc) and encodes ONE new generation with the build's
    encoder (``builder._encode_and_write``), which re-sorts instead of
    running a hand-written k-way file merge: a merge output of up to
    ``builder.POSTINGS_PER_ENCODE_TASK`` postings is collected and
    sorted in the driver (one ``np.lexsort``) and written there; a
    larger one is a distributed sort, shuffle + sortWithinPartitions
    per (bucket, salt) partition. The decode, the df swap and the
    live stats stay Spark jobs. The merge commits through ``builder._commit`` (an
    ATOMIC meta.json flip, then recovery's roll-forward): readers
    filter segment scans to meta['generations'], so they see the old
    store or the new one, never a half-swapped tree (ADVICE/VERDICT
    r04 item 4). Generation numbers therefore keep increasing across
    merges; a full merge's base never resets to 0.

Stats exactness (format v2, VERDICT r04 item 2): blocks store only
(tf, dl) and scores are computed at read time from the live
(df, N, avgdl), so scored reads are exact whenever term_dict/meta are.
term_dict df is always the sum of the committed generations' raw
posting counts. ``add_documents`` folds the new generation's counts in;
the merge swaps the merged generations' counts for the new one's, read
from block metadata alone. N/avgdl always come from the tombstone-
filtered liveness view. The one remaining approximation is Lucene's:
postings of docs in UNMERGED generations that tombstones mask still
count toward df until a merge covers them — for base-generation docs,
until ``compact`` (docFreq-includes-deletes semantics; the reference
drifts far more, Posdb::getTermFreq).
"""

from __future__ import annotations

from collections.abc import Iterator
from pathlib import Path

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_source_search_engine_spark.config import EngineConfig
from open_source_search_engine_spark.index import builder as B
from open_source_search_engine_spark.index import tombstones as T
from open_source_search_engine_spark.index.segments import (
    BLOCK_SCHEMA,
    _binary_array,
    decode_block_rows,
)


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


def _live_postings(
    spark: SparkSession, index_dir: Path, generations: list[int], snap: T.Snapshot
) -> DataFrame:
    """decode → tombstone-filter → newest-generation-wins: the merge's
    read of ``generations`` (Msg5's view of an Rdb). ``generations``
    is always explicit (from meta['generations']) so a crashed merge's
    garbage dirs are never decoded."""
    seg = spark.read.schema(BLOCK_SCHEMA).parquet(str(index_dir / "segments"))
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
    budget, ``maybe_compact`` merges the delta tier. Without it
    generations accumulate unboundedly and every list read pays one
    decode per generation."""
    if max_generations is not None:
        # fail before the (expensive) add, not inside maybe_compact after it
        _check_budget(max_generations)
    index_dir = Path(index_dir)
    meta = B.load_meta(index_dir, recover=True)
    gen = _next_gen(index_dir, meta)
    if replace:
        # distributed append — never collect incoming ids to the driver
        # (a large re-ingest would OOM it; the reference's negative
        # keys flow through the same Msg4 fan-out as adds). Written
        # before the writer's liveness snapshot, so N/avgdl exclude the
        # replaced versions.
        # NOTE df drift (documented): replaced docs' term_dict df is
        # not decremented here, so scores drift until a merge covers
        # the replaced version's generation — compact() for the base;
        # under a long replace=True loop run compact() periodically.
        T.append(spark, index_dir, docs, gen)
    # the build's own writer: one tokenize pass staged to parquet, the
    # doc_meta append, the df fold STAGED for the next epoch and the
    # encode of an unreferenced generation dir. (In replace mode the
    # tombstones are already visible — a replaced doc is briefly absent
    # rather than briefly doubled, the standard LSM delete-before-add
    # transient.)
    meta = B._write_generation(
        spark, docs, index_dir, gen, _cfg_from_meta(meta), meta,
        anchor_edges=anchor_edges, input_snapshot=input_snapshot,
    )
    B._commit(spark, index_dir, meta)
    if max_generations is not None:
        return maybe_compact(spark, index_dir, max_generations) or meta
    return meta


def decode_segments_to_postings(seg: DataFrame) -> DataFrame:
    """Segments → (term_id, doc_id, tf, generation[, pos_blob])
    posting tuples: a mapInArrow over ``segments.decode_block_rows``,
    the read path's decoder. Per-posting position streams are
    self-contained (codec.positions_encode), so compaction re-slices
    block pos_blobs at posting boundaries and carries the raw bytes
    through to the re-encoder as zero-copy slices of the block stream
    — positions are never re-encoded."""
    has_pos = "pos_blob" in seg.columns
    cols = ["term_id", "generation", "n_docs", "docs_blob", "tfs_blob"]
    names = ["term_id", "doc_id", "tf", "generation"]
    if has_pos:
        cols.append("pos_blob")
        names.append("pos_blob")

    def it(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            counts = rb.column("n_docs").to_numpy().astype(np.int64)
            docs, tfs, _dls, pos = decode_block_rows(
                counts,
                rb.column("docs_blob"),
                rb.column("tfs_blob"),
                pos_blob=rb.column("pos_blob") if has_pos else None,
            )
            arrays = [
                np.repeat(rb.column("term_id").to_numpy().astype(np.int64), counts),
                docs,
                tfs,
                np.repeat(rb.column("generation").to_numpy().astype(np.int64), counts),
            ]
            if has_pos:
                arrays.append(_binary_array(*pos))
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    schema = "term_id long, doc_id long, tf long, generation long"
    if has_pos:
        schema += ", pos_blob binary"
    return seg.select(*cols).mapInArrow(it, schema)


def _merge(
    spark: SparkSession, index_dir: Path, meta: dict, gens: list[int]
) -> dict:
    """THE merge (RdbMerge.cpp): collapse the committed generations
    ``gens`` into ONE new generation, leaving every other committed
    generation untouched; returns the committed meta.

      * tombstones are APPLIED and newest-generation-wins is resolved
        among ``gens`` (``_live_postings``); the new generation number
        is above every existing one, so it still wins over any
        unmerged generation at read time;
      * df: term_dict df is the sum of the committed generations' raw
        posting counts, so the merged generations' counts are swapped
        for the new one's — ``Σ n_docs`` per term from a column-pruned
        read of block metadata, no blob decoded. Terms left at df 0
        are dropped. With every generation merged this equals a fresh
        count over the live set;
      * n_docs/avgdl/max_doc_id come from the liveness view
        (``tombstones.live_doc_meta``), NOT from surviving posting
        doc_ids — a live doc with zero postings (empty content) keeps
        its doc_meta row and counts toward n_docs/avgdl;
      * when the base generation is merged nothing older survives:
        doc_meta is restaged from the liveness view at the new
        generation and the tombstone table, now fully applied, is
        cleared. Otherwise doc_meta is untouched (its ``gen`` column
        orders consistently with the new generation number) and the
        tombstones are pruned to the rows that still mask something
        (``tombstones.prune``).

    Commit: the new generation is encoded UNREFERENCED, the side
    tables are STAGED for the next epoch, and ``builder._commit`` flips
    meta.json and rolls forward (builder._recover_swaps has the crash
    matrix). A crash before the flip leaves the old store plus garbage
    the next writer's recovery sweeps, and the rerun applies the df
    swap exactly once. Old generation dirs are deleted only AFTER the
    flip; an in-flight job already planned on them can fail mid-scan —
    the documented single-writer / reader-retry contract (an Iceberg
    deployment keeps snapshots until expiry instead)."""
    committed = [int(g) for g in meta["generations"]]
    full = min(committed) in gens
    new_gen = _next_gen(index_dir, meta)
    epoch = int(meta.get("epoch", 0)) + 1
    snap = T.Snapshot(spark, index_dir)
    dm_live = T.live_doc_meta(spark, index_dir, committed, snap)
    stats = B._live_doc_stats(dm_live)
    # every doc deleted: commit an empty store (avg and max over no
    # rows are null); max_doc_id keeps its last value
    avgdl = float(stats["avgdl"] or 0.0)
    max_doc_id = int(meta["max_doc_id"] if stats["max_doc_id"] is None else stats["max_doc_id"])
    B._encode_and_write(
        _live_postings(spark, index_dir, gens, snap).join(
            dm_live.select("doc_id", "doc_len"), "doc_id"
        ),
        index_dir, new_gen, None, _cfg_from_meta(meta), "merge", max_doc_id,
        # the merged generations' postings bound the merge's output
        B.manifest_postings(index_dir, gens),
    )
    # explicit schemas (here and in _live_postings) spare each read a
    # schema-inference job; generation/bucket still come from the paths
    n = F.col("n_docs")
    swap = (
        spark.read.schema("term_id long, n_docs int")
        .parquet(str(index_dir / "segments"))
        .filter(F.col("generation").isin([*gens, new_gen]))
        .groupBy("term_id")
        .agg(F.sum(F.when(F.col("generation") == new_gen, n).otherwise(-n)).alias("swap"))
    )
    td = (
        spark.read.parquet(str(index_dir / "term_dict"))
        .join(swap, "term_id", "left")
        .withColumn("df", F.col("df") + F.coalesce(F.col("swap"), F.lit(0)))
        .drop("swap")
        .filter(F.col("df") > 0)
    )
    B._stage_side_table(index_dir, "term_dict", B._term_sorted(td), epoch)
    if full:
        B._stage_side_table(
            index_dir, "doc_meta", dm_live.withColumn("gen", F.lit(new_gen)), epoch
        )
    meta = meta | {
        "n_docs": float(stats["n_docs"]),
        "avgdl": avgdl,
        "max_doc_id": max_doc_id,
        "generations": sorted((set(committed) - set(gens)) | {new_gen}),
        "epoch": epoch,
    }
    B._commit(spark, index_dir, meta)
    if full:
        T.clear(index_dir)
    else:
        T.prune(spark, index_dir, meta["generations"])
    return meta


def compact(spark: SparkSession, index_dir: str | Path) -> dict:
    """Full merge: ``_merge`` over every committed generation — ONE
    fresh base generation, no tombstones, exact stats. Equivalent to a
    from-scratch build over the live document set (SURVEY.md §5.5
    merge test); cost ∝ corpus."""
    index_dir = Path(index_dir)
    meta = B.load_meta(index_dir, recover=True)
    return _merge(spark, index_dir, meta, meta["generations"])


def merge_deltas(spark: SparkSession, index_dir: str | Path) -> dict | None:
    """Tiered merge (RdbBase::attemptMerge picking the SMALL tier —
    the reference merges the newest N files among themselves far more
    often than it touches the big base file): ``_merge`` over every
    DELTA generation (above the base = min(meta['generations'])),
    leaving the base — the bulk of the store — untouched. At 100 TB
    this is the merge you can afford to run continuously: cost is
    proportional to the delta tier, not the corpus.

    Scored top-k on the merged store is hash-identical to a fresh
    build over the live doc set PROVIDED no BASE-generation doc is
    masked by a tombstone (its raw df stays counted until ``compact``)
    and adds use fresh doc_ids or replace=True (re-adding a base doc
    WITHOUT replace double-counts it, as it would in any LSM).

    Returns the new meta when a merge ran, None when there was nothing
    to merge (fewer than two delta generations — the same contract as
    ``maybe_compact``, so callers can tell a real merge from a no-op)."""
    index_dir = Path(index_dir)
    meta = B.load_meta(index_dir, recover=True)
    deltas = sorted(int(g) for g in meta["generations"])[1:]
    if len(deltas) < 2:
        return None
    return _merge(spark, index_dir, meta, deltas)


def _check_budget(max_generations: int) -> None:
    # a delta merge can never go below base + one delta, so a budget of
    # 1 would trigger on every add yet never be met
    if max_generations < 2:
        raise ValueError(
            "max_generations must be >= 2 (the tiered merge keeps the base "
            "generation plus one merged delta); call compact() to merge "
            "down to a single generation"
        )


def maybe_compact(
    spark: SparkSession, index_dir: str | Path, max_generations: int = 4
) -> dict | None:
    """Automatic merge policy (RdbBase::attemptMerge / the
    ``<mergeFiles>`` trigger in the reference's Rdb config): run the
    tiered ``merge_deltas`` (cost ∝ delta tier — the continuous-ingest
    setting) when live generations exceed ``max_generations`` (≥ 2),
    else no-op. Returns the new meta when a merge ran, None otherwise.
    A full merge is ``compact``."""
    _check_budget(max_generations)
    if len(B.load_meta(index_dir)["generations"]) <= max_generations:
        return None
    return merge_deltas(spark, index_dir)
