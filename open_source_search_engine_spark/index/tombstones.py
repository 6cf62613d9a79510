"""Tombstones — the delete format, owned by this module alone.

A delete or replace writes rows ``(doc_id long, before_generation
int)`` under ``<index_dir>/tombstones/``: negative keys, RdbList.cpp
delete-key annihilation (SURVEY.md §1.1). The rule every read applies
(Msg5's merged read): per doc the highest bar wins, and a row of
generation g — a posting, or a doc_meta version — is dead iff
g < bar. ``segments.decode_blocks`` applies the same rule to the
driver arrays inside the decode kernels.

One on-disk size switch picks how a read ships the table. Up to
SMALL_MAX_BYTES (trickle deletes, the common case; merges prune the
table besides) the per-doc arrays load driver-side once and ride in
the kernel closures, and DataFrame masks broadcast. Above it (a mass
delete, e.g. a retention sweep through the delete_documents DataFrame
overload) nothing passes through the driver: kernels get the table by
a cogrouped shuffle and masks join by shuffle.
"""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DIR = "tombstones"
SMALL_MAX_BYTES = 64 * 1024 * 1024


def files(index_dir) -> list[Path]:
    """The tombstone table's parquet files (Spark's ``_SUCCESS``
    markers and hidden ``.crc`` files are not listed)."""
    tdir = Path(index_dir) / DIR
    return sorted(tdir.glob("*.parquet")) if tdir.exists() else []


def _arrays(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray] | None:
    """(doc_ids sorted asc, bar per doc) — decode_blocks' input."""
    if len(pdf) == 0:
        return None
    pdf = pdf.groupby("doc_id", as_index=False)["before_generation"].max()
    pdf = pdf.sort_values("doc_id")
    return (
        pdf["doc_id"].to_numpy(np.int64),
        pdf["before_generation"].to_numpy(np.int64),
    )


def _per_doc(spark: SparkSession, paths: list[Path]) -> DataFrame:
    return (
        spark.read.parquet(*[str(p) for p in paths])
        .groupBy("doc_id")
        .agg(F.max("before_generation").alias("before_generation"))
    )


class Snapshot:
    """One listing of the tombstone table, taken once per handle (a
    ColdIndex, or a QueryEngine per commit) or per writer job; every
    read through it sees exactly the listed files. ``small`` is the
    size switch; when small, ``arrays`` holds the per-doc bars (None
    when there are no tombstones)."""

    def __init__(self, spark: SparkSession, index_dir):
        self.spark = spark
        self.files = files(index_dir)
        on_disk = sum(p.stat().st_size for p in self.files)
        self.small = not self.files or on_disk <= SMALL_MAX_BYTES
        self.arrays = None
        if self.files and self.small:
            import pyarrow.dataset as ds

            tbl = ds.dataset([str(p) for p in self.files], format="parquet").to_table()
            self.arrays = _arrays(tbl.to_pandas())

    def mask(self, rows: DataFrame, gen_col: str) -> DataFrame:
        """``rows`` (with doc_id and ``gen_col``) minus the dead ones."""
        if not self.files:
            return rows
        ts = _per_doc(self.spark, self.files)
        return (
            rows.join(F.broadcast(ts) if self.small else ts, "doc_id", "left")
            .filter(
                F.col("before_generation").isNull()
                | (F.col(gen_col) >= F.col("before_generation"))
            )
            .drop("before_generation")
        )

    def apply_kernel(
        self, seg: DataFrame, kernel_factory, out_schema: str, n_salts: int
    ) -> DataFrame:
        """Run a per-salt decode kernel ``kernel_factory(arrays)`` over
        ``seg`` grouped by salt — one kernel call per salt, whatever the
        number of terms or buckets. ``ColdIndex.spark_scan`` is the
        one caller.

        Small: the arrays ride in the closure, zero extra shuffle.
        Large: the per-doc table is replicated to every salt (n_salts
        copies, not corpus-scale) and cogrouped into the kernels. Every
        salt needs the full set: doc-range salts drift across
        generations, so a replaced doc's old-salt postings must be
        annihilated wherever they sit. Per-task memory is
        O(|tombstones|); past that the answer is a merge, which prunes
        the table. Kernels must accept an empty frame (a salt present
        only on the tombstone side)."""
        if self.small:
            return seg.groupBy("salt").applyInPandas(kernel_factory(self.arrays), out_schema)
        salts = self.spark.range(n_salts).select(F.col("id").cast("int").alias("salt"))
        ts_rep = _per_doc(self.spark, self.files).crossJoin(salts)

        def cokernel(seg_pdf: pd.DataFrame, ts_pdf: pd.DataFrame) -> pd.DataFrame:
            return kernel_factory(_arrays(ts_pdf[["doc_id", "before_generation"]]))(seg_pdf)

        return (
            seg.groupBy("salt")
            .cogroup(ts_rep.groupBy("salt"))
            .applyInPandas(cokernel, out_schema)
        )


def live_doc_meta(
    spark: SparkSession, index_dir, generations: list[int], snap: Snapshot
) -> DataFrame:
    """The one liveness view of doc_meta (titledb here, SURVEY.md
    §2.1 S8): rows of committed generations only (an add appends its
    rows before its meta flip, so an in-flight or crashed add stays
    invisible), newest row per doc_id, minus tombstoned docs. Facets,
    NOT universes, metadata filters and every writer's stats read it.
    ``generations`` is the committed set, or the set a writer is about
    to commit.

    One generation and no tombstones (a fresh build, or just after a
    compact) means one row per doc, all live: the groupBy is skipped."""
    dm = spark.read.parquet(str(Path(index_dir) / "doc_meta"))
    dm = dm.filter(F.col("gen") <= max(int(g) for g in generations))
    if len(generations) <= 1 and not snap.files:
        return dm.drop("gen")
    extra = [c for c in dm.columns if c not in ("doc_id", "gen")]
    dm = dm.groupBy("doc_id").agg(
        *[F.max_by(c, "gen").alias(c) for c in extra],
        F.max("gen").alias("gen"),
    )
    return snap.mask(dm, "gen").select("doc_id", *extra)


def live_rows(
    doc_ids: np.ndarray, gens: np.ndarray, max_gen: int, arrays
) -> np.ndarray:
    """``live_doc_meta``'s rule on doc_meta columns held as numpy
    arrays: the indices of the live rows — gen <= ``max_gen``, the
    newest row per doc_id, minus docs whose newest row sits below
    their tombstone bar (``arrays`` is ``Snapshot.arrays``)."""
    idx = np.flatnonzero(gens <= max_gen)
    idx = idx[np.lexsort((gens[idx], doc_ids[idx]))]
    d = doc_ids[idx]
    idx = idx[np.append(d[1:] != d[:-1], True)]  # last = newest per doc
    if arrays is not None and idx.size:
        ts_ids, bars = arrays
        at = np.minimum(np.searchsorted(ts_ids, doc_ids[idx]), ts_ids.size - 1)
        dead = (ts_ids[at] == doc_ids[idx]) & (gens[idx] < bars[at])
        idx = idx[~dead]
    return idx


def live_doc_stats(index_dir, generations: list[int], snap: Snapshot) -> dict:
    """(n_docs, avgdl, max_doc_id) over the live document set, computed
    in the driver: doc_meta's (doc_id, doc_len, gen) read with pyarrow
    and ``live_rows`` — the same numbers as ``builder._live_doc_stats``
    over ``live_doc_meta`` (a sum of integer doc lengths is exact in
    both, so avgdl is bit-identical). ``snap`` must be small. avgdl and
    max_doc_id are None for an empty live set, as Spark's aggregates
    are."""
    import pyarrow.dataset as ds

    tbl = ds.dataset(str(Path(index_dir) / "doc_meta"), format="parquet").to_table(
        columns=["doc_id", "doc_len", "gen"]
    )
    doc_ids = tbl.column("doc_id").to_numpy().astype(np.int64, copy=False)
    live = live_rows(
        doc_ids,
        tbl.column("gen").to_numpy().astype(np.int64, copy=False),
        max(int(g) for g in generations),
        snap.arrays,
    )
    n = live.size
    return {
        "n_docs": float(n),
        "avgdl": float(tbl.column("doc_len").to_numpy()[live].sum()) / n if n else None,
        "max_doc_id": int(doc_ids[live].max()) if n else None,
    }


def append(spark: SparkSession, index_dir, doc_ids, bar: int) -> None:
    """Tombstone ``doc_ids`` below generation ``bar``. A DataFrame
    (with a doc_id column) is appended distributed, so a mass delete or
    a large replace never routes ids through the driver; Spark's
    ``_SUCCESS`` files are skipped by every reader. A Python list is
    written driver-side with pyarrow: a handful of ids should not pay
    ~5 s of job overhead (the reference's negative keys are single
    records, Rdb::addRecord)."""
    tdir = Path(index_dir) / DIR
    if isinstance(doc_ids, DataFrame):
        doc_ids.select(
            F.col("doc_id").cast("long"),
            F.lit(bar).cast("int").alias("before_generation"),
        ).write.mode("append").parquet(str(tdir))
    else:
        import pyarrow as pa
        import pyarrow.parquet as pq

        tdir.mkdir(parents=True, exist_ok=True)
        ids = [int(d) for d in doc_ids]
        pq.write_table(
            pa.table({
                "doc_id": pa.array(ids, pa.int64()),
                "before_generation": pa.array([bar] * len(ids), pa.int32()),
            }),
            tdir / f"tombstones-{uuid.uuid4().hex}.parquet",
        )
    spark.catalog.refreshByPath(str(tdir))


def clear(index_dir) -> None:
    """Drop the whole table (after a merge of every generation —
    ``compact`` — which applied it)."""
    shutil.rmtree(Path(index_dir) / DIR, ignore_errors=True)


def prune(spark: SparkSession, index_dir, base_generations: list[int]) -> None:
    """After a committed merge that left the base generation unmerged
    (``merge_deltas``; ``base_generations`` is the new committed set):
    drop rows that no longer mask anything and collapse the rest to
    one row per doc. A row ``(doc_id, bar)`` still matters iff it masks
    (a) BASE-generation postings — doc_meta has a row of the doc at the
    base generation (min of ``base_generations``: every merged posting
    carries a generation at or above every existing bar, so only the
    base can be masked) — or (b) the doc_meta liveness view — the doc's
    newest row sits below the bar (a doc added and deleted within the
    delta tier). Without this sweep replace-mode ingest grows the table
    by one row per updated doc per batch, re-joined by every read.

    Crash-safe: the pruned rows are APPENDED first (a semantic subset;
    reads take max-per-doc), then the old files are unlinked; any
    crash point leaves a correct superset. The old files are listed
    BEFORE the read plan is built and the read targets exactly them,
    so a file a concurrent delete appends meanwhile is neither folded
    nor deleted (ADVICE r04)."""
    old_files = files(index_dir)
    if not old_files:
        return
    base_gen = min(int(g) for g in base_generations)
    dm = (
        spark.read.parquet(str(Path(index_dir) / "doc_meta"))
        .groupBy("doc_id")
        .agg(
            F.max("gen").alias("max_gen"),
            F.max((F.col("gen") == base_gen).cast("int")).alias("has_base"),
        )
    )
    live = (
        _per_doc(spark, old_files).join(dm, "doc_id", "left")
        .filter(
            (F.col("has_base") == 1)
            | (F.col("max_gen") < F.col("before_generation"))
        )
        .select("doc_id", F.col("before_generation").cast("int").alias("before_generation"))
    )
    tdir = Path(index_dir) / DIR
    live.write.mode("append").parquet(str(tdir))
    for p in old_files:
        p.unlink()
    if files(index_dir):
        spark.catalog.refreshByPath(str(tdir))
    else:
        shutil.rmtree(tdir)
