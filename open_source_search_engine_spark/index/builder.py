"""M3 — segment-store index build: the Spark expression of the
reference's index pipeline (SURVEY.md §3.2):

    XmlDoc::hashAll            → tokenize + posexplode + groupBy  (postings)
    Msg4 fan-out to shards     → salted repartition by (term-bucket, doc-range)
    RdbTree sorted memtable    → sortWithinPartitions / in-kernel sort
    RdbDump sorted run + RdbMap→ block encoder (segments.make_encode_kernel)
    Rdb stats                  → DataFrame aggs (doc_meta / term_dict / stats)

Who writes what. Tokenizing, staging and the doc_meta append are
always Spark jobs. A generation of up to POSTINGS_PER_ENCODE_TASK
postings (every add, merge and build of a small store) is encoded in
the driver: one collect, an ``np.lexsort``, the encode kernel and one
pyarrow file per bucket, with the manifest counted from the encoded
blocks — the RdbDump of a memtable by the process that holds it. Such
an add onto a small store (small tombstones; term_dict plus doc_meta
within DRIVER_FOLD_MAX_ROWS rows) also folds its df counts into
term_dict and computes the live N/avgdl in the driver with pyarrow and
numpy. Larger generations and stores run the same steps as Spark jobs
(the salted shuffle, ``mapInArrow`` encode, partitioned write and
read-back; the union/groupBy fold; the live-doc aggregation); both
paths write the same rows (tests/test_writer_paths.py).

Layout under ``index_dir`` (plain parquet dirs; Iceberg would add its
manifests on top — no Iceberg jar in-sandbox, SURVEY.md §7 M0):

    meta.json                      engine config + corpus stats
    doc_meta/                      (doc_id, doc_len, content_sha256, …)
    term_dict/                     (term, term_id, df)
    segments/generation=G/bucket=B/   block rows (segments.BLOCK_SCHEMA)
    manifest/generation=G/         per-bucket lineage/checkpoint rows
    tombstones/                    (doc_id, before_generation) — tombstones.py

Partitioning at scale: ``bucket = term_id % n_buckets`` makes query
term lookup partition-prunable (O(k) buckets touched per query, not
all — the sharded-by-termId layout, SURVEY.md §1.2); ``salt`` splits
each term's postings into contiguous doc_id ranges so one Zipf head
term cannot pin a single shuffle partition, while keeping every
(term, salt) run doc_id-sorted (concatenating salts in order is the
globally sorted list).

Resumability (north_rule): the manifest is the checkpoint — one row
per (generation, bucket) written only after that bucket's segment
files are on disk. A restarted build reads the manifest and encodes
only buckets with no manifest row; completed buckets are never
re-read or re-written.
"""

from __future__ import annotations

import json
import shutil
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from open_source_search_engine_spark.config import EngineConfig
from open_source_search_engine_spark.functions.hashing import term_id_col
from open_source_search_engine_spark.index import tombstones as T
from open_source_search_engine_spark.index.segments import (
    BLOCK_SCHEMA,
    SEGMENT_FORMAT,
    make_encode_kernel,
    salt_width,
)
from open_source_search_engine_spark.operators.postings import staged_postings
from open_source_search_engine_spark.operators.stats import term_stats

# an add's private staging dir: `<prefix><generation>`
ADD_STAGING_PREFIX = "_staging_gen="
# suffix of the hidden (dot-prefixed) temp names the driver writes
# before a rename: segment files and staged side-table dirs. Not
# `.parquet`, so no reader (small_scan, tombstones.files, Spark,
# pyarrow datasets) ever lists one.
STAGING_TMP_SUFFIX = ".tmp"
# term_dict's term-sorted parts: files (Spark writer, _term_sorted) or
# row groups of one file (driver fold, _stage_driver_fold)
TERM_DICT_PARTS = 8

MANIFEST_SCHEMA = (
    "bucket int, n_terms long, n_blocks long, n_postings long, "
    "built_at string, input_snapshot string"
)

# Postings per encode task (encode_partitions). Every task pays a fixed
# JVM→Python hand-off and writes one parquet file per bucket it holds,
# so a small generation runs fastest as one task; past this size a
# second task's parallelism pays for its fixed cost. A generation that
# gets one task is encoded in the driver instead (_encode_and_write),
# which drops the shuffle, the Python worker and the read-back too.
# Measured on the Spark path: _encode_and_write wall (shuffle, sort,
# encode, write, manifest) with the task count pinned, over staged
# gen_corpus postings
# under perfbench's config (64 buckets, 8 salts, positions), local[4]
# on a 4-core host, median of 3 (2 at 4k and 128k), seconds:
#   docs   postings   n=1    2     4     8     16    64
#   2k     168k       2.3   2.4   2.7   3.3   4.2   6.5
#   4k     336k       3.8   3.3   4.2   4.7   5.4   7.5
#   8k     668k       3.5   2.8   3.0   3.7   4.8   6.7
#   32k    2.67M      8.9   6.0   4.9   6.0   6.3   7.8
#   128k   10.7M     27.4  19.1  13.4  13.6  14.3  14.9
# One task wins up to ~300k postings. Past that, 320k is NOT the
# measured best: it is chosen so the large builds keep the cap's count.
# bench_scaling.py's 360k docs stage 30,377,863 rows (counted: postings
# plus one meta row per doc) and still get 64 tasks (any count over
# 20.16M does); sf1, three copies of that corpus (91.1M rows, 512 x 16
# groups), still gets 256, which needs over 81.6M rows (10% margin) and
# a bound below ~357k. Mid-sized generations (roughly 1-10M postings)
# run more tasks than the table's best: 32k docs get 9 (~6 s), where 4
# take 4.9 s.
POSTINGS_PER_ENCODE_TASK = 320_000

# Rows of term_dict plus doc_meta (side_table_rows) up to which a
# one-task add folds its df and computes the live N/avgdl in the driver
# (_stage_driver_fold, tombstones.live_doc_stats) instead of in Spark.
# Measured: both steps, driver vs Spark (the union/groupBy fold staged
# by _stage_side_table, _live_doc_stats over live_doc_meta), over
# synthetic side tables of R rows each (2% of doc_meta in a delta
# generation, a 10k-term add), local[4] on a 4-core host, median of 3
# after a warm-up; driver peak RSS from ru_maxrss (- = not measured):
#   rows (both)   driver s   Spark s   driver peak MiB
#   40k           0.15       1.42      -
#   500k          0.28       1.52      31
#   2M            0.68       2.03      112
#   4M            1.35       3.13      187
#   8M            2.60       4.75      -
# The driver is faster at every measured size (Spark's fixed ~1.4 s of
# jobs dominates), so the bound is the driver's memory, not speed:
# ~0.05 MiB per thousand rows, about 100 MiB here.
DRIVER_FOLD_MAX_ROWS = 2_000_000


def _salt_col(doc_id: F.Column, max_doc_id: int, n_salts: int) -> F.Column:
    """Contiguous doc_id-range salt in [0, n_salts)."""
    width = max(1, (max_doc_id + n_salts) // n_salts)
    return F.least(
        (doc_id / F.lit(width)).cast("int"), F.lit(n_salts - 1)
    ).alias("salt")


def load_meta(index_dir: str | Path, recover: bool = False) -> dict:
    """Read meta.json. ``recover=True`` (writer paths only — the next
    add_documents/compact/build) additionally repairs a half-finished
    term_dict or doc_meta swap. Readers never mutate the index
    directory: a reader promoting a _next dir concurrently with a
    writer's two renames can make the writer's rename fail, and
    read-only mounts would raise (ADVICE r02)."""
    if recover:
        _recover_swaps(Path(index_dir))
    meta = json.loads((Path(index_dir) / "meta.json").read_text())
    if meta.get("format", 1) != SEGMENT_FORMAT:
        raise ValueError(
            f"index at {index_dir} is segment format "
            f"v{meta.get('format', 1)}; this engine reads v{SEGMENT_FORMAT} "
            "(stats-free blocks, scores computed at read time) — rebuild "
            "with builder.build_index"
        )
    return meta


def _tmp_name(final: Path) -> Path:
    """The hidden temp name a driver write of ``final`` lands under
    before its rename (``STAGING_TMP_SUFFIX``)."""
    return final.parent / f".{final.name}-{uuid.uuid4().hex}{STAGING_TMP_SUFFIX}"


def _read_epoch(d: Path) -> int | None:
    """Epoch stamp of a side-table dir (None when unstamped). The
    `_epoch` marker file starts with an underscore, so Spark / pyarrow
    dataset discovery both skip it (the `_SUCCESS` convention)."""
    f = d / "_epoch"
    try:
        return int(f.read_text())
    except (OSError, ValueError):
        return None


@contextmanager
def _staging_dir(index_dir: Path, name: str, epoch: int):
    """Yield the path a side table's replacement is written to (a dir
    the caller creates), then stamp it with the epoch of the meta.json
    commit that will reference it and rename it to `<name>_next`,
    UNREFERENCED.

    The path is a hidden temp name (``STAGING_TMP_SUFFIX``), so a
    `_next` dir is always whole and stamped: a writer killed mid-write
    leaves only a temp dir recovery sweeps. Nothing a reader touches
    changes until the meta flip; a crash before the flip leaves a
    stamped-ahead dir that recovery discards (rollback), so
    incremental df folds can never be applied twice."""
    nxt = index_dir / f"{name}_next"
    tmp = _tmp_name(nxt)
    yield tmp
    (tmp / "_epoch").write_text(str(int(epoch)))
    if nxt.exists():
        shutil.rmtree(nxt)
    tmp.rename(nxt)


def _stage_side_table(index_dir: Path, name: str, df: DataFrame, epoch: int) -> None:
    """Stage ``df`` as side table ``name``'s replacement, written by
    Spark (``_staging_dir``)."""
    with _staging_dir(index_dir, name, epoch) as tmp:
        df.write.parquet(str(tmp))


def _promote_side_table(index_dir: Path, name: str) -> None:
    """Post-flip promotion of a staged side table: rename-aside so no
    instant exists with NO live dir that recovery can't repair."""
    live = index_dir / name
    nxt = index_dir / f"{name}_next"
    old = index_dir / f"{name}_old"
    if old.exists():
        shutil.rmtree(old)
    if live.exists():
        live.rename(old)
    nxt.rename(live)
    shutil.rmtree(old, ignore_errors=True)


def _commit(spark: SparkSession, index_dir: Path, meta: dict) -> None:
    """THE commit of every writer after the initial build (add_documents
    and merge.py's one merge): the atomic meta.json flip, then
    ``_recover_swaps`` rolls the store forward to it — the side tables
    staged for this epoch are promoted and the generations the flip
    unreferenced are dropped — then Spark's cached reads of the index
    paths are invalidated. A crash after the flip leaves exactly what
    the next writer's recovery finishes, by the same code."""
    _write_meta(index_dir, meta)
    _recover_swaps(index_dir)
    refresh_read_caches(spark, index_dir)


def _recover_swaps(index_dir: Path) -> None:
    """Writer-side crash recovery, and the roll-forward half of every
    commit (``_commit`` runs it right after the flip; every writer's
    ``load_meta(recover=True)`` runs it before starting). The commit
    protocol (every writer after the initial build — add_documents,
    which writes through ``_write_generation``, and merge.py's merge
    behind merge_deltas and compact) is:

        1. append-only artifacts land first (doc_meta rows, tombstones,
           the new generation dir) — all UNREFERENCED by readers, who
           filter postings to meta['generations'] and doc_meta to
           gen <= max(meta['generations']) implicitly (committed
           writers never leave doc_meta rows above that bar);
        2. replacement side tables are STAGED as `<name>_next` stamped
           with epoch = meta['epoch'] + 1 (`_staging_dir`: written
           and stamped in a hidden temp dir, then renamed);
        3. ONE atomic meta.json rename commits the new generation set
           AND the new epoch;
        4. this function promotes the staged side tables and drops the
           generations the new meta no longer references.

    Recovery therefore converges from ANY crash point:

      * `<name>_next` stamped ABOVE meta['epoch'] → the flip never
        happened: discard it (rollback — the live table was never
        touched, so a rerun redoes the fold exactly once);
      * `<name>_next` stamped AT/BELOW meta['epoch'] → the flip
        committed it: finish the promotion;
      * `<name>_next` without a stamp → not written by
        `_staging_dir` (which renames only whole, stamped dirs),
        so it may be partial: discard it;
      * a staging temp dir (``STAGING_TMP_SUFFIX``) → left by a writer
        killed while staging: drop it;
      * live dir missing (crash mid-promotion, which only runs
        post-flip) → promote `_next` if present, else restore `_old`;
      * doc_meta parquet files whose min(gen) exceeds every committed
        generation → a crashed add's orphan append: unlink them (a
        committed add's rows always satisfy gen <= max committed);
      * generation dirs meta.json does not reference → garbage from a
        crashed encode: drop them (a rerun re-encodes from scratch —
        `_encode_and_write` appends, so a half-written dir must never
        be reused; `_next_gen` picks fresh numbers anyway);
      * an add's staging dir (``ADD_STAGING_PREFIX``) → left by a
        killed add: drop it (adds never resume from it).

    Readers never call this (they never mutate the index dir)."""
    meta_path = index_dir / "meta.json"
    if not meta_path.exists():
        return
    for p in [
        *index_dir.glob(f"{ADD_STAGING_PREFIX}*"),
        *index_dir.glob(f".*{STAGING_TMP_SUFFIX}"),
    ]:
        shutil.rmtree(p, ignore_errors=True)
    meta = json.loads(meta_path.read_text())
    committed_epoch = int(meta.get("epoch", 0))
    for name in ("term_dict", "doc_meta"):
        live = index_dir / name
        nxt = index_dir / f"{name}_next"
        old = index_dir / f"{name}_old"
        if not live.exists():
            if nxt.exists():
                nxt.rename(live)
            elif old.exists():
                old.rename(live)
        elif nxt.exists():
            stamp = _read_epoch(nxt)
            if stamp is not None and stamp <= committed_epoch:
                _promote_side_table(index_dir, name)
            else:
                shutil.rmtree(nxt)
        if live.exists() and old.exists():
            shutil.rmtree(old, ignore_errors=True)
    committed = [int(g) for g in meta.get("generations", [])]
    if committed:
        _sweep_orphan_doc_meta(index_dir, max(committed))
        _drop_unreferenced_generations(index_dir, committed)


def _sweep_orphan_doc_meta(index_dir: Path, max_committed_gen: int) -> None:
    """Unlink doc_meta parquet files left by a crashed add_documents:
    the add appends its batch's rows (gen = the new generation number)
    BEFORE the meta flip, so a crash strands files whose every row has
    gen > max(committed). Committed writers never produce such files.
    Decided from parquet footer statistics alone (no data read); a
    file without usable stats falls back to reading its tiny gen
    column."""
    dm = index_dir / "doc_meta"
    if not dm.exists():
        return
    for f in dm.glob("*.parquet"):
        try:
            md = pq.ParquetFile(f).metadata
            gen_idx = next(
                i for i in range(md.num_columns)
                if md.schema.column(i).name == "gen"
            )
            mins = []
            for r in range(md.num_row_groups):
                st = md.row_group(r).column(gen_idx).statistics
                if st is None or not st.has_min_max:
                    raise ValueError("no stats")
                mins.append(st.min)
            file_min = min(mins) if mins else None
        except (StopIteration, ValueError, OSError):
            col = pq.read_table(f, columns=["gen"])["gen"]
            file_min = col.to_pandas().min() if len(col) else None
        if file_min is not None and int(file_min) > max_committed_gen:
            f.unlink()


def _drop_unreferenced_generations(index_dir: Path, committed: list[int]) -> None:
    """Remove generation dirs meta.json does not reference — garbage
    left by a crashed add/merge/compact between encode and commit, and
    the generations a committed merge/compact replaced. Safe: readers
    filter every segment scan to meta['generations'], and a crashed
    initial build never loses its gen-0 work: either
    meta.json exists (it references generation 0), or it doesn't and
    recovery returns before this sweep — in both cases resume keeps
    the committed gen-0 files and done_buckets decides what is left
    (the gen-0 encode runs CONCURRENTLY with the side-table writes
    that gate the meta write, so meta may land before or after it)."""
    for name in ("segments", "manifest"):
        base = index_dir / name
        if not base.exists():
            continue
        for p in base.glob("generation=*"):
            if p.is_dir() and int(p.name.split("=")[1]) not in committed:
                shutil.rmtree(p)


def _write_meta(index_dir: Path, meta: dict) -> None:
    """Atomic (temp + rename): meta.json is THE commit pointer — readers
    filter segment scans to meta['generations'], so a torn/partial
    write would break every concurrent query (ADVICE r04: the
    merge-swap window). rename(2) on one filesystem is atomic."""
    tmp = index_dir / f"meta.json.tmp-{uuid.uuid4().hex}"
    tmp.write_text(json.dumps(meta, indent=1, sort_keys=True))
    tmp.rename(index_dir / "meta.json")


def refresh_read_caches(spark: SparkSession, index_dir: str | Path) -> None:
    """Invalidate Spark's cached plans / file listings for this index's
    on-disk tables. Spark's CacheManager substitutes ANY later read of
    the same path whose plan ``sameResult``-matches a persisted one —
    so a caller's persisted read of, say, term_dict would otherwise be
    silently served (STALE) to every add/merge/compact job reading
    that path after a swap. Observed failure without this: a delta
    merge re-scoring against the pre-swap dictionary inner-joins away
    every posting of every term first seen after the read was
    persisted — new-term postings vanish from the merged generation.
    Writers call this after each commit point; the persisted reads
    self-heal because Spark re-caches them lazily from the new files."""
    index_dir = Path(index_dir)
    for sub in ("term_dict", "segments", "doc_meta", "manifest", T.DIR):
        p = index_dir / sub
        if p.exists():
            spark.catalog.refreshByPath(str(p))


def encode_partitions(n_postings: int, cfg: EngineConfig, shuffle_partitions: int) -> int:
    """The encode's task count: one task per POSTINGS_PER_ENCODE_TASK
    postings, capped by the large-build rule. One task means the
    driver path of ``_encode_and_write``. The cap is a floor of 64
    that scales with the group count: hash-packing many (bucket, salt)
    groups into few partitions gives fat-partition stragglers that
    dominate wall clock once waves are few (measured at 512 buckets x
    16 salts / 1.08M docs: encode 98.6 s at 64 partitions vs 80.1 s at
    256 on 8 pinned cores — BENCH.md §sf1). ≤32 groups per partition
    bounds the packing variance; the 1024 cap keeps per-partition fixed
    costs negligible."""
    n_groups = cfg.n_buckets * cfg.n_salts
    cap = max(shuffle_partitions, 64, min(1024, n_groups // 32))
    return min(cap, max(1, -(-n_postings // POSTINGS_PER_ENCODE_TASK)))


def manifest_postings(index_dir: Path, generations: list[int]) -> int:
    """Σ manifest n_postings over ``generations`` — the postings those
    generations hold, from their manifest rows alone."""
    return sum(
        int(pq.read_table(p, columns=["n_postings"])["n_postings"].to_numpy().sum())
        for g in generations
        for p in (index_dir / "manifest" / f"generation={g}").glob("*.parquet")
    )


def _encode_and_write(
    posts: DataFrame,
    index_dir: Path,
    generation: int,
    buckets: list[int] | None,
    cfg: EngineConfig,
    input_snapshot: str,
    max_doc_id: int,
    n_postings: int,
) -> None:
    """Encode (a subset of buckets of) postings into block rows,
    write segments + manifest rows. ``n_postings`` is the caller's
    estimate of the posting count, read from metadata (no Spark job);
    it sizes the encode (``encode_partitions``).

    ``posts`` needs only (term_id, doc_id, tf, doc_len[, pos_blob]).
    Both paths run the same kernel (segments.make_encode_kernel, which
    recomputes bucket/salt in numpy and verifies the order) and write
    the same block rows; they differ in who sorts and writes them:

      * one task (a generation up to POSTINGS_PER_ENCODE_TASK
        postings — every add and merge of a small store): the driver
        collects the postings once (``toArrow``), sorts them (bucket,
        term_id, salt, doc_id) with ``np.lexsort``, runs the kernel
        and writes one file per bucket with pyarrow
        (``_write_bucket_files``); the manifest rows are counted from
        the encoded blocks. The RdbDump of a memtable by the process
        that holds it (SURVEY.md §3.2): no shuffle, no Python worker,
        no read-back.
      * more tasks: the salted repartition below is THE shuffle — it
        hashes on the (bucket, salt) EXPRESSIONS without
        materializing them as columns (8 fewer bytes per shuffled
        posting), spreading a Zipf head term over n_salts partitions;
        Spark sorts, runs the kernel per partition (mapInArrow) and
        writes; the manifest rows come from a column-pruned read-back
        of the written files."""
    spark = posts.sparkSession
    cols = ["term_id", "doc_id", "tf", "doc_len"]
    if cfg.store_positions and "pos_blob" in posts.columns:
        cols.append("pos_blob")
    sel = posts.select(*cols)
    bucket_expr = F.pmod(F.col("term_id"), F.lit(cfg.n_buckets)).cast("int")
    if buckets is not None:
        sel = sel.filter(bucket_expr.isin(buckets))
    n_tasks = encode_partitions(
        n_postings, cfg, int(spark.conf.get("spark.sql.shuffle.partitions"))
    )
    kernel = make_encode_kernel(cfg.block_size, cfg.n_buckets, max_doc_id, cfg.n_salts)
    seg_dir = index_dir / "segments" / f"generation={generation}"
    if n_tasks == 1:
        # the encode's one Spark job: this collect (perfbench attributes
        # jobs to the enclosing function, so it stays in this one)
        tbl = sel.toArrow()
        term_ids = tbl.column("term_id").to_numpy()
        doc_ids = tbl.column("doc_id").to_numpy()
        order = np.lexsort((
            doc_ids,
            np.minimum(doc_ids // salt_width(max_doc_id, cfg.n_salts), cfg.n_salts - 1),
            term_ids,
            term_ids % cfg.n_buckets,
        ))
        blocks = next(kernel(iter(tbl.take(order).to_batches())))
        man_rows = _write_bucket_files(blocks, seg_dir, generation)
    else:
        # ONE shuffle end to end: the salted repartition (explicit N —
        # AQE respects it), a JVM-side (bucket, term, salt, doc) sort
        # (Tungsten's radix sort is far less memory-bandwidth-hungry
        # than a numpy lexsort+gather in the Python kernel: measured,
        # the numpy path scales 4→16 cores at ~0.46 on this host) and
        # the partitioned write straight off the kernel output. Each
        # of the N tasks writes one file per bucket it holds, so a
        # bucket dir gets at most min(N, n_salts) files. The old plan
        # re-shuffled the ENCODED blocks into n_buckets partitions to
        # get one file per bucket dir — that moved the entire index
        # bytes again and capped write parallelism at n_buckets.
        salt_expr = _salt_col(F.col("doc_id"), max_doc_id, cfg.n_salts)
        blocks = (
            sel.repartition(n_tasks, bucket_expr, salt_expr)
            .sortWithinPartitions(
                bucket_expr, F.col("term_id"), salt_expr, F.col("doc_id")
            )
            .mapInArrow(kernel, BLOCK_SCHEMA)
        )
        blocks.write.mode("append").partitionBy("bucket").parquet(str(seg_dir))
        # manifest AFTER segments land, aggregated from a COLUMN-PRUNED
        # read-back (bucket is the dir partition value; term_id/n_docs
        # are tiny int columns — the blob columns are never touched).
        # Explicit schema: an empty generation (e.g. an all-stopword
        # delta) writes no part files and schema inference would throw.
        written = spark.read.schema(BLOCK_SCHEMA).parquet(str(seg_dir))
        if buckets is not None:
            written = written.filter(F.col("bucket").isin(buckets))
        man_rows = {
            r["bucket"]: (r["n_terms"], r["n_blocks"], r["n_postings"])
            for r in written.groupBy("bucket")
            .agg(
                F.countDistinct("term_id").alias("n_terms"),
                F.count(F.lit(1)).alias("n_blocks"),
                F.sum("n_docs").alias("n_postings"),
            )
            .collect()
        }
    # Every bucket this call was responsible for gets a manifest row
    # (empty ones included) so a resumed build can tell "done and
    # empty" from "not yet encoded". Manifest rows are driver-known
    # metadata — written straight from the driver with pyarrow (the
    # Iceberg pattern: the committer writes manifests, not a
    # distributed job).
    ts = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    want = buckets if buckets is not None else range(cfg.n_buckets)
    counts = [man_rows.get(b, (0, 0, 0)) for b in want]
    man_dir = index_dir / "manifest" / f"generation={generation}"
    man_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "bucket": pa.array(list(want), pa.int32()),
                "n_terms": pa.array([int(c[0]) for c in counts], pa.int64()),
                "n_blocks": pa.array([int(c[1]) for c in counts], pa.int64()),
                "n_postings": pa.array([int(c[2]) for c in counts], pa.int64()),
                "built_at": pa.array([ts] * len(counts), pa.string()),
                "input_snapshot": pa.array([input_snapshot] * len(counts), pa.string()),
            }
        ),
        man_dir / f"manifest-{uuid.uuid4().hex}.parquet",
    )


# Columns of a driver-written segment file with min/max statistics:
# the small scan's term_id filter reads them, and the blob columns'
# byte-string extrema would only bloat the footer.
SEGMENT_STAT_COLUMNS = [
    "salt", "term_id", "block_id", "doc_id_min", "doc_id_max",
    "n_docs", "block_max_tf", "block_min_dl",
]


def _write_bucket_files(blocks: pa.RecordBatch, seg_dir: Path, generation: int) -> dict:
    """Write the encoded ``blocks`` (sorted by bucket) of a one-task
    generation as one parquet file per bucket — the layout the Spark
    path's partitioned write gives: ``bucket=B/`` dirs, no bucket
    column, one row group. Each file is written under a hidden temp
    name, then renamed to a name fixed per (generation, bucket), so a
    resumed build overwrites a file a killed one left instead of
    adding a second copy, and drops the temp files a killed one left
    in the bucket dirs it rewrites (an add's or merge's killed
    generation is unreferenced, and recovery drops its dir). No Arrow
    schema in the footer: readers pass or infer the parquet schema.
    Returns the manifest counts, ``{bucket: (n_terms, n_blocks,
    n_postings)}``. The generation dir is made even when empty: readers
    take a missing committed generation dir for one a later commit
    dropped."""
    seg_dir.mkdir(parents=True, exist_ok=True)
    bucket = blocks.column("bucket").to_numpy()
    starts = np.flatnonzero(np.diff(bucket, prepend=-1))
    ends = np.append(starts[1:], len(bucket))
    body = pa.Table.from_batches([blocks]).drop_columns(["bucket"])
    counts = {}
    for s, e in zip(starts, ends):
        b = int(bucket[s])
        part = body.slice(s, e - s)
        out = seg_dir / f"bucket={b}"
        out.mkdir(parents=True, exist_ok=True)
        for stale in out.glob(f".*{STAGING_TMP_SUFFIX}"):
            stale.unlink()  # a killed writer's temp file: this write redoes it
        final = out / f"part-g{generation}-b{b}.parquet"
        tmp = _tmp_name(final)
        try:
            pq.write_table(
                part, tmp, row_group_size=part.num_rows, store_schema=False,
                write_statistics=SEGMENT_STAT_COLUMNS,
            )
            tmp.rename(final)
        finally:
            tmp.unlink(missing_ok=True)
        tids = part.column("term_id").to_numpy()
        counts[b] = (
            int(np.count_nonzero(tids[1:] != tids[:-1])) + 1,
            part.num_rows,
            int(part.column("n_docs").to_numpy().sum()),
        )
    return counts


def done_buckets(spark: SparkSession, index_dir: str | Path, generation: int = 0) -> set[int]:
    man_dir = Path(index_dir) / "manifest" / f"generation={generation}"
    if not man_dir.exists():
        return set()
    tbl = ds.dataset(str(man_dir), format="parquet").to_table(columns=["bucket"])
    return set(tbl["bucket"].to_pylist())


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str | Path,
    cfg: EngineConfig = EngineConfig(),
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_meta_cols: list[str] | None = None,
    tokenizer_mode: str = "simple",
    resume: bool = False,
    input_snapshot: str = "full",
    index_fields: list[str] | None = None,
    anchor_edges: DataFrame | None = None,
    site_rank_edges: DataFrame | None = None,
    site_col: str = "source",
) -> dict:
    """Full (generation-0) index build. Returns the meta dict.

    ``resume=True`` skips every bucket already present in the
    generation-0 manifest (checkpoint restart, north_rule).

    ``index_fields`` — metadata columns to index as composite
    ``field:value`` terms (the reference's field-prefixed termIds:
    hash64h(field, term) special termlists sharded by termId,
    SURVEY.md §1.2/§2.2 F3). A field restriction then resolves to ONE
    pruned list read instead of a doc_meta scan+join; the terms live
    in term_dict / segments like any other term (tf=1, score unused —
    they are filter lists, not scored lists).

    ``anchor_edges`` — (src_doc_id, dst_doc_id, anchor_text) link
    table: inbound anchor text is indexed INTO the target doc's
    termlists at build time (XmlDoc::hashIncomingLinkText — inlink
    text hashed into the target's posdb lists, SURVEY.md §1.3/§2.3
    J3). Expressed as one doc_id-keyed join concatenating each doc's
    inbound anchors (deterministically src-ordered) after its content
    before the single tokenize pass, so tf/df/doc_len/positions all
    reflect the combined stream and every index-backed operator serves
    anchored semantics with zero extra query-time work. The content
    sha256 invariant stays over the ORIGINAL text column.

    ``site_rank_edges`` — doc-level edge table from which per-site
    inlink ranks are computed (A6) and persisted per doc as a
    ``site_rank`` doc_meta column (the 4-bit siteRank the reference
    bakes into every posdb key) — rank-boosted queries then read
    doc_meta only, never the link graph."""
    index_dir = Path(index_dir)
    index_dir.mkdir(parents=True, exist_ok=True)
    meta = {
        "format": SEGMENT_FORMAT,
        "epoch": 0,  # side-table commit epoch (see _recover_swaps)
        "config": asdict(cfg) | {"stopwords": sorted(cfg.stopwords)},
        "generations": [0],
        "tokenizer_mode": tokenizer_mode,
        "text_col": text_col,
        "index_fields": sorted(index_fields or []),
        "anchored": anchor_edges is not None,
    }
    meta = _write_generation(
        spark, docs, index_dir, 0, cfg, meta,
        id_col=id_col,
        extra_meta_cols=extra_meta_cols,
        anchor_edges=anchor_edges,
        site_rank_edges=site_rank_edges,
        site_col=site_col,
        input_snapshot=input_snapshot,
        resume=resume,
    )
    # a rebuild over an existing dir must invalidate any session-cached
    # plans over the old files (see refresh_read_caches)
    refresh_read_caches(spark, index_dir)
    return meta


def _write_generation(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: Path,
    gen: int,
    cfg: EngineConfig,
    meta: dict,
    id_col: str = "doc_id",
    extra_meta_cols: list[str] | None = None,
    anchor_edges: DataFrame | None = None,
    site_rank_edges: DataFrame | None = None,
    site_col: str = "source",
    input_snapshot: str = "full",
    resume: bool = False,
) -> dict:
    """THE generation writer — every document enters the index here,
    whether by the initial build (``gen == 0``) or by an add (``gen >
    0``), the way the reference indexes every doc through one
    XmlDoc::indexDoc → Msg4 → RdbDump path (SURVEY.md §3.2). Tokenizer
    mode, text column and field terms come from ``meta``.

    Generation 0 writes fresh doc_meta / term_dict and commits ``meta``
    (filled with the observed corpus stats) itself; ``resume=True``
    reuses its staging checkpoint and skips encoded buckets. A
    generation above 0 appends its doc_meta rows, STAGES the df-folded
    term_dict for the next epoch and encodes an unreferenced
    generation dir; it returns the meta for the caller's ``_commit``."""
    # one anchor join: inbound anchor text is concatenated after each
    # doc's content before the single tokenize pass
    text_col = meta["text_col"]
    tok_docs, tok_text_col = docs, text_col
    if anchor_edges is not None:
        agg = anchor_edges.groupBy(F.col("dst_doc_id").alias(id_col)).agg(
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
        tok_docs = docs.join(agg, id_col, "left").withColumn(
            "__text_anchored", F.concat_ws(" ", F.col(text_col), F.col("__anchors"))
        )
        tok_text_col = "__text_anchored"

    # ONE tokenize pass, staged to parquet and reused by every
    # downstream stage (the RdbTree memtable moment — nothing re-reads
    # raw text). staged_postings emits pre-combined posting rows AND
    # per-doc meta rows (doc_len, sha256) from the same batch, so
    # doc_meta is a pure FILTER of the staged output — no groupBy, no
    # join back to the source table. Parquet staging beats a JVM
    # .persist() here: columnar compressed, column-pruned downstream
    # scans, no executor-memory/GC pressure. Generation 0's staging dir
    # is the build's resume checkpoint (kept until the build commits,
    # so a crashed build resumes WITHOUT re-tokenizing); an add's is
    # private to that add — never read by a later add or a resumed
    # build, and a retried add re-tokenizes. On a real cluster it
    # lives on the shared store next to the index.
    staging = index_dir / ("_staging" if gen == 0 else f"{ADD_STAGING_PREFIX}{gen}")
    dm_dir = index_dir / "doc_meta"
    td_dir = index_dir / "term_dict"
    # corpus stats observed ON the staging write (Observation =
    # accumulator-backed metrics, zero extra scan): every downstream
    # job — doc_meta, term_dict AND the encode (which needs max_doc_id
    # for the salt) — is then free of stat dependencies on any other,
    # so the three run CONCURRENTLY below (r05 §serial-overhead: the
    # two side-table jobs are too small to fill the cores at high
    # parallelism; serialized they added ~2 s of underparallelized
    # wall to the 8-core leg, ~5 % of the build). Staging rows with
    # tf == 0 are the per-doc meta rows.
    stat_aggs = (
        F.count(F.when(F.col("tf") == 0, 1)).cast("double").alias("n_docs"),
        F.avg(F.when(F.col("tf") == 0, F.col("doc_len"))).alias("avgdl"),
        F.max("doc_id").alias("max_doc_id"),
    )
    staging_obs: Observation | None = None
    if not (gen == 0 and resume and (staging / "_SUCCESS").exists()):
        staging_obs = Observation(f"corpus_stats_{uuid.uuid4().hex[:8]}")
        staged_postings(
            tok_docs,
            tok_text_col,
            id_col,
            mode=meta["tokenizer_mode"],
            stopwords=cfg.stopwords,
            sha_col=text_col if anchor_edges is not None else None,
        ).observe(staging_obs, *stat_aggs).write.mode("overwrite").parquet(
            str(staging)
        )
    sp = spark.read.parquet(str(staging))
    posts = sp.filter(F.col("tf") > 0)
    if meta.get("index_fields"):
        fparts = [
            docs.select(
                F.concat(F.lit(f + ":"), F.col(f).cast("string")).alias("term"),
                F.col(id_col).alias("doc_id"),
                F.lit(1).cast("int").alias("tf"),
                F.lit(0).cast("int").alias("doc_len"),
                F.lit(None).cast("string").alias("sha"),
                F.lit(None).cast("binary").alias("pos_blob"),
            ).filter(F.col("term").isNotNull())
            for f in meta["index_fields"]
        ]
        fposts = fparts[0]
        for part in fparts[1:]:
            fposts = fposts.unionByName(part)
        posts = posts.unionByName(
            fposts.withColumn("term_id", term_id_col(F.col("term")))
        )
    fresh_side_tables = gen > 0 or not (
        resume
        and (index_dir / "meta.json").exists()
        and dm_dir.exists()
        and td_dir.exists()
    )
    if not fresh_side_tables:
        meta = load_meta(index_dir, recover=True)
    else:
        # a resumed build reusing the staging checkpoint did not run
        # the write (or its observation) this session — one
        # column-pruned agg over the int columns of staging recovers
        # the stats
        stats = staging_obs.get if staging_obs is not None else (
            sp.agg(*stat_aggs).first()
        )
        if gen == 0:
            meta = meta | {
                "n_docs": float(stats["n_docs"]),
                "avgdl": float(stats["avgdl"]),
                "max_doc_id": int(stats["max_doc_id"]),
            }
        else:
            meta = meta | {
                "max_doc_id": max(meta["max_doc_id"], int(stats["max_doc_id"] or 0)),
                "generations": sorted(set(meta["generations"]) | {gen}),
                "epoch": int(meta.get("epoch", 0)) + 1,
            }
    epoch = meta["epoch"]
    base_schema = spark.read.parquet(str(dm_dir)).schema if gen else None
    # The generation's size: the staging footers' row count (postings
    # plus one meta row per doc), no Spark job. It sizes the encode
    # (encode_partitions; one task runs in the driver) and, with the
    # store's side tables, decides an add's df fold and N/avgdl: they
    # run in the driver only when everything they read is small — a
    # one-task generation, a small tombstone snapshot, and term_dict
    # plus doc_meta within DRIVER_FOLD_MAX_ROWS rows. Else all three
    # stay Spark jobs.
    n_staged = ds.dataset(str(staging), format="parquet").count_rows()
    snap = T.Snapshot(spark, index_dir) if gen else None
    driver_side = (
        gen > 0
        and encode_partitions(
            n_staged, cfg, int(spark.conf.get("spark.sql.shuffle.partitions"))
        ) == 1
        and snap.small
        and side_table_rows(index_dir) <= DRIVER_FOLD_MAX_ROWS
    )

    def _write_doc_meta():
        """Append (or write) this generation's doc_meta rows; for an
        add, then return N/avgdl over the LIVE doc set, this
        generation's rows included — tombstone-filtered (a
        replace-mode add has written its bars already), so deletes
        are reflected and read-time scoring stays exact under
        add+delete."""
        meta_df = sp.filter(F.col("tf") == 0).select(
            "doc_id", F.col("sha").alias("content_sha256"), "doc_len"
        )
        if gen == 0:
            extra = [F.col(c) for c in extra_meta_cols or []]
        else:
            # carry the base doc_meta's extra columns (lang, site,
            # nchars, …): an append with a NARROWER schema makes
            # spark.read's schema pick nondeterministic (no
            # mergeSchema) — facets/sorts would lose the column
            extra = [
                (
                    F.col(f.name) if f.name in docs.columns
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in base_schema.fields
                if f.name not in ("doc_id", "content_sha256", "doc_len", "gen")
            ]
        if extra:
            meta_df = meta_df.join(
                docs.select(F.col(id_col).alias("doc_id"), *extra), "doc_id", "left"
            )
        if site_rank_edges is not None:
            from open_source_search_engine_spark.operators.site_rank import (
                doc_site_rank,
            )

            meta_df = meta_df.join(
                doc_site_rank(docs, site_rank_edges, site_col, id_col),
                "doc_id",
                "left",
            )
        meta_df = meta_df.withColumn("gen", F.lit(gen))
        if gen == 0:
            meta_df.write.mode("overwrite").parquet(str(dm_dir))
            return None
        meta_df.select(*base_schema.fieldNames()).write.mode(
            "append"
        ).parquet(str(dm_dir))
        if driver_side:
            return T.live_doc_stats(index_dir, meta["generations"], snap)
        return _live_doc_stats(
            T.live_doc_meta(spark, index_dir, meta["generations"], snap)
        )

    def _write_term_dict() -> None:
        td = term_stats(posts)
        if driver_side:
            # this generation's counts in one collect
            _stage_driver_fold(index_dir, td.toArrow(), epoch)
            return
        if gen:
            td = (
                spark.read.parquet(str(td_dir))
                .unionByName(td)
                .groupBy("term", "term_id")
                .agg(F.sum("df").alias("df"))
            )
        td = _term_sorted(td)
        if gen:
            # STAGED unreferenced: the live term_dict is untouched
            # until the caller's meta flip, so a crash rolls the df
            # fold back and a rerun applies it exactly once
            _stage_side_table(index_dir, "term_dict", td, epoch)
        else:
            td.write.mode("overwrite").parquet(str(td_dir))

    # doc_meta ∥ term_dict ∥ encode: three independent reads of the
    # staging checkpoint submitted concurrently (Spark schedules
    # concurrent actions from driver threads; the small side-table
    # jobs fill task slots the long encode job leaves idle at stage
    # boundaries instead of adding serial wall). An add's live N/avgdl
    # ride the doc_meta thread, so they start as soon as its append
    # lands, beside the df fold and the encode. Commit ordering is
    # preserved: generation 0's meta.json — the pointer resume
    # trusts to mean "side tables complete" — is written only after
    # BOTH side-table futures join, and its encode commits its files
    # at job end, gated by the manifest; an add's generation dir
    # stays unreferenced until the caller's meta flip. Every crash
    # window converges through the same recovery paths.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as ex:
        side_futs = (
            [ex.submit(_write_doc_meta), ex.submit(_write_term_dict)]
            if fresh_side_tables
            else []
        )
        todo: list[int] | None = None
        if gen == 0 and resume:
            todo = sorted(set(range(cfg.n_buckets)) - done_buckets(spark, index_dir, 0))
        # v2: no scoring join — the encoder persists (tf, dl) and
        # reads score with the live stats. _encode_and_write writes
        # a manifest row for EVERY bucket it was responsible for
        # (empty ones included) — the generation is complete when it
        # returns. Its size estimate, n_staged, also serves a resumed
        # build that never ran the staging write.
        enc_fut = (
            None
            if todo == []
            else ex.submit(
                _encode_and_write,
                posts, index_dir, gen, todo, cfg, input_snapshot, meta["max_doc_id"],
                n_staged,
            )
        )
        side = [f.result() for f in side_futs]
        if gen == 0:
            if fresh_side_tables:
                _write_meta(index_dir, meta)
        else:
            live = side[0]  # _write_doc_meta's live stats
            meta = meta | {
                "n_docs": float(live["n_docs"]),
                "avgdl": float(live["avgdl"]),
            }
        if enc_fut is not None:
            enc_fut.result()
    # committed (gen 0) or ready for the caller's flip: drop the
    # staging dir. On failure it stays — generation 0's is the resumed
    # build's checkpoint; a crashed add's is swept by the next writer's
    # recovery (adds never resume from it).
    shutil.rmtree(staging, ignore_errors=True)
    return meta


def _term_sorted(td: DataFrame) -> DataFrame:
    """The on-disk term_dict layout the Spark writers (the build, a
    large add, every merge) produce: hash-clustered into
    TERM_DICT_PARTS files, each sorted by term, so the query path's
    term lookup prunes parquet row groups on term min/max stats (the
    RdbMap seek applied to the dictionary). A small add's driver fold
    writes the same rows in another layout (``_stage_driver_fold``)."""
    return td.repartition(TERM_DICT_PARTS, "term").sortWithinPartitions("term")


def side_table_rows(index_dir: Path) -> int:
    """Rows of term_dict plus doc_meta, from the parquet footers (no
    Spark job): what an add's driver df fold and live N/avgdl read."""
    return sum(
        ds.dataset(str(index_dir / t), format="parquet").count_rows()
        for t in ("term_dict", "doc_meta")
    )


def _stage_driver_fold(index_dir: Path, new: pa.Table, epoch: int) -> None:
    """A small add's df fold in the driver: this generation's
    (term, term_id, df) rows ``new`` summed into the live term_dict
    with pyarrow, staged for ``epoch`` as ONE term-sorted file of
    TERM_DICT_PARTS row groups, which cover disjoint term ranges (the
    same row-group pruning as the Spark writers' term-sorted files)."""
    live = ds.dataset(str(index_dir / "term_dict"), format="parquet").to_table(
        columns=["term", "term_id", "df"]
    )
    folded = (
        pa.concat_tables([live, new.cast(live.schema)])
        .group_by(["term", "term_id"])
        .aggregate([("df", "sum")])
        .select(["term", "term_id", "df_sum"])
        .rename_columns(["term", "term_id", "df"])
        .sort_by("term")
    )
    with _staging_dir(index_dir, "term_dict", epoch) as tmp:
        tmp.mkdir()
        pq.write_table(
            folded, tmp / "part-00000.parquet",
            row_group_size=max(1, -(-folded.num_rows // TERM_DICT_PARTS)),
        )


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
