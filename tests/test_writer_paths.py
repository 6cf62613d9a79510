"""The two writer paths: a small generation is encoded, and a small
add's df fold and live N/avgdl are computed, in the driver with
pyarrow; a large one runs as Spark jobs. Both must write the same
store, survive a crash at any point, and hide their temp files."""

from __future__ import annotations

import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fixtures.gen_corpus import gen_corpus
from open_source_search_engine_spark.config import EngineConfig
from open_source_search_engine_spark.index import builder, lists, merge, wand
from open_source_search_engine_spark.index import tombstones as T
from tests.conftest import TEST_CFG, force_spark_writers

KW = dict(text_col="content", tokenizer_mode="code")


@pytest.fixture(scope="module")
def pdf():
    return gen_corpus(n_docs=260)


def _df(spark, pdf):
    return spark.createDataFrame(pdf.reset_index(drop=True))


def _store(d):
    """Everything a writer commits, in a path-independent order."""
    meta = builder.load_meta(d)
    gens = meta["generations"]

    def table(sub, sort, drop=()):
        t = ds.dataset(str(d / sub), format="parquet", partitioning="hive").to_table()
        t = t.to_pandas().drop(columns=list(drop))
        if "generation" in t.columns:
            t = t[t["generation"].isin(gens)]
        return t[sorted(t.columns)].sort_values(sort).reset_index(drop=True)

    return {
        "meta": meta,
        "blocks": table("segments", ["generation", "bucket", "salt", "term_id", "block_id"]),
        "manifest": table("manifest", ["generation", "bucket"], drop=["built_at"]),
        "term_dict": table("term_dict", ["term"]),
        "doc_meta": table("doc_meta", ["doc_id", "gen"]),
    }


def _assert_same_store(a, b, step):
    assert a["meta"] == b["meta"], step
    for k in ("blocks", "manifest", "term_dict", "doc_meta"):
        pd.testing.assert_frame_equal(a[k], b[k], obj=f"{step}: {k}")


def _steps(spark, pdf, cfg):
    """build → add → add(replace) → delete → add → merge_deltas →
    compact; the delete masks a base doc and a doc of the delta tier."""
    base, a1, a2 = pdf[pdf.doc_id < 200], pdf[pdf.doc_id.between(200, 229)], pdf[pdf.doc_id >= 230]
    repl = pdf[pdf.doc_id.between(240, 249)].assign(doc_id=range(10, 20))
    return [
        ("build", lambda d: builder.build_index(spark, _df(spark, base), d, cfg=cfg, **KW)),
        ("add", lambda d: merge.add_documents(spark, _df(spark, a1), d)),
        ("replace", lambda d: merge.add_documents(spark, _df(spark, repl), d, replace=True)),
        ("delete", lambda d: merge.delete_documents(spark, d, [3, 205])),
        ("add2", lambda d: merge.add_documents(spark, _df(spark, a2), d)),
        ("merge_deltas", lambda d: merge.merge_deltas(spark, d)),
        ("compact", lambda d: merge.compact(spark, d)),
    ]


CFGS = {
    "positions": TEST_CFG,
    "no_positions": EngineConfig(n_buckets=8, n_salts=4, block_size=16, store_positions=False),
}


@pytest.mark.parametrize("layout", sorted(CFGS))
def test_driver_and_spark_writers_write_the_same_store(
    spark, pdf, tmp_path, monkeypatch, layout
):
    """Segment block rows (every column), manifest rows (but built_at),
    term_dict, doc_meta and meta (n_docs and avgdl compared with ==)
    are identical on both paths after every writer step."""
    root = tmp_path / layout
    root.mkdir()
    d_drv, d_spk = root / "driver", root / "spark"
    for step, run in _steps(spark, pdf, CFGS[layout]):
        run(d_drv)
        with monkeypatch.context() as mp:
            force_spark_writers(mp)
            run(d_spk)
        _assert_same_store(_store(d_drv), _store(d_spk), step)
        if step == "add":  # each side table written by its own path
            assert [len(list((d / "term_dict").glob("*.parquet"))) for d in (d_drv, d_spk)] == [
                1, builder.TERM_DICT_PARTS
            ]
    # one file per bucket dir on the driver path; the forced Spark
    # encode ran several tasks
    files = {
        d: [len(list(b.glob("*.parquet"))) for b in (d / "segments").glob("generation=*/bucket=*")]
        for d in (d_drv, d_spk)
    }
    assert set(files[d_drv]) == {1} and max(files[d_spk]) > 1
    for terms in (["def", "return"], ["index"]):
        got, want = (
            wand.wand_topk(spark, d, terms, k=20, mode="or").toPandas()
            for d in (d_drv, d_spk)
        )
        pd.testing.assert_frame_equal(got, want)


def test_one_size_rule_decides_every_driver_step(spark, pdf, tmp_path, monkeypatch):
    """The add's df fold and N/avgdl run in the driver only when the
    encode does too: a multi-task add onto a small store runs the Spark
    fold (term_dict written as TERM_DICT_PARTS files), and a one-task
    add onto a store past the fold's bound encodes in the driver but
    folds in Spark. Every mix writes the same store."""
    import shutil

    base = tmp_path / "base"
    builder.build_index(spark, _df(spark, pdf[pdf.doc_id < 200]), base, cfg=TEST_CFG, **KW)
    add = _df(spark, pdf[pdf.doc_id >= 200])
    mixes = {
        "driver": {},
        "bulk_add": {"POSTINGS_PER_ENCODE_TASK": 2_000},
        "large_store": {"DRIVER_FOLD_MAX_ROWS": -1},
    }
    stores = {}
    for name, patch in mixes.items():
        d = tmp_path / name
        shutil.copytree(base, d)
        driver_encodes = []
        with monkeypatch.context() as mp:
            for attr, value in patch.items():
                mp.setattr(builder, attr, value)
            write = builder._write_bucket_files
            mp.setattr(
                builder, "_write_bucket_files",
                lambda *a: driver_encodes.append(1) or write(*a),
            )
            merge.add_documents(spark, add, d)
        td_files = len(list((d / "term_dict").glob("*.parquet")))
        stores[name] = (_store(d), td_files, bool(driver_encodes))
    assert {k: v[1:] for k, v in stores.items()} == {
        "driver": (1, True),
        "bulk_add": (builder.TERM_DICT_PARTS, False),
        "large_store": (builder.TERM_DICT_PARTS, True),
    }
    for name in ("bulk_add", "large_store"):
        _assert_same_store(stores[name][0], stores["driver"][0], name)


def test_driver_liveness_matches_live_doc_meta(spark, pdf, tmp_path):
    """tombstones.live_doc_stats / live_rows apply live_doc_meta's rule:
    a replaced base doc, a doc added and deleted inside the delta tier,
    and rows of a generation not in the committed set."""
    d = tmp_path / "idx"
    builder.build_index(spark, _df(spark, pdf[pdf.doc_id < 200]), d, cfg=TEST_CFG, **KW)
    merge.add_documents(spark, _df(spark, pdf[pdf.doc_id.between(200, 229)]), d)
    repl = pdf[pdf.doc_id.between(240, 244)].assign(doc_id=[1, 2, 210, 211, 212])
    merge.add_documents(spark, _df(spark, repl), d, replace=True)
    merge.delete_documents(spark, d, [0, 205, 210])  # 210: added, replaced, deleted
    merge.add_documents(spark, _df(spark, pdf[pdf.doc_id >= 230]), d)
    gens = builder.load_meta(d)["generations"]
    snap = T.Snapshot(spark, d)
    assert snap.small and snap.arrays is not None
    for committed in (gens, gens[:-1]):
        dm = T.live_doc_meta(spark, d, committed, snap)
        want = builder._live_doc_stats(dm)
        got = T.live_doc_stats(d, committed, snap)
        assert got == {k: want[k] for k in ("n_docs", "avgdl", "max_doc_id")}
        raw = pq.read_table(str(d / "doc_meta"), columns=["doc_id", "gen"])
        ids = raw.column("doc_id").to_numpy()
        rows = T.live_rows(ids, raw.column("gen").to_numpy(), max(committed), snap.arrays)
        assert sorted(ids[rows]) == sorted(r["doc_id"] for r in dm.select("doc_id").collect())
        assert 210 not in ids[rows] and 205 not in ids[rows] and 1 in ids[rows]


def test_add_and_replace_job_counts(spark, pdf, tmp_path):
    """A small add runs 7 Spark jobs (staging write, two schema reads,
    the doc_meta append, the df counts' two and the encode's collect); a
    replace-add one more (the distributed tombstone append)."""
    d = tmp_path / "idx"
    builder.build_index(spark, _df(spark, pdf[pdf.doc_id < 200]), d, cfg=TEST_CFG, **KW)
    st = spark.sparkContext.statusTracker()

    def jobs(fn) -> int:
        before = set(st.getJobIdsForGroup())
        fn()
        return len(set(st.getJobIdsForGroup()) - before)

    add = _df(spark, pdf[pdf.doc_id.between(200, 229)])
    repl = _df(spark, pdf[pdf.doc_id.between(240, 249)].assign(doc_id=range(10, 20)))
    assert jobs(lambda: merge.add_documents(spark, add, d)) == 7
    assert jobs(lambda: merge.add_documents(spark, repl, d, replace=True)) == 8


class _KillWrites:
    """``pq.write_table`` that raises on the (k+1)-th segment file."""

    def __init__(self, k: int):
        self.k, self.real = k, pq.write_table

    def __call__(self, table, where, *a, **kw):
        if "segments" in str(where):
            if self.k == 0:
                raise RuntimeError("killed mid-write")
            self.k -= 1
        return self.real(table, where, *a, **kw)


def _temp_files(d):
    return list(d.rglob(f"*{builder.STAGING_TMP_SUFFIX}"))


def test_killed_build_resumes_to_the_same_store(spark, pdf, tmp_path, monkeypatch):
    """A gen-0 build killed after 3 of its bucket files: the resumed
    build equals an uninterrupted one, with one file per bucket dir and
    no temp file left (the killed write's is dropped)."""
    base = _df(spark, pdf[pdf.doc_id < 200])
    ref, d = tmp_path / "ref", tmp_path / "idx"
    builder.build_index(spark, base, ref, cfg=TEST_CFG, **KW)
    with monkeypatch.context() as mp:
        mp.setattr(pq, "write_table", _KillWrites(3))
        with pytest.raises(RuntimeError, match="killed mid-write"):
            builder.build_index(spark, base, d, cfg=TEST_CFG, **KW)
    written = list((d / "segments").glob("generation=0/bucket=*/*.parquet"))
    assert len(written) == 3 and not (d / "manifest").exists()
    # a hard kill mid-write of the 4th file leaves its temp file behind
    (killed,) = [
        b for b in (d / "segments").glob("generation=0/bucket=*")
        if not list(b.glob("*.parquet"))
    ]
    builder._tmp_name(killed / "part-g0-b0.parquet").write_bytes(b"partial")
    builder.build_index(spark, base, d, cfg=TEST_CFG, resume=True, **KW)
    _assert_same_store(_store(d), _store(ref), "resume")
    for b in (d / "segments").glob("generation=0/bucket=*"):
        assert len(list(b.glob("*.parquet"))) == 1, b
    assert not _temp_files(d)


def test_killed_add_leaves_only_what_recovery_sweeps(spark, pdf, tmp_path, monkeypatch):
    """An add killed after 2 of its bucket files leaves the committed
    store as it was; the next writer's recovery sweeps the unreferenced
    generation, and the retried add equals a never-killed twin's."""
    base = _df(spark, pdf[pdf.doc_id < 200])
    add = _df(spark, pdf[pdf.doc_id >= 200])
    ref, d = tmp_path / "ref", tmp_path / "idx"
    for p in (ref, d):
        builder.build_index(spark, base, p, cfg=TEST_CFG, **KW)
    merge.add_documents(spark, add, ref)
    before = _store(d)
    with monkeypatch.context() as mp:
        mp.setattr(pq, "write_table", _KillWrites(2))
        with pytest.raises(RuntimeError, match="killed mid-write"):
            merge.add_documents(spark, add, d)
    assert builder.load_meta(d) == before["meta"]
    assert merge.current_generations(d) == [0, 1]  # unreferenced
    assert not _temp_files(d)
    builder.load_meta(d, recover=True)
    assert merge.current_generations(d) == [0]
    assert not (d / "term_dict_next").exists()
    after = _store(d)
    _assert_same_store(after, before, "recovered")
    merge.add_documents(spark, add, d)
    _assert_same_store(_store(d), _store(ref), "retried")


def test_temp_names_are_invisible_to_every_reader(spark, pdf, tmp_path, monkeypatch):
    """A leftover temp file (garbage bytes under a driver temp name) in
    a bucket dir and in the tombstone dir is listed by no reader: the
    driver and Spark scans and tombstones.files."""
    d = tmp_path / "idx"
    builder.build_index(spark, _df(spark, pdf[pdf.doc_id < 200]), d, cfg=TEST_CFG, **KW)
    merge.delete_documents(spark, d, [1, 2])
    want = wand.wand_topk(spark, d, ["def", "return"], k=20, mode="or").toPandas()
    ts_files = T.files(d)
    for dir_ in [*(d / "segments").glob("generation=0/bucket=*"), d / T.DIR]:
        tmp = builder._tmp_name(dir_ / "part-g0-b0.parquet")
        assert not tmp.name.endswith(".parquet")
        tmp.write_bytes(b"not parquet")
    assert T.files(d) == ts_files
    driver = wand.wand_topk(spark, d, ["def", "return"], k=20, mode="or").toPandas()
    pd.testing.assert_frame_equal(driver, want)
    monkeypatch.setattr(lists, "SMALL_SCAN_MAX_BYTES", -1)
    on_spark = wand.wand_topk(spark, d, ["def", "return"], k=20, mode="or").toPandas()
    pd.testing.assert_frame_equal(on_spark, want)
    n = spark.read.parquet(str(d / "segments")).filter(F.col("generation") == 0).count()
    assert n == len(_store(d)["blocks"])
