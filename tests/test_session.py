"""The Spark Python worker daemon: zip archives are re-read only when
they change, and the session's workers run under it."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa

from open_source_search_engine_spark import worker_daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"wd_probe_a": "X = 1\n"})
    # restores the stdlib method when the test ends
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    worker_daemon.install()
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("wd_probe_a").X == 1
        importlib.invalidate_caches()  # first call records each stamp

        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(
            zipimport,
            "_read_directory",
            lambda p: reads.append(p) or read_directory(p),
        )
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"wd_probe_a": "X = 1\n", "wd_probe_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [str(archive)]
        assert importlib.import_module("wd_probe_b").Y == 2
    finally:
        sys.modules.pop("wd_probe_a", None)
        sys.modules.pop("wd_probe_b", None)


def test_spark_workers_run_the_engine_daemon(spark):
    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        module = zipimport.zipimporter.invalidate_caches.__module__
        yield pa.RecordBatch.from_pydict({"module": [module]})

    rows = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "module string")
        .collect()
    )
    assert [r.module for r in rows] == [worker_daemon.__name__]
