"""SparkSession factory with scale-appropriate defaults.

Single place where shuffle sizing / AQE / Arrow flags live, so the
bench, tests and driver all run the same physical config.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# Make the package importable inside Spark's Python workers no matter
# what the driver's cwd is — the local-mode analog of shipping the
# package with `spark-submit --py-files` (north_rule deployment mode).
_PKG_PARENT = str(Path(__file__).resolve().parent.parent)


def _export_pythonpath() -> None:
    pp = os.environ.get("PYTHONPATH", "")
    if _PKG_PARENT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _PKG_PARENT + (os.pathsep + pp if pp else "")
        )


def get_spark(
    app_name: str = "open_source_search_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _export_pythonpath()
    # glibc returns every >128 KB buffer to the OS on free (mmap +
    # munmap), so each large numpy temp in the Arrow kernels pays
    # first-touch page faults again — measured at ~20 MB/s on this
    # virtualized host (≈200 µs/page), which made fresh-allocation
    # numpy passes 10-100× slower than warm ones. Raising the mmap /
    # trim thresholds keeps big buffers on the heap: each long-lived
    # Python worker faults its arena ONCE and reuses it for every
    # batch thereafter. Same flags are exported to executors for
    # cluster mode (python workers inherit the executor env).
    _MALLOC_ENV = {
        "MALLOC_MMAP_THRESHOLD_": "1073741824",
        "MALLOC_TRIM_THRESHOLD_": "1073741824",
    }
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)
    builder = SparkSession.builder.appName(app_name)
    for k, v in _MALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", os.environ[k])
    if master:
        builder = builder.config("spark.master", master)
    # AQE: runtime coalescing + skew-join splitting. On a real cluster
    # this is what re-plans the Zipf-head shuffle; keep it on everywhere.
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions) if shuffle_partitions else "32",
        )
        # Arrow for pandas_udf / applyInPandas — the only Python<->JVM
        # data path we allow (input_hint: no per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 4k rows/batch: large enough to amortize Arrow overhead,
        # small enough that the tokenize kernel's per-batch temps
        # (~300 tokens/doc × ~10 int64 arrays ≈ 120 MB) keep each
        # worker's reusable arena small — on this virtualized host,
        # first-touch of fresh pages runs ~20 MB/s, so arena size is a
        # FIXED per-worker cost that directly caps scaling efficiency
        # (t = W/N + c); measured 16k-row batches cost ~23 s/worker,
        # 4k rows ~6 s, paid once thanks to the malloc thresholds above
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # 128 MB scan splits: right-sized for 100 TB parquet scans too.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        # Every task, even on a reused worker, calls
        # importlib.invalidate_caches(), which on CPython <= 3.12
        # re-reads pyspark.zip, py4j and the spark-core jar: measured
        # 110-200 ms per task on a 4-core host. This daemon re-reads an
        # archive only when its stat changes.
        .config(
            "spark.python.daemon.module",
            "open_source_search_engine_spark.worker_daemon",
        )
    )
    # Shuffle/spill files on tmpfs when it can actually hold them:
    # measured 2.8× on the 32-thread shuffle (32 concurrent writers
    # thrash a virtual disk). On a real cluster this is the node-local
    # NVMe spark.local.dir. Guarded (container /dev/shm defaults can be
    # 64 MB — a mid-job ENOSPC is worse than a slow disk): require ≥4
    # GiB free, a per-uid dir (a fixed shared path can pre-exist owned
    # by another user), and a successful write probe; opt out entirely
    # with SPARK_GRAFT_NO_TMPFS=1.
    shm = _usable_tmpfs_dir()
    if shm:
        builder = builder.config("spark.local.dir", shm)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _usable_tmpfs_dir(min_free_bytes: int = 4 << 30) -> str | None:
    if os.environ.get("SPARK_GRAFT_NO_TMPFS"):
        return None
    shm = f"/dev/shm/spark-local-{os.getuid()}"
    try:
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize < min_free_bytes:
            return None
        os.makedirs(shm, exist_ok=True)
        probe = os.path.join(shm, ".probe")
        with open(probe, "wb") as f:
            f.write(b"ok")
        os.remove(probe)
        return shm
    except OSError:
        return None
