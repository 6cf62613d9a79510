"""Host fingerprint and peak memory of the process tree."""

from __future__ import annotations

import os
import threading
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants: the driver, the
    JVM it launched and the JVM's Python workers."""
    kids, total, todo = _children(), 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            total += int((Path("/proc") / str(pid) / "statm").read_text().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakRss:
    """Samples the process tree's RSS on a daemon thread until stopped."""

    def __init__(self, interval_s: float = 0.25):
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def fs_type(path: Path) -> str:
    """Filesystem type of the mount holding ``path`` (e.g. tmpfs)."""
    best, kind = "", "unknown"
    path = str(path.resolve())
    for line in Path("/proc/mounts").read_text().splitlines():
        parts = line.split()
        if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
            best, kind = parts[1], parts[2]
    return kind


def fingerprint(cores: int, master: str, local_dir: Path, n_docs: int, seed: int,
                index_dir: Path) -> dict:
    """Everything two results must share to be comparable (seed and
    index path are recorded but do not block a comparison)."""
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cores": cores,
        "master": master,
        "spark_local_dir_fs": fs_type(local_dir),
        "pyspark": pyspark.__version__,
        "n_docs": n_docs,
        "seed": seed,
        "index_dir": str(index_dir),
    }


UNCOMPARED_FINGERPRINT_KEYS = {"seed", "index_dir"}
