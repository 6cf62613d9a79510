"""Compare two sets of benchmark runs, per workload and end-to-end metric.

    python3 perfbench/run.py ... >> base.jsonl   # repeat per seed
    python3 perfbench/run.py ... >> new.jsonl
    python3 perfbench/compare.py base.jsonl new.jsonl

Reads the report lines run.py prints, and refuses to compare runs whose
host fingerprints differ (core count, Spark master, local-dir
filesystem, PySpark version, corpus size). Comparing traced runs
against untraced ones of the same code gives the tracing overhead.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.host import UNCOMPARED_FINGERPRINT_KEYS  # noqa: E402


def load(path: str) -> dict[str, list[dict]]:
    runs = defaultdict(list)
    for line in Path(path).read_text().splitlines():
        if line.startswith('{"report"'):
            rep = json.loads(line)["report"]
            runs[rep["workload"]].append(rep)
    return runs


def host_key(rep: dict) -> dict:
    return {k: v for k, v in rep["fingerprint"].items() if k not in UNCOMPARED_FINGERPRINT_KEYS}


def main(base_path: str, new_path: str) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: (m["better"], m["bound"]) for m in bench["end_to_end"]}
    base, new = load(base_path), load(new_path)
    status = 0
    for workload in sorted(set(base) & set(new)):
        hosts = {json.dumps(host_key(r), sort_keys=True) for r in base[workload] + new[workload]}
        if len(hosts) > 1:
            print(f"{workload}: refusing to compare, host fingerprints differ: {sorted(hosts)}")
            status = 2
            continue
        print(f"{workload}: {len(base[workload])} base runs, {len(new[workload])} new runs")
        for name, (better, bound) in bounds.items():
            b = [r["end_to_end"][name] for r in base[workload]]
            n = [r["end_to_end"][name] for r in new[workload]]
            mb, mn = statistics.median(b), statistics.median(n)
            change = (mn - mb) / mb
            worse = change > bound if better == "lower" else -change > bound
            print(f"  {name:28s} base {mb:12.4f}  new {mn:12.4f}  {change:+8.2%}"
                  f"{'  WORSE THAN BOUND' if worse else ''}")
    return status


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
