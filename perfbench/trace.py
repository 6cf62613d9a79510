"""Spans around the benchmark's calls into each layer, and the fold of
Spark's event log into per-layer metrics.

A span records (layer, name, start, end, parent, op id). Spans nest on
one process-wide stack, so a span opened by the query server's
micro-batch thread while the benchmark waits on the server nests under
the server's span. Spans stay in memory and are written out at exit.

The traced run enables ``spark.eventLog.enabled``. Each Spark job is
owned by the innermost span open at its submission. Inside a writer
span (``index.builder`` / ``index.merge``) a job is re-attributed by its
Python call site: the tokenize pass to ``functions.tokenizer`` and
``_encode_and_write`` (salted shuffle, encode kernel, segment write,
manifest) to ``index.segments``. The call site is used rather than job
group properties because ``build_index`` submits its concurrent jobs
from ``ThreadPoolExecutor`` threads, which do not inherit them.
"""

from __future__ import annotations

import ast
import functools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

LAYERS = [
    "index.builder",
    "functions.tokenizer",
    "index.segments",
    "index.merge",
    "index.engine",
    "index.wand",
    "index.lists",
    "plans",
    "streaming.query_server",
]
WRITER_LAYERS = {"index.builder", "index.merge"}
SUBLAYERS = ("functions.tokenizer", "index.segments")  # precedence when jobs overlap
# (engine file, innermost enclosing function of the call site) -> layer
SUBLAYER_SITES = {
    # build_index's one tokenize pass: the staging write
    ("builder.py", "build_index"): "functions.tokenizer",
    # add_documents tokenizes inside its doc_meta write (posts is
    # persisted there); its other direct jobs (the doc_meta schema read,
    # the replace-mode tombstone append) are small and ride along
    ("merge.py", "add_documents"): "functions.tokenizer",
    ("builder.py", "_encode_and_write"): "index.segments",
}

# name -> (unit, better); every layer reports all of them
LAYER_METRICS = {
    "calls": ("count", "higher"),
    "wall_s": ("s", "lower"),
    "driver_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "task_run_s": ("s", "lower"),
    "task_cpu_s": ("s", "lower"),
    "task_wait_s": ("s", "lower"),
    "python_init_s": ("s", "lower"),
    "shuffle_write_bytes": ("bytes", "lower"),
    "input_rows": ("rows", "lower"),
    "python_bytes": ("bytes", "lower"),
    "failed_tasks": ("count", "lower"),
}
EXTRA_METRICS = {
    "index.engine.rows_per_result": ("rows/row", "lower"),
    "index.engine.jobs_per_query": ("jobs/query", "lower"),
    "index.engine.refresh_s": ("s", "lower"),
    "index.segments.shuffle_bytes_per_input_byte": ("bytes/byte", "lower"),
    "index.merge.bytes_written_per_input_byte": ("bytes/byte", "lower"),
    "state.generations": ("count", "lower"),
    "state.tombstone_rows": ("rows", "lower"),
    "bench.wall_s": ("s", "lower"),
    "bench.unattributed_s": ("s", "lower"),
}
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")
PYTHON_INIT = "time to initialize Python workers"
STAGE_SUMS = ("tasks", "failed_tasks", "task_run_s", "task_cpu_s", "shuffle_write_bytes",
              "input_rows", "python_bytes", "python_init_s", "output_bytes")
# index.engine spans that serve queries (not "open" or "refresh")
QUERY_SPANS = ("topk", "batch")


def per_layer_metric_specs() -> dict[str, tuple[str, str]]:
    specs = {f"{l}.{m}": spec for l in LAYERS for m, spec in LAYER_METRICS.items()}
    return specs | EXTRA_METRICS


class Tracer:
    """In-memory spans. ``span`` always records (the benchmark times its
    calls with it); ``install`` patches in the trace-only
    instrumentation for the rest of the process."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            op = self.spans[parent]["op"] if parent is not None else sid
            rec = {"id": sid, "layer": layer, "name": name, "parent": parent,
                   "op": op, "start": time.time(), "end": None, **attrs}
            self.spans.append(rec)
            self._stack.append(sid)
        try:
            yield rec
        finally:
            with self._lock:
                rec["end"] = time.time()
                self._stack.remove(sid)

    @staticmethod
    def _patch(owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def wrap(self, owner, attr: str, layer: str) -> None:
        """Record a nested span around every call of ``owner.attr``."""
        def make(orig):
            def traced(*a, **kw):
                with self.span(layer, attr):
                    return orig(*a, **kw)
            return traced
        self._patch(owner, attr, make)

    def set_call_sites(self, owner, attr: str) -> None:
        """Tag the Spark jobs of ``owner.attr`` with the Python call site
        of its caller (pyspark does this for ``collect`` only)."""
        def make(orig):
            def sited(obj, *a, **kw):
                f = sys._getframe(1)
                session = getattr(obj, "_spark", None) or obj.sparkSession
                jsc = session.sparkContext._jsc
                jsc.setCallSite(f"{attr} at {f.f_code.co_filename}:{f.f_lineno}")
                try:
                    return orig(obj, *a, **kw)
                finally:
                    jsc.setCallSite(None)
            return sited
        self._patch(owner, attr, make)

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from open_source_search_engine_spark.index import engine, wand

        self.set_call_sites(DataFrameWriter, "parquet")
        self.set_call_sites(DataFrameReader, "parquet")
        self.set_call_sites(DataFrame, "count")
        # inner calls whose work belongs to another layer than the
        # benchmark-level span around them
        self.wrap(engine.QueryEngine, "refresh", "index.engine")
        self.wrap(wand, "wand_topk_batch", "index.wand")

    def dump(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(s) for s in self.spans) + "\n")


# ---- interval helpers (closed-open [a, b) pairs, seconds) ----

def _union(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _minus(iv, cut):
    out = []
    cut = _union(cut)
    for a, b in iv:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def _intersect(iv, other):
    return _minus(iv, _minus(iv, other))


def _measure(iv) -> float:
    return sum(b - a for a, b in _union(iv))


@functools.lru_cache(maxsize=None)
def _function_ranges(path: str) -> list[tuple[int, int, str]]:
    """(first line, last line, name) of every function in a source file."""
    try:
        tree = ast.parse(Path(path).read_text())
    except (OSError, SyntaxError):
        return []
    return [
        (n.lineno, n.end_lineno, n.name)
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]


def enclosing_function(call_site: str) -> tuple[str, str] | None:
    """``'parquet at /x/index/builder.py:351'`` -> ``('builder.py', '_encode_and_write')``."""
    try:
        loc = call_site.rsplit(" at ", 1)[1]
        path, line = loc.rsplit(":", 1)
        line = int(line)
    except (IndexError, ValueError):
        return None
    inner = [r for r in _function_ranges(path) if r[0] <= line <= r[1]]
    if not inner:
        return None
    return Path(path).name, max(inner)[2]  # latest start = innermost


def read_event_log(path: Path) -> tuple[dict, dict, dict]:
    """jobs {id: {submit, end, site, stages}}, stage submit times, and
    per-stage task aggregates."""
    jobs: dict[int, dict] = {}
    stage_submit: dict[int, float] = {}
    tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "submit": e["Submission Time"] / 1e3,
                    "end": None,
                    "site": props.get("callSite.short"),
                    "stages": e["Stage IDs"],
                }
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif ev == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                if info.get("Submission Time"):
                    stage_submit[info["Stage ID"]] = info["Submission Time"] / 1e3
            elif ev == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                t = tasks[e["Stage ID"]]
                t["tasks"] += 1
                t["failed_tasks"] += bool(info.get("Failed") or info.get("Killed"))
                t["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["launch_s"] += info["Launch Time"] / 1e3
                t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                t["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                t["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                for acc in info.get("Accumulables") or []:
                    name = acc.get("Name")
                    try:
                        upd = float(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        continue
                    if name in PYTHON_BYTES:
                        t["python_bytes"] += upd
                    elif name == PYTHON_INIT:
                        t["python_init_s"] += upd / 1e3
    return jobs, stage_submit, tasks


def fold(spans: list[dict], event_log: Path, wall: tuple[float, float], state: dict) -> dict:
    """Per-layer metrics (``<layer>.<metric>``) from spans + event log.

    ``wall`` is the measured (start, end) the layers' self times and the
    unattributed remainder add up to."""
    jobs, stage_submit, stage_tasks = read_event_log(event_log)
    end_of_log = max([j["end"] or 0 for j in jobs.values()] + [wall[1]])
    for j in jobs.values():
        j["end"] = j["end"] or end_of_log

    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    self_iv = {
        s["id"]: _minus([(s["start"], s["end"])],
                        [(c["start"], c["end"]) for c in children[s["id"]]])
        for s in spans
    }

    def owner(t: float) -> dict | None:
        live = [s for s in spans if s["start"] <= t <= s["end"]]
        return max(live, key=lambda s: s["start"]) if live else None

    layer_jobs: dict[str, list[int]] = defaultdict(list)
    span_sub_iv: dict[int, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    for jid, j in jobs.items():
        sp = owner(j["submit"])
        if sp is None:
            continue  # outside every span (reading back stream results): unattributed
        layer = sp["layer"]
        if layer in WRITER_LAYERS and j["site"]:
            sub = SUBLAYER_SITES.get(enclosing_function(j["site"]))
            if sub:
                layer = sub
                span_sub_iv[sp["id"]][sub].append((j["submit"], j["end"]))
        j["layer"], j["span"] = layer, sp["id"]
        layer_jobs[layer].append(jid)

    all_job_iv = [(j["submit"], j["end"]) for j in jobs.values()]
    out = {f"{l}.{m}": 0.0 for l in LAYERS for m in LAYER_METRICS}
    sub_calls: dict[str, int] = defaultdict(int)
    refresh_s = 0.0
    for s in spans:
        own = self_iv[s["id"]]
        for sub in SUBLAYERS:
            piece = _intersect(own, span_sub_iv[s["id"]].get(sub, []))
            if piece:
                out[f"{sub}.wall_s"] += _measure(piece)
                sub_calls[sub] += 1
                own = _minus(own, piece)
        out[f"{s['layer']}.calls"] += 1
        out[f"{s['layer']}.wall_s"] += _measure(own)
        if s["layer"] == "index.engine" and s["name"] == "refresh":
            refresh_s += _measure(own)
        out[f"{s['layer']}.driver_s"] += _measure(_minus(own, all_job_iv))
    for sub, n in sub_calls.items():
        out[f"{sub}.calls"] = n

    job_sums: dict[int, dict[str, float]] = {}
    for layer, jids in layer_jobs.items():
        out[f"{layer}.jobs"] = len(jids)
        for jid in jids:
            sums = job_sums[jid] = defaultdict(float)
            for st in jobs[jid]["stages"]:
                t = stage_tasks.get(st)
                if not t:
                    continue
                for k in STAGE_SUMS:
                    sums[k] += t[k]
                if st in stage_submit:
                    sums["task_wait_s"] += t["launch_s"] - t["tasks"] * stage_submit[st]
            for k in LAYER_METRICS.keys() & sums.keys():
                out[f"{layer}.{k}"] += sums[k]

    def span_sum(layer: str, key: str, names=None) -> float:
        return sum(s.get(key, 0) for s in spans
                   if s["layer"] == layer and (names is None or s["name"] in names))

    # per-query ratios count only the jobs of query spans: the engine's
    # open and refresh scan the term dictionary, which is not query work
    query_jobs = [jid for jid in layer_jobs["index.engine"]
                  if spans[jobs[jid]["span"]]["name"] in QUERY_SPANS]
    query_rows = sum(job_sums[jid]["input_rows"] for jid in query_jobs)
    rows = span_sum("index.engine", "rows", QUERY_SPANS)
    queries = span_sum("index.engine", "queries", QUERY_SPANS)
    in_bytes = sum(s.get("input_bytes", 0) for s in spans if s["layer"] in WRITER_LAYERS)
    merge_in = span_sum("index.merge", "input_bytes")
    merge_out = sum(sums["output_bytes"] for jid, sums in job_sums.items()
                    if spans[jobs[jid]["span"]]["layer"] == "index.merge")
    total = wall[1] - wall[0]
    out.update({
        "index.engine.rows_per_result": query_rows / rows if rows else 0.0,
        "index.engine.jobs_per_query": len(query_jobs) / queries if queries else 0.0,
        "index.engine.refresh_s": refresh_s,
        "index.segments.shuffle_bytes_per_input_byte": (
            out["index.segments.shuffle_write_bytes"] / in_bytes if in_bytes else 0.0),
        "index.merge.bytes_written_per_input_byte": merge_out / merge_in if merge_in else 0.0,
        "state.generations": float(state.get("generations", 0)),
        "state.tombstone_rows": float(state.get("tombstone_rows", 0)),
        "bench.wall_s": total,
        "bench.unattributed_s": total - sum(out[f"{l}.wall_s"] for l in LAYERS),
    })
    return out
