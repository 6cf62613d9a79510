"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

The fast tests need no Spark. ``test_tiny_run`` runs each workload end
to end on a small corpus (about a minute each).
"""

from __future__ import annotations

import inspect
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from open_source_search_engine_spark.config import EngineConfig  # noqa: E402
from open_source_search_engine_spark.index import builder  # noqa: E402
from perfbench import oracle, trace  # noqa: E402
from perfbench.run import E2E_UNITS  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_benchmark_json_matches_the_code():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == E2E_UNITS
    specs = trace.per_layer_metric_specs()
    assert {m["name"]: (m["unit"], m["better"]) for m in BENCH["per_layer"]} == specs
    assert [w["name"] for w in BENCH["workloads"]] == ["serve", "ingest"]


def test_reference_bm25_ranks_and_filters():
    live = oracle.LiveCorpus(EngineConfig())
    live.upsert([1, 2, 3], [["a", "b"], ["a", "a", "c"], ["b", "c", "c", "c"]])
    assert [d for d, _ in live.topk(["a"], mode="and")] == [2, 1]
    assert [d for d, _ in live.topk(["a", "c"], mode="and")] == [2]
    assert {d for d, _ in live.topk(["a", "c"], mode="or")} == {1, 2, 3}
    assert [d for d, _ in live.topk(["a"], exclude=["c"])] == [1]
    assert live.phrase(["b", "c"]) == {3}
    live.delete([2])
    assert live.matches(["a"], "and") == {1}


def test_reference_matches_the_pinned_oracle():
    """The driver-side reference every run checks against agrees with
    ``operators.bm25.bm25_topk_oracle`` (the DataFrame-algebra oracle)."""
    import numpy as np

    from fixtures.gen_corpus import gen_corpus
    from open_source_search_engine_spark.operators.bm25 import bm25_topk_oracle
    from open_source_search_engine_spark.session import get_spark
    from perfbench.loadgen import QUERY_CLASSES, QueryGen, tokenize
    from perfbench.workloads import CFG, K

    pdf = gen_corpus(300, 5)
    tokens = tokenize(pdf["content"])
    live = oracle.LiveCorpus(CFG)
    live.upsert(pdf["doc_id"], tokens)
    qgen = QueryGen.for_corpus(tokens, np.random.default_rng(5))
    spark = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=4)
    try:
        docs = spark.createDataFrame(pdf).cache()
        for _ in QUERY_CLASSES:  # one cycle
            terms, mode = qgen.query()
            pinned = bm25_topk_oracle(docs, terms, K, mode, cfg=CFG, text_col="content",
                                      tokenizer_mode="code").collect()
            assert oracle.same_topk(pinned, live.topk(terms, K, mode)), (terms, mode)
    finally:
        spark.stop()


def test_perturbed_score_counts_as_failure():
    want = [(7, 3.14159), (3, 2.5)]
    led = oracle.Ledger()
    led.run("topk", lambda: list(want), lambda rows: oracle.same_topk(rows, want))
    perturbed = [(7, 3.14159 + 1e-3), (3, 2.5)]
    led.run("topk", lambda: perturbed, lambda rows: oracle.same_topk(rows, want))
    assert (led.attempted, led.failed) == (2, 1)
    # rank order is canonicalised, so row order alone is not a failure
    assert oracle.same_topk(list(reversed(want)), want)


def test_raising_operation_counts_as_failure():
    led = oracle.Ledger()
    assert led.run("add", lambda: 1 / 0) is None
    assert (led.attempted, led.failed) == (1, 1)


def _line_in(fn) -> int:
    lines, first = inspect.getsourcelines(fn)
    return first + len(lines) // 2


def test_fold_attributes_jobs_and_adds_up_to_wall(tmp_path):
    """A build span with a tokenizer job, a segments job and a side-table
    job: self times plus the remainder equal the measured wall."""
    src = inspect.getsourcefile(builder)
    sites = {
        0: f"parquet at {src}:{_line_in(builder.build_index)}",
        1: f"parquet at {src}:{_line_in(builder._encode_and_write)}",
        2: None,
    }
    times = {0: (101.0, 103.0), 1: (104.0, 108.0), 2: (108.5, 109.0)}
    events = []
    for jid, (a, b) in times.items():
        props = {"callSite.short": sites[jid]} if sites[jid] else {}
        events += [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": a * 1e3,
             "Stage IDs": [jid], "Properties": props},
            {"Event": "SparkListenerStageSubmitted",
             "Stage Info": {"Stage ID": jid, "Submission Time": a * 1e3}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": jid,
             "Task Info": {"Launch Time": (a + 0.5) * 1e3, "Failed": False, "Accumulables": [
                 {"Name": "data sent to Python workers", "Update": "100"}]},
             "Task Metrics": {"Executor Run Time": 1000, "Executor CPU Time": 5e8,
                              "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                              "Input Metrics": {"Records Read": 3}}},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": b * 1e3},
        ]
    log = tmp_path / "events"
    log.write_text("\n".join(json.dumps(e) for e in events))
    spans = [{"id": 0, "layer": "index.builder", "name": "build", "parent": None, "op": 0,
              "start": 100.0, "end": 110.0, "input_bytes": 1000}]
    out = trace.fold(spans, log, (99.0, 111.0), {"generations": 1})
    assert_wall_closes(out, spans, (99.0, 111.0))
    assert out["functions.tokenizer.wall_s"] == pytest.approx(2.0)
    assert out["index.segments.wall_s"] == pytest.approx(4.0)
    assert out["index.builder.wall_s"] == pytest.approx(4.0)
    assert out["index.builder.driver_s"] == pytest.approx(3.5)
    assert out["index.builder.jobs"] == out["index.segments.jobs"] == 1
    assert out["functions.tokenizer.python_bytes"] == 100
    assert out["functions.tokenizer.task_wait_s"] == pytest.approx(0.5)
    assert out["index.segments.shuffle_bytes_per_input_byte"] == pytest.approx(0.01)
    assert out["bench.unattributed_s"] == pytest.approx(2.0)


def _job_events(jid: int, a: float, b: float, rows: int) -> list[dict]:
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": a * 1e3,
         "Stage IDs": [jid], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": jid,
         "Task Info": {"Launch Time": a * 1e3, "Failed": False},
         "Task Metrics": {"Input Metrics": {"Records Read": rows}}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": b * 1e3},
    ]


def test_per_query_ratios_count_only_query_spans(tmp_path):
    """The engine's open and a refresh nested in a topk span launch
    dictionary scans; jobs_per_query and rows_per_result leave them out."""
    events = (_job_events(0, 1.0, 1.5, 500) + _job_events(1, 10.2, 10.6, 500)
              + _job_events(2, 10.8, 11.0, 40) + _job_events(3, 12.1, 12.3, 60))
    log = tmp_path / "events"
    log.write_text("\n".join(json.dumps(e) for e in events))
    span = lambda sid, name, a, b, parent=None, **kw: {  # noqa: E731
        "id": sid, "layer": "index.engine", "name": name, "parent": parent,
        "op": sid if parent is None else parent, "start": a, "end": b, **kw}
    spans = [span(0, "open", 0.5, 2.0), span(1, "topk", 10.0, 11.5, queries=1, rows=10),
             span(2, "refresh", 10.1, 10.7, parent=1),
             span(3, "topk", 12.0, 12.5, queries=1, rows=10)]
    out = trace.fold(spans, log, (0.0, 13.0), {})
    assert out["index.engine.jobs"] == 4
    assert out["index.engine.jobs_per_query"] == pytest.approx(1.0)
    assert out["index.engine.rows_per_result"] == pytest.approx(5.0)
    assert out["index.engine.refresh_s"] == pytest.approx(0.6)
    assert_wall_closes(out)


def assert_wall_closes(layers: dict, spans: list[dict] = (), window=None) -> None:
    """Self times cannot exceed the measured wall: no layer's, and not
    their sum (the remainder would go negative), and every span lies
    inside the window."""
    wall = layers["bench.wall_s"]
    assert layers["bench.unattributed_s"] >= 0
    for l in trace.LAYERS:
        assert 0 <= layers[f"{l}.wall_s"] <= wall, l
    for s in spans:
        assert window[0] <= s["start"] <= s["end"] <= window[1], s


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and '"correct"' not in p.stdout


@pytest.mark.parametrize("workload", ["serve", "ingest"])
@pytest.mark.parametrize("traced", [0, 1])
def test_tiny_run(workload, traced):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(traced), "--docs", "300"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    report = json.loads(p.stdout.splitlines()[-2])["report"]
    result = json.loads(p.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert report["failed_ops_frac"] == 0 and result["correct"], report["failures"]
    want = (
        {n: u for n, (u, _b) in trace.per_layer_metric_specs().items()} if traced
        else E2E_UNITS
    )
    assert {n: m["unit"] for n, m in result["metrics"].items()} == want
    if traced:
        layers = report["layers"]
        spans_file = ROOT / ".perfbench_work" / f"spans-{workload}-3.jsonl"
        spans = [json.loads(line) for line in spans_file.read_text().splitlines()]
        assert_wall_closes(layers, spans, report["window"])
        assert layers["index.builder.calls"] >= 1 and layers["index.segments.jobs"] >= 1
        assert layers["index.engine.jobs_per_query"] > 0
