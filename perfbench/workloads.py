"""The benchmark's workloads: closed loop, one client.

Each call waits for its result, as a caller of the library does. Every
result is checked against ``oracle.LiveCorpus``; every call runs inside
a span named after the layer that implements it.
"""

from __future__ import annotations

import hashlib
import math
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from fixtures.gen_corpus import gen_corpus
from open_source_search_engine_spark.config import EngineConfig
from open_source_search_engine_spark.index import builder, merge, wand
from open_source_search_engine_spark.index.engine import QueryEngine
from open_source_search_engine_spark.streaming import query_server

from perfbench.loadgen import QUERY_CLASSES, QueryGen, tokenize
from perfbench.oracle import Ledger, LiveCorpus, same_topk
from perfbench.trace import Tracer

CFG = EngineConfig(n_buckets=64, n_salts=8, block_size=128)  # store_positions=True
K = 10  # bench.py's k
BATCH_SIZE = 20  # bench.py's batch: its 5 pinned queries x 4
# Arbitrary fixed choices, no source in the repository: a backlog of two
# micro-batches, the smallest that makes the drain span more than one
# trigger.
STREAM_QUERIES = 8
STREAM_MAX_FILES_PER_TRIGGER = 4
STREAM_TIMEOUT_S = 120
SERVE_KINDS = ["topk", "cold_topk", "batch", "phrase", "qlang", "stream"]
# ingest: docs per round, and how many of round 1's docs round 2 touches.
# Arbitrary fixed choices: small next to the 2000-doc base, so the
# mutations stay in the delta tier.
INGEST_FRESH, INGEST_REPLACE, INGEST_DELETE = 60, 20, 10
INGEST_KINDS = ["add", "topk"]  # delete (~2 ms, driver-side) is too noisy


@dataclass
class Run:
    spark: object
    work: Path
    seed: int
    seconds: float
    n_docs: int
    tracer: Tracer = field(default_factory=Tracer)
    ledger: Ledger = field(default_factory=Ledger)
    setup_parts_s: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)
    state: dict = field(default_factory=lambda: defaultdict(int))

    def __post_init__(self):
        self.rng = np.random.default_rng(self.seed)
        self.index_dir = self.work / "index"
        self.oracle = LiveCorpus(CFG)

    def call(self, kind: str, layer: str, fn, check=None, detail: str = "", **attrs):
        """One operation: a span + the ledger's timing and check."""
        with self.tracer.span(layer, kind, **attrs) as rec:
            out = self.ledger.run(kind, fn, check, detail)
            if isinstance(out, list):
                rec["rows"] = len(out)
        return out

    # ---- set-up ----

    def setup(self):
        """Corpus, reference, base build and engine open; returns the base docs."""
        t0 = time.perf_counter()
        pdf = gen_corpus(self.n_docs + INGEST_FRESH + INGEST_REPLACE, self.seed)
        self.setup_parts_s["corpus"] = time.perf_counter() - t0
        self.pool = pdf.iloc[self.n_docs :].reset_index(drop=True)
        base = pdf.iloc[: self.n_docs]
        tokens = tokenize(base["content"])  # oracle-side, untimed
        self.oracle.upsert(base["doc_id"], tokens)
        self.qgen = QueryGen.for_corpus(tokens, self.rng)
        # the other paths get their own class cycle, so the warm samples'
        # mix stays fixed however the other paths interleave with them
        self.qgen_paths = QueryGen(self.qgen.vocab, self.rng)
        self.tokens = tokens
        self.build_base(base)
        t0 = time.perf_counter()
        with self.tracer.span("index.engine", "open"):
            self.engine = QueryEngine(self.spark, self.index_dir)
        self.setup_parts_s["open"] = time.perf_counter() - t0
        self.sample_state()
        return base

    def build_base(self, base) -> None:
        docs = self.spark.createDataFrame(base)
        want_sha = {
            int(d): hashlib.sha256(c.encode()).hexdigest()
            for d, c in zip(base["doc_id"], base["content"])
        }

        def check(meta) -> bool:
            dm = ds.dataset(str(self.index_dir / "doc_meta"), format="parquet").to_table(
                columns=["doc_id", "content_sha256"])
            got = dict(zip(dm["doc_id"].to_pylist(), dm["content_sha256"].to_pylist()))
            return int(meta["n_docs"]) == len(base) and got == want_sha

        meta = self.call(
            "build", "index.builder",
            lambda: builder.build_index(
                self.spark, docs, self.index_dir, cfg=CFG, text_col="content",
                tokenizer_mode="code",
            ),
            check, input_bytes=content_bytes(base),
        )
        if meta is None:
            raise RuntimeError(f"base build failed: {self.ledger.failures}")
        self.build_s = self.setup_parts_s["build"] = self.ledger.latency_s["build"][-1]

    def sample_state(self) -> None:
        gens = len(builder.load_meta(self.index_dir)["generations"])
        tdir = self.index_dir / "tombstones"
        ts = ds.dataset(str(tdir), format="parquet").count_rows() if tdir.exists() else 0
        self.state["generations"] = max(self.state["generations"], gens)
        self.state["tombstone_rows"] = max(self.state["tombstone_rows"], ts)

    # ---- read paths ----

    def topk(self, exact: bool = True) -> None:
        """Warm top-k. ``exact=False`` checks only that every returned doc
        is live and matches: between a replace/delete and the next merge
        the engine documents df drift (merge.add_documents), so scores
        and rank are not yet exact."""
        terms, mode = self.qgen.query()
        if exact:
            want = self.oracle.topk(terms, K, mode)
            check = lambda rows: same_topk(rows, want)  # noqa: E731
        else:
            live = self.oracle.matches(terms, mode)
            check = lambda rows: (  # noqa: E731
                len({r["doc_id"] for r in rows}) == len(rows) == min(K, len(live))
                and {r["doc_id"] for r in rows} <= live
            )
        self.call("topk", "index.engine",
                  lambda: self.engine.topk(terms, k=K, mode=mode).collect(),
                  check, f"{terms} {mode}", queries=1)

    def warm_cycle(self, exact: bool = True) -> None:
        """One warm top-k per query class: whole cycles keep the mix fixed."""
        for _ in QUERY_CLASSES:
            self.topk(exact)

    def warm_queries(self, seconds: float, exact: bool = True) -> None:
        """Whole warm cycles until ``seconds`` have passed."""
        t_end = time.perf_counter() + seconds
        while True:
            self.warm_cycle(exact)
            if time.perf_counter() >= t_end:
                return

    def cold_topk(self) -> None:
        terms, mode = self.qgen_paths.query()
        want = self.oracle.topk(terms, K, mode)
        self.call("cold_topk", "index.wand",
                  lambda: wand.wand_topk(self.spark, self.index_dir, terms, k=K, mode=mode).collect(),
                  lambda rows: same_topk(rows, want), f"{terms} {mode}")

    def batch(self) -> None:
        n = len(self.ledger.latency_s["batch"])
        queries = {f"b{n}_{i}": self.qgen_paths.query() for i in range(BATCH_SIZE)}
        self.call("batch", "index.engine",
                  lambda: self.engine.topk_batch(queries, k=K).collect(),
                  lambda rows: self.check_by_query(queries, rows), str(queries),
                  queries=BATCH_SIZE)

    def check_by_query(self, queries: dict, rows) -> bool:
        got = defaultdict(list)
        for r in rows:
            got[r["query_id"]].append((r["doc_id"], r["score"]))
        if set(got) - set(queries):
            return False
        return all(
            same_topk(got.get(qid, []), self.oracle.topk(terms, K, mode))
            for qid, (terms, mode) in queries.items()
        )

    def phrase(self) -> None:
        words = self.qgen_paths.phrase(self.tokens)
        want = self.oracle.phrase(words)
        self.call("phrase", "index.lists",
                  lambda: self.engine.phrase(words).collect(),
                  lambda rows: {r["doc_id"] for r in rows} == want and len(rows) == len(want),
                  str(words))

    def qlang(self) -> None:
        q, req, excl = self.qgen_paths.qlang()
        want = self.oracle.topk(req, K, "and", exclude=excl)
        self.call("qlang", "plans",
                  lambda: self.engine.query(q, k=K).collect(),
                  lambda rows: same_topk(rows, want), q)

    def stream(self) -> None:
        """Queue a backlog, drain it through the query server, and check
        every queued query_id is served exactly once and correctly. A
        drain that times out stops the query and fails every queued
        query."""
        qdir, rdir = self.work / "stream_in", self.work / "stream_out"
        qdir.mkdir()
        queries = {f"s{i}": self.qgen_paths.query() for i in range(STREAM_QUERIES)}
        for qid, (terms, mode) in queries.items():
            pq.write_table(
                pa.table({"query_id": [qid], "terms": [terms], "mode": [mode]}),
                qdir / f"{qid}.parquet",
            )

        def drain() -> bool:
            q = query_server.start_query_server(
                self.spark, self.index_dir, qdir, rdir, self.work / "stream_ckpt",
                k=K, available_now=True,
                max_files_per_trigger=STREAM_MAX_FILES_PER_TRIGGER,
            )
            finished = q.awaitTermination(STREAM_TIMEOUT_S)
            if not finished:
                q.stop()
            return bool(finished) and q.exception() is None

        led = self.ledger
        led.attempted += STREAM_QUERIES - 1  # the drain counts as one of them
        with self.tracer.span("streaming.query_server", "drain", queries=STREAM_QUERIES):
            finished = led.run("stream", drain)
        if not finished:
            led.fail("stream: drain timed out or failed", STREAM_QUERIES - (finished is None))
            return
        rows = query_server.read_results(self.spark, rdir).collect()
        per_q = defaultdict(list)
        batches = defaultdict(set)
        for r in rows:
            per_q[r["query_id"]].append((r["doc_id"], r["score"]))
            batches[r["query_id"]].add(r["batch"])
        for qid, (terms, mode) in queries.items():
            want = self.oracle.topk(terms, K, mode)
            once = len(batches.get(qid, ())) == (1 if want else 0)
            if not (once and same_topk(per_q.get(qid, []), want)):
                led.fail(f"stream: {qid} missing, duplicated or wrong")

    # ---- writes ----

    def add(self, pdf, replace: bool) -> None:
        docs = self.spark.createDataFrame(pdf)
        self.call(
            "add", "index.merge",
            lambda: merge.add_documents(self.spark, docs, self.index_dir, replace=replace),
            input_bytes=content_bytes(pdf),
        )
        self.oracle.upsert(pdf["doc_id"], tokenize(pdf["content"]))

    def delete(self, ids: list[int]) -> None:
        self.call("delete", "index.merge",
                  lambda: merge.delete_documents(self.spark, self.index_dir, ids))
        self.oracle.delete(ids)


def content_bytes(pdf) -> int:
    return int(pdf["content"].str.len().sum())  # ASCII corpus: chars == bytes


def store_bytes(index_dir: Path) -> int:
    return sum(
        p.stat().st_size for p in index_dir.rglob("*")
        if p.is_file() and not p.name.startswith((".", "_"))
    )


def warm_p50_ms(led: Ledger) -> float:
    if not led.latency_s["topk"]:
        raise RuntimeError(f"no warm top-k call returned: {led.failures}")
    return led.p50_ms("topk")


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def serve(run: Run) -> dict:
    base = run.setup()
    # a warm cycle before each other path: spread over the run, a short
    # slow spell of the host moves fewer warm samples
    t_end = time.perf_counter() + run.seconds
    while True:
        for op in (run.cold_topk, run.batch, run.phrase, run.qlang):
            run.warm_cycle()
            op()
        if time.perf_counter() >= t_end:
            break
    run.stream()
    led = run.ledger
    lat = led.latency_s
    run.report.update({
        "topk_p50_ms": led.p50_ms("topk"),
        "topk_p95_ms": led.pct_ms("topk", 95),
        "topk_samples": len(lat["topk"]),
        "cold_topk_p50_ms": led.p50_ms("cold_topk"),
        "qps_batch": BATCH_SIZE * len(lat["batch"]) / sum(lat["batch"]) if lat["batch"] else None,
        "stream_qps": STREAM_QUERIES / lat["stream"][0] if lat["stream"] else None,
        "phrase_p50_ms": led.p50_ms("phrase"),
        "qlang_p50_ms": led.p50_ms("qlang"),
        "batch_size": BATCH_SIZE,
        "stream_queries": STREAM_QUERIES,
        "stream_max_files_per_trigger": STREAM_MAX_FILES_PER_TRIGGER,
    })
    return {
        "topk_p50_ms": warm_p50_ms(led),
        "ops_geomean_ms": geomean([led.p50_ms(k) for k in SERVE_KINDS if lat[k]]),
        "index_bytes_per_input_byte": store_bytes(run.index_dir) / content_bytes(base),
    }


def ingest(run: Run) -> dict:
    base = run.setup()
    pool = run.pool
    fresh = pool.iloc[:INGEST_FRESH]
    replaced_ids = fresh["doc_id"].iloc[:INGEST_REPLACE].tolist()
    deleted_ids = fresh["doc_id"].iloc[INGEST_REPLACE : INGEST_REPLACE + INGEST_DELETE].tolist()
    replacement = pool.iloc[INGEST_FRESH : INGEST_FRESH + INGEST_REPLACE].copy()
    replacement["doc_id"] = replaced_ids
    # the first query after each commit pays the engine's refresh
    run.add(fresh, replace=False)
    run.warm_queries(run.seconds / 2)  # one delta generation: exact
    run.add(replacement, replace=True)
    run.delete(deleted_ids)
    run.sample_state()  # two delta generations and tombstones live
    run.warm_queries(run.seconds / 2, exact=False)
    dead = fresh.iloc[: INGEST_REPLACE + INGEST_DELETE]  # replaced or deleted
    live_bytes = (content_bytes(base) + content_bytes(fresh) - content_bytes(dead)
                  + content_bytes(replacement))
    led = run.ledger
    lat = led.latency_s
    run.report.update({
        "topk_p50_ms": led.p50_ms("topk"),
        "topk_samples": len(lat["topk"]),
        "add_p50_ms": led.p50_ms("add"),
        "delete_ms": led.p50_ms("delete"),
    })
    return {
        "topk_p50_ms": warm_p50_ms(led),
        "ops_geomean_ms": geomean([led.p50_ms(k) for k in INGEST_KINDS if lat[k]]),
        "index_bytes_per_input_byte": store_bytes(run.index_dir) / live_bytes,
    }


WORKLOADS = {"serve": serve, "ingest": ingest}
