"""Round benchmark — prints ONE JSON line the driver records as
BENCH_r{N}.json.

Headline numbers:
  * index_build      — segment-store build (M3) over the sf documents
                       table, wall sec (docs/sec derivable: n_docs/sec)
  * wand_topk_p50    — median latency of the pinned query set (M4)
                       against the built store
  * oracle/operator queries — the DataFrame-algebra paths the driver
                       also correctness-checks

Honors $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and
$SPARK_GRAFT_CPUS (default 32). Scaling protocol (local[8] vs
local[32]) lives in scripts/bench_scaling.py → BENCH.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from open_source_search_engine_spark.config import (  # noqa: E402
    EngineConfig,
    default_cpus,
    default_sf_dir,
)
from open_source_search_engine_spark.session import get_spark  # noqa: E402

PINNED_QUERIES: list[tuple[list[str], str]] = [
    (["join", "hash"], "and"),
    (["dup", "merge"], "or"),
    (["scan"], "and"),
    (["key", "index"], "and"),
    (["dup", "key", "scan"], "or"),
]


def main() -> None:
    sf_dir = default_sf_dir()
    cpus = default_cpus()
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark(
        "bench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 16)
    )
    spark.sparkContext.setLogLevel("ERROR")

    from __spark_entry__ import raw_queries  # noqa: E402
    from open_source_search_engine_spark.index import builder, wand  # noqa: E402

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    n_docs = docs.count()

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    tmp = Path(tempfile.mkdtemp(prefix="bench_idx_"))

    def record(name: str, reps: list[float]) -> None:
        """min = episode-resistant headline (protocol since r04);
        median recorded ALONGSIDE so rounds can also be compared on
        the classical aggregate (ADVICE r04: min-of-3 alone overstates
        improvement when protocols change between rounds)."""
        timings[name] = round(min(reps), 3)
        medians[name] = round(statistics.median(reps), 3)
    cfg = EngineConfig(n_buckets=64, n_salts=8, block_size=128)

    # --- index build (M3): untimed warm-up (spins up every Python
    # worker, JIT-warms codegen — the steady state of a long-lived
    # cluster's executors), then BEST of 3 timed builds. This VM has a
    # noisy co-tenant with minutes-long slowdown episodes (BENCH.md):
    # a median of reps all inside one episode still records a phantom
    # regression (BENCH_r03 recorded 38 s for a run that cleanly
    # re-measures at 18 s), so every aggregate below is min-of-reps —
    # the standard episode-resistant throughput protocol. ---
    META_COLS = ["lang", "source", "n_chars"]
    builder.build_index(
        spark, docs.limit(500), tmp / "warm", cfg=cfg, text_col="text",
        extra_meta_cols=META_COLS,
    )
    builds = []
    for i in range(3):
        idx = tmp / f"idx{i}"
        t0 = time.perf_counter()
        builder.build_index(
            spark, docs, idx, cfg=cfg, text_col="text", extra_meta_cols=META_COLS
        )
        builds.append(time.perf_counter() - t0)
    record("index_build", builds)

    # --- WAND query latency (M4): warm-up then p50 over pinned set,
    # each query the median of 3 runs ---
    idx = tmp / "idx0"
    wand.wand_topk(spark, idx, ["join"], k=10).collect()
    lats, lats_med = [], []
    for terms, mode in PINNED_QUERIES:
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            wand.wand_topk(spark, idx, terms, k=10, mode=mode).collect()
            reps.append(time.perf_counter() - t0)
        lats.append(min(reps))
        lats_med.append(statistics.median(reps))
    timings["wand_topk_p50"] = round(statistics.median(lats), 3)
    timings["wand_topk_total"] = round(sum(lats), 3)
    medians["wand_topk_p50"] = round(statistics.median(lats_med), 3)
    medians["wand_topk_total"] = round(sum(lats_med), 3)

    # --- warm query-loop path (QueryEngine: cached segment listing,
    # doc_meta and tombstone snapshot — the RdbCache analog the reference
    # serves repeated queries from) ---
    from open_source_search_engine_spark.index.engine import QueryEngine

    eng = QueryEngine(spark, idx)
    eng.topk(["join"], k=10).collect()
    wlats, wlats_med = [], []
    for terms, mode in PINNED_QUERIES:
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            eng.topk(terms, k=10, mode=mode).collect()
            reps.append(time.perf_counter() - t0)
        wlats.append(min(reps))
        wlats_med.append(statistics.median(reps))
    timings["engine_warm_topk_p50"] = round(statistics.median(wlats), 3)
    medians["engine_warm_topk_p50"] = round(statistics.median(wlats_med), 3)

    # --- warm query THROUGHPUT: serial loop over the pinned set on the
    # warm engine, wall-clock QPS — the local-mode stand-in for
    # concurrent-user load (VERDICT r04 item 6); one number the
    # query-side scale story doesn't have to rest on a single p50 for ---
    qps_calls = 0
    t0 = time.perf_counter()
    for _ in range(3):
        for terms, mode in PINNED_QUERIES:
            eng.topk(terms, k=10, mode=mode).collect()
            qps_calls += 1
    qps = round(qps_calls / (time.perf_counter() - t0), 2)

    # --- BATCHED query throughput: the same pinned set × 4 id-tagged
    # copies served by wand_topk_batch in ONE job (one pruned scan,
    # per-query kernels, per-query merge) — the amortized shape a
    # query STREAM takes on a cluster, vs the serial per-job loop
    # above. best-of-3 like every other aggregate. ---
    batch_q = {
        f"q{r}_{i}": (terms, mode)
        for r in range(4)
        for i, (terms, mode) in enumerate(PINNED_QUERIES)
    }
    wand.wand_topk_batch(spark, idx, batch_q, k=10).collect()  # warm
    batch_reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        wand.wand_topk_batch(spark, idx, batch_q, k=10).collect()
        batch_reps.append(time.perf_counter() - t0)
    qps_batch = round(len(batch_q) / min(batch_reps), 2)

    # --- index-backed operator paths (everything from the segment
    # store: facets, query language, nested boolean — VERDICT r01 #1) ---
    from open_source_search_engine_spark.operators import indexed
    from open_source_search_engine_spark.plans import boolean_expr, query_language

    idx_ops = {
        "facets_lang_indexed": lambda: indexed.facet_counts(
            spark, eng, ["dup"], "lang"
        ).collect(),
        "qlang_indexed": lambda: query_language.execute_indexed(
            spark, eng, "join +hash -dup", k=10
        ).collect(),
        "bool_expr_indexed": lambda: boolean_expr.evaluate_indexed(
            spark, eng, "(join OR hash) AND NOT (dup OR key)"
        ).collect(),
        "phrase_indexed": lambda: indexed.phrase_bigram(
            spark, eng, "join", "hash"
        ).collect(),
    }
    for name, fn in idx_ops.items():
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            reps.append(time.perf_counter() - t0)
        record(name, reps)
    eng.close()

    # --- DataFrame-algebra operator paths (driver-checked queries;
    # raw_queries = unpacked single-path callables, so these timings
    # stay comparable across rounds despite the packed contract) ---
    qs = raw_queries()
    for name in [
        "bm25_topk",
        "bm25_topk_or",
        "and_intersect",
        "facets_lang",
        "topk_sitecap",
        "dedup_minhash_lsh",
        "simhash_near_dup",
        "ann_cosine_topk",
        "token_counts",
    ]:
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).collect()
            reps.append(time.perf_counter() - t0)
        record(name, reps)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "median_total_sec": round(sum(medians.values()), 3),
        "qps_warm_topk": qps,
        "qps_batch_topk": qps_batch,
        "sf": sf,
        "n_docs": n_docs,
        "index_docs_per_sec": round(n_docs / timings["index_build"], 1),
        "cpus": cpus,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
