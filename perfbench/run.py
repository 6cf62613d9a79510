"""Engine benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds an index with the library in
``open_source_search_engine_spark`` on ``local[N]`` (N = nproc), runs the
workload, checks every result, and prints two JSON lines: a report
(per-path metrics, query mix, host fingerprint) and, last, the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run enables
Spark's event log and the metrics are the per-layer ones, and the spans
are written to ``.perfbench_work/spans-<workload>-<seed>.jsonl``.
Everything else the run writes stays under ``.perfbench_work/`` in the
checkout and is removed at exit. See perfbench/README.md for the metric
definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
DEFAULT_DOCS = 2000
E2E_UNITS = {
    "setup_s": "s",
    "build_s": "s",
    "topk_p50_ms": "ms",
    "ops_geomean_ms": "ms",
    "index_bytes_per_input_byte": "ratio",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--docs", type=int, default=DEFAULT_DOCS, help="base corpus size")
    return ap.parse_args(argv)


def start_spark(work: Path, cores: int, trace: bool):
    from open_source_search_engine_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    # keep shuffle files inside the checkout, not on /dev/shm
    os.environ["SPARK_GRAFT_NO_TMPFS"] = "1"
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "events").mkdir()
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    master = f"local[{cores}]"
    spark = get_spark("perfbench", master=master,
                      shuffle_partitions=max(cores, 16), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, master


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure to exit: force it
            proc.kill()
            proc.wait(timeout=10)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "open_source_search_engine_spark").is_dir() or not (
        ROOT / "fixtures" / "gen_corpus.py"
    ).is_file():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    from perfbench import host
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS, Run

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    try:
        spark = None
        try:
            with host.PeakRss() as rss:
                spark, master = start_spark(work, cores, bool(args.trace))
                session_s = time.perf_counter() - T_START
                run = Run(spark, work, args.seed, args.seconds, args.docs)
                if args.trace:
                    run.tracer.install()
                t_measure = time.time()
                e2e = WORKLOADS[args.workload](run)
                t_done = time.time()
                peak_rss = rss.peak
        finally:
            if spark is not None:
                stop_spark(spark)
        setup_s = session_s + sum(run.setup_parts_s.values())
        e2e |= {"setup_s": setup_s, "build_s": run.build_s}
        led = run.ledger
        report = {
            "workload": args.workload,
            "trace": args.trace,
            "fingerprint": host.fingerprint(cores, master, work / "spark-local",
                                            args.docs, args.seed, run.index_dir),
            "setup_parts_s": run.setup_parts_s | {"session": session_s},
            "window": [t_measure, t_done],
            "end_to_end": e2e,
            "paths": run.report,
            "samples_ms": {k: [1e3 * x for x in v] for k, v in run.ledger.latency_s.items()},
            "query_mix": {"topk": run.qgen.summary(), "other": run.qgen_paths.summary()},
            "failed_ops_frac": led.failed / led.attempted,
            "peak_rss_mb": peak_rss / 2**20,
            "failures": led.failures,
        }
        if args.trace:
            (log,) = (work / "events").iterdir()
            run.tracer.dump(work.parent / f"spans-{args.workload}-{args.seed}.jsonl")
            layers = tr.fold(run.tracer.spans, log, (t_measure, t_done), run.state)
            metrics = {
                name: {"value": layers[name], "unit": unit}
                for name, (unit, _better) in tr.per_layer_metric_specs().items()
            }
            report["layers"] = layers
        else:
            metrics = {name: {"value": v, "unit": E2E_UNITS[name]} for name, v in e2e.items()}
        print(json.dumps({"report": report}))
        print(json.dumps({
            "correct": led.failed == 0,
            "attempted": led.attempted,
            "failed": led.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
