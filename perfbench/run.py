"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Runs one workload on ``local[nproc]`` from the root of a checkout and prints
two JSON lines: a run record (host, versions, sizes, the workload's own
metric names with their sample counts), then the result object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1`` the
same workload runs with the Spark UI on, every engine call is recorded as a
span (written to ``.perfbench_work/spans-<workload>-<seed>.jsonl``), and
the metrics are the per-layer metrics.

Exits non-zero without a result when the engine package is not in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("bulk_build", "serve_topk", "stream_ingest")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the benchmark's own tests")
    return ap.parse_args(argv)


def _engine_present() -> bool:
    init = os.path.join(REPO, "whoosh_spark", "__init__.py")
    return os.path.isfile(init)


def main(argv=None) -> int:
    args = _args(argv)
    if not _engine_present():
        print("perfbench: whoosh_spark/ not found next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from perfbench import session
    from perfbench.trace import SparkStatus, Tracer
    from perfbench.workloads import SIZES, Bench, layer_metric_specs

    load_start = os.getloadavg()
    work = os.path.join(session.WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = session.make_session(ui=bool(args.trace))
    session_s = time.perf_counter() - T0
    try:
        bench = Bench(spark, Tracer(bool(args.trace)), args.seed, args.seconds,
                      args.size, work, T0)
        getattr(bench, args.workload)()
        if args.trace:
            bench.tour()
            units = {name: unit for name, unit, _ in layer_metric_specs()}
            metrics = {k: {"value": v, "unit": units[k]}
                       for k, v in bench.layer_metrics(SparkStatus(spark)).items()}
            bench.tracer.write_jsonl(
                os.path.join(session.WORK, f"spans-{args.workload}-{args.seed}.jsonl"),
                bench.span_bundles)
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in bench.e2e.items()}
        import pyarrow
        import pyspark

        record = {
            "record": {
                "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "size": args.size, "sizes": SIZES[args.size],
                "nproc": session.nproc(), "driver_memory_mb": session.driver_memory_mb(),
                "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
                "spark": pyspark.__version__, "python": platform.python_version(),
                "arrow": pyarrow.__version__, "session_s": session_s,
                "setup_phases": bench.phases,
                "samples": bench.samples, "metrics": bench.named, "e2e": bench.e2e,
            }
        }
    finally:
        session.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "throughput_per_s": "1/s",
             "index_bytes_per_text_byte": "ratio", "peak_rss_mb": "MB"}


if __name__ == "__main__":
    sys.exit(main())
