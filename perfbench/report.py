"""Run every workload untraced and traced and print one table.

    python3 perfbench/report.py --seed 1 --seconds 10 [--runs 3]

For each workload and end-to-end metric: the median untraced value, its
unit, the samples behind it in one run, the median traced value and the
tracing overhead (traced minus untraced). Then the error rate of every run
and each traced run's per-layer metrics. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.run import E2E_UNITS, WORKLOADS  # noqa: E402


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} (trace {trace}) exited {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--runs", type=int, default=1, help="runs per workload and mode")
    args = ap.parse_args(argv)

    print(f"{'workload':14s} {'metric':26s} {'untraced':>12s} {'unit':6s} {'n':>4s} "
          f"{'traced':>12s} {'overhead':>12s}")
    layers = {}
    for w in WORKLOADS:
        plain, traced, errors = [], [], []
        for i in range(args.runs):
            for trace, sink in ((0, plain), (1, traced)):
                rec, res = run_once(w, args.seed + i, args.seconds, trace)
                sink.append((rec, res))
                errors.append(res["failed"] / res["attempted"])
        layers[w] = traced[-1][1]["metrics"]
        for m, unit in E2E_UNITS.items():
            u = statistics.median(res["metrics"][m]["value"] for _, res in plain)
            t = statistics.median(rec["e2e"][m] for rec, _ in traced)
            n = plain[-1][0]["samples"][m]
            print(f"{w:14s} {m:26s} {u:12.4f} {unit:6s} {n:4d} {t:12.4f} {t - u:+12.4f}")
        print(f"{w:14s} {'error_rate':26s} {max(errors):12.4f} {'ratio':6s} "
              f"{len(errors):4d}")
        for name, v in plain[-1][0]["metrics"].items():
            if v.get("value") is not None:
                print(f"{w:14s}   {name:24s} {v['value']:12.4f} {v['unit']:6s} "
                      f"{v['samples']:4d}")
    for w, metrics in layers.items():
        print(f"\n{w} per-layer (traced run)")
        for name, v in metrics.items():
            print(f"  {name:58s} {v['value']:14.4f} {v['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
