#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Runs one workload of `perfbench/workloads.py` against the `diagon_spark`
package of the checkout it sits in, on `local[4]`. The last line of
standard output is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`). The line before it holds every named end-to-end metric
of the workload with its unit, percentile and sample count. The full
record, and with `--trace 1` the layer table and the spans, are written
under `perfbench/.work/results/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

GATED_UNITS = {"setup_s": "s", "throughput_per_cpu_s": "1/cpu_s",
               "query_cpu_ms": "ms", "spark_cpu_s": "s",
               "peak_rss_mb": "MB"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # every file the run writes, Spark's and Python's temp files included,
    # stays inside the checkout
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark")
    sys.path.insert(0, ROOT)
    import diagon_spark  # noqa: F401  fails fast outside a full checkout
    from perfbench import harness, layers, workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")
    try:
        rec = harness.run(args.workload, args.seed, args.seconds,
                          bool(args.trace), WORK)
    finally:
        shutil.rmtree(os.environ["TMPDIR"], ignore_errors=True)
    if args.trace:
        units = {n: u for n, u, _b in layers.PER_LAYER}
        metrics = {n: {"value": rec["per_layer"][n], "unit": units[n]}
                   for n in units}
    else:
        metrics = {n: {"value": rec["end_to_end"][n], "unit": u}
                   for n, u in GATED_UNITS.items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "named": rec["named"],
                      "properties": rec["properties"],
                      "drift": rec["drift"],
                      "failures": rec["failures"],
                      "known_defects": rec["known_defects"]}))
    print(json.dumps({"correct": rec["failed"] == 0,
                      "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
