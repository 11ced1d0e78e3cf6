"""Serving benchmark for duck_server_spark.

    python3 servebench/run.py --workload interactive --seed 1 --seconds 10 --trace 0
    python3 servebench/selftest.py      # the benchmark's own test (about 4 minutes)

Workloads (see BENCHMARK.json): ``interactive`` drives a freshly started
server over the PG wire and ClickHouse HTTP; ``operator_batch`` runs the
operator builders in-process. Each run generates its tables from
``--seed`` into a fresh working directory under ``.servebench/`` at the
checkout root, measures a fixed seeded deck sized from ``--seconds``,
checks every answer against DuckDB after the clock stops, and prints one
JSON object as its last line of output: end-to-end metrics with
``--trace 0``, per-layer metrics from a traced run with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("interactive", "operator_batch")
END_TO_END = ("setup_s", "stmt_p50_ms", "stmt_tail_ms", "throughput_stmt_s", "result_mb_s", "peak_rss_mb")


def log(msg: str) -> None:
    print(msg, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="fixture size; 1.0 is 60k lineitem rows")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "duck_server_spark", "server", "__main__.py")):
        print("servebench: duck_server_spark sources not found next to servebench/", file=sys.stderr)
        return 2

    from servebench import datagen, report

    workdir = os.path.join(ROOT, ".servebench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    try:
        fixture = os.path.join(workdir, "fixture")
        counts = datagen.generate(fixture, args.seed, args.scale)
        if args.workload == "operator_batch":
            from servebench import opbatch
            res = opbatch.run(ROOT, workdir, fixture, args.seed, args.seconds, bool(args.trace), log)
        else:
            from servebench import serving
            res = serving.run(ROOT, workdir, fixture, args.seed, args.seconds,
                              bool(args.trace), counts, log)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    for f in res["failures"]:
        log(f"FAILED {f}")
    if args.trace:
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, u in report.PER_LAYER}
    else:
        metrics = report.metrics_doc({k: res["e2e"][k] for k in END_TO_END})
    for k, v in metrics.items():
        log(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": not res["failures"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
