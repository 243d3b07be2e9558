#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload osm_etl --seed 1 --seconds 20 --trace 0

Run it from a checkout of the repository. It builds its inputs from the
seed (tables are built once and reused through a marker file), runs the
workload for the given seconds, checks every output, writes a
self-describing run header as JSON on standard error, and prints as the
last line of standard output one JSON object:

    {"correct": true, "attempted": 40, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace 1``
its per-layer metrics from a separate traced run. A per-layer metric of a
layer the workload never calls reads 0. Everything the run writes stays
under ``.bench_build/perfbench`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_build", "perfbench")


def _parse(argv: list[str] | None) -> argparse.Namespace:
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, HERE)
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "data_wrangling_spark", "__init__.py")):
        print(f"no data_wrangling_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    import harness
    import workloads

    work = os.path.join(CACHE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the package from the checkout; temporary files
    # stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    ctx = workloads.Context(root=ROOT, work=work, cache=CACHE, seed=args.seed,
                            seconds=args.seconds, trace=bool(args.trace), cores=cores,
                            scale=args.scale)
    out = workloads.Outcome()
    t0 = time.perf_counter()
    try:
        workloads.WORKLOADS[args.workload](ctx, out)
    finally:
        harness.wait_gone(harness.descendants())
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = out.layers if args.trace else out.e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if not args.trace and missing:
        raise RuntimeError(f"end-to-end metrics not measured: {missing}")
    import duckdb
    import pyspark

    header = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "driver_heap": out.header["spark"]["driver_memory"],
        "versions": {"python": platform.python_version(), "pyspark": pyspark.__version__,
                     "spark": out.header["spark"]["version"], "duckdb": duckdb.__version__},
        **out.header,
        "query_p75_s": "nearest-rank 75th percentile of query latencies",
        "ops_failed_frac": out.failed / max(out.attempted, 1),
        "not_exercised": missing,
        "problems": out.problems[:20],
        "run_s": time.perf_counter() - t0,
    }
    print("perfbench header " + json.dumps(header, default=str), file=sys.stderr)
    result = {
        "correct": out.failed == 0 and out.attempted > 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
