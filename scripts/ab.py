#!/usr/bin/env python3
"""A/B timing of one REGISTERED query under Spark conf overrides.

    python scripts/ab.py QUERY [--sf DIR] [--pairs N] [--conf k=v ...]

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``, the variable bench.py reads.

A is the engine defaults (``session.get_spark``); B is the defaults plus
every ``--conf``. Each run is a fresh interpreter and JVM
(``bench_scale.extras_worker``: prepared plan, untimed warm-up, median
of 3 noop-sink runs, ``clearCache`` between runs), with the driver heap
and DuckDB memory cap from ``bench_scale.host_memory``. Pairs alternate
which side runs first, so host drift lands on both sides. The first run
of each variant checks the result against the query's DuckDB oracle
(``verify_contract.oracle_status``); after the pairs, the oracle is
timed in DuckDB over the same files (``bench_scale.duckdb_time_suite``)
as the anchor. With no ``--conf`` only A runs.

Prints one JSON line: per-variant runs, median, quartiles, min and
oracle status, B's win count (pairs where B was faster) and the DuckDB
anchor in seconds (null when the query has no oracle).

Hints A/B through ``--conf spark.sql.optimizer.disableHints=true``. A
variant that needs different code is a branch: compare commits with
``perfbench/run.py``.

Exit status: 0 when every variant's oracle status is ok or rows-only,
1 otherwise, 2 on bad arguments (before any JVM starts).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_wrangling_spark.plans.registry import QUERIES, _load_all  # noqa: E402
from data_wrangling_spark.session import default_parallelism  # noqa: E402
from scripts import bench_scale  # noqa: E402
from scripts.verify_contract import GREEN  # noqa: E402


def summarize(runs: list[float]) -> dict:
    """Runs plus median, quartiles (inclusive method) and min."""
    if len(runs) > 1:
        q1, med, q3 = statistics.quantiles(runs, n=4, method="inclusive")
    else:
        q1 = med = q3 = runs[0]
    return {"runs": runs, "median": round(med, 3), "q1": round(q1, 3),
            "q3": round(q3, 3), "min": min(runs)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="A/B one registered query under Spark conf overrides.")
    ap.add_argument("query")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="table directory (default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--conf", action="append", default=[], metavar="K=V",
                    help="Spark conf override for variant B (repeatable)")
    args = ap.parse_args(argv)
    if not args.sf or args.pairs < 1 or any("=" not in c for c in args.conf):
        ap.error("need --sf (or SPARK_GRAFT_SF_DIR), --pairs >= 1 and "
                 "K=V for every --conf")

    _load_all()
    if args.query not in QUERIES:
        print(f"unknown query: {args.query}", file=sys.stderr)
        return 2

    conf = dict(c.split("=", 1) for c in args.conf)
    variants = {"A": {}, "B": conf} if conf else {"A": {}}
    runs: dict[str, list[float]] = {v: [] for v in variants}
    oracle: dict[str, str] = {}
    b_wins = 0
    for i in range(args.pairs):
        order = list(variants) if i % 2 == 0 else list(variants)[::-1]
        pair = {}
        for v in order:
            out = {} if v not in oracle else None
            pair[v] = bench_scale._spawn_extras_worker(
                args.sf, [args.query], variants[v], out)[args.query]
            runs[v].append(pair[v])
            if out is not None:
                oracle[v] = out[args.query]
        b_wins += "B" in pair and pair["B"] < pair["A"]
        print(f"pair {i + 1}/{args.pairs} (first {order[0]}): "
              f"{json.dumps(pair)}", file=sys.stderr)

    duck = bench_scale.duckdb_time_suite(
        {args.query: QUERIES[args.query]}, args.sf,
        threads=default_parallelism())
    result = {
        "query": args.query,
        "sf": args.sf,
        "pairs": args.pairs,
        "variants": {v: {"conf": variants[v], **summarize(runs[v]),
                         "oracle": oracle[v]} for v in variants},
        "b_wins": b_wins if conf else None,
        "duckdb_s": duck.get(args.query),
    }
    print(json.dumps(result))
    return 0 if all(s in GREEN for s in oracle.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
