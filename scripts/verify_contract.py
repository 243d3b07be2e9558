"""Local replica of the driver's correctness gate: run registered
queries AND their DuckDB oracles at a scale dir and compare the
canonical forms (columns sorted by name, rows sorted, repr-exact
floats — tests/conftest.py semantics, which mirror the driver's
value-hash).

Usage:
    python scripts/verify_contract.py                 # all queries, sf0.01
    python scripts/verify_contract.py sf0.001         # all queries
    python scripts/verify_contract.py sf0.01 q1 q2    # subset

Exit code 0 iff every checked query matches. Queries without an
oracle are reported as rows-only (no compare).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_wrangling_spark.plans.registry import QUERIES, _load_all  # noqa: E402
from data_wrangling_spark.session import get_spark  # noqa: E402
from scripts.bench_scale import duckdb_connect  # noqa: E402
from tests.conftest import canonical  # noqa: E402

#: oracle_status results that count as passing
GREEN = ("ok", "rows-only")


def oracle_status(spark, con, spec, sf_dir: str) -> str:
    """Run ``spec`` at ``sf_dir`` and its oracle in DuckDB ``con``;
    compare canonical forms. Returns "ok", "rows-only" (no oracle),
    "FAIL ..." or "ERROR ..."."""
    try:
        got = canonical(spec.spark(spark, sf_dir).toPandas())
        if spec.oracle is None:
            return "rows-only"
        want = canonical(con.execute(spec.oracle).fetchdf())
    except Exception as e:  # noqa: BLE001 — report and continue
        return f"ERROR {type(e).__name__}: {e}"
    if len(got) != len(want):
        return f"FAIL rows spark={len(got)} duckdb={len(want)}"
    mism = [(g, w) for g, w in zip(got, want) if g != w]
    if mism:
        return f"FAIL {len(mism)} rows; first: {mism[0]}"
    return "ok"


def main() -> int:
    _load_all()
    args = sys.argv[1:]
    sf = "sf0.01"
    if args and args[0].startswith("sf"):
        sf, args = args[0], args[1:]
    sf_dir = f"/root/testdata/{sf}"
    names = args or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark(app_name="verify-contract")
    con = duckdb_connect(sf_dir)

    failed = []
    for n in names:
        t0 = time.perf_counter()
        status = oracle_status(spark, con, QUERIES[n], sf_dir)
        print(f"{n}: {status} ({time.perf_counter() - t0:.1f}s)")
        if status not in GREEN:
            failed.append(n)
    print(f"\n{len(names) - len(failed)}/{len(names)} green at {sf}")
    if failed:
        print(f"failed: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
