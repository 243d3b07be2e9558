"""Materialize the /tmp/dws-scale working dirs up front (idempotent).

Round-11 workflow helper: the regeneration and every dedicated A/B reuse
/tmp/dws-scale/mult{10,20,100} (+ skew variants). /tmp is wiped between
rounds, so this runs once at round open — in the background while code
work (no concurrent Spark) proceeds.

Usage: python scripts/materialize_scale.py [mults...]   (default 10 20 100)
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    mults = [int(m) for m in sys.argv[1:]] or [10, 20, 100]
    from data_wrangling_spark.session import get_spark
    from scripts.bench_scale import (
        host_memory,
        materialize,
        materialize_osm,
        materialize_skewed,
    )

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", host_memory()[0])

    spark = get_spark(app_name="dws-materialize-scale")
    spark.sparkContext.setLogLevel("ERROR")
    workdir = os.environ.get("SPARK_GRAFT_SCALE_WORKDIR", "/tmp/dws-scale")
    for mult in mults:
        t0 = time.perf_counter()
        materialize(spark, "/root/testdata/sf0.1",
                    os.path.join(workdir, f"mult{mult}"), mult)
        print(f"mult{mult}: {time.perf_counter() - t0:.1f}s", flush=True)
        t0 = time.perf_counter()
        materialize_skewed(spark, "/root/testdata/sf0.1",
                           os.path.join(workdir, f"mult{mult}skew"), mult)
        print(f"mult{mult}skew: {time.perf_counter() - t0:.1f}s", flush=True)
        t0 = time.perf_counter()
        materialize_osm(os.path.join(workdir, f"mult{mult}"), mult)
        print(f"mult{mult} osm xml: {time.perf_counter() - t0:.1f}s",
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
