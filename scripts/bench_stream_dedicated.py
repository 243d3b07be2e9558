#!/usr/bin/env python3
"""Dedicated re-measure of the SCALING.md streaming section.

The streaming section runs LAST in bench_scale's parent session, after
the main suite + skew sections — the same long-lived-JVM pressure that
inflated the round-10 extras rows can inflate it (round-11 observed
x_stream_sessionize_custom at 162s in-suite vs ~58s r10). This script
re-times the four streaming queries at every scale point in a FRESH
dedicated session (one session for the whole pass — each query is a
full availableNow drain, so per-query JVM isolation would add little
beyond the session being otherwise idle) and SPLICES the regenerated
section into SCALING.md between its header and the next section.

Usage: python scripts/bench_stream_dedicated.py [--mults 10,20,100]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def measure(mults: list[int]) -> dict:
    from bench_scale import host_memory

    from data_wrangling_spark.session import get_spark
    from data_wrangling_spark.streaming.events import (
        dedup_stream,
        sessionize_stream,
        sessionize_stream_auto,
        sessionize_stream_native,
    )

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", host_memory()[0])
    spark = get_spark(app_name="dws-stream-dedicated")
    spark.sparkContext.setLogLevel("ERROR")
    workdir = os.environ.get("SPARK_GRAFT_SCALE_WORKDIR", "/tmp/dws-scale")
    scales = [
        ("sf0.01", "/root/testdata/sf0.01"),
        ("sf0.1", "/root/testdata/sf0.1"),
    ] + [(f"{m}x sf0.1", os.path.join(workdir, f"mult{m}")) for m in mults]
    stream_data: dict = {}
    for label, d in scales:
        point = {}
        for fn, qname in (
            (dedup_stream, "x_stream_dedup"),
            (sessionize_stream, "x_stream_sessionize_custom"),
            (sessionize_stream_native, "sessionize_native_form"),
            (sessionize_stream_auto, "x_stream_sessionize"),
        ):
            prog: dict = {}
            t0 = time.perf_counter()
            fn(spark, d, sink="noop", progress_out=prog)
            point[qname] = {
                "sec": round(time.perf_counter() - t0, 1),
                "state_rows_peak": prog.get("state_rows_peak"),
                "batches": prog.get("batches"),
            }
            if "form" in prog:
                point[qname]["form"] = prog["form"]
        stream_data[label] = point
        print(f"stream {label}: {json.dumps(point)}", file=sys.stderr)
    spark.stop()
    return stream_data


def splice(stream_data: dict) -> None:
    import bench_scale as BS

    lines: list[str] = []
    BS._stream_section(lines.append, stream_data)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "SCALING.md")
    with open(path) as f:
        doc = f.read().splitlines()
    start = next(i for i, l in enumerate(doc)
                 if l.startswith("## Streaming queries at scale"))
    end = next(i for i, l in enumerate(doc[start + 1:], start + 1)
               if l.startswith("## "))
    doc[start:end] = lines + [
        "_Section re-measured DEDICATED (fresh session, idle box) by",
        "`scripts/bench_stream_dedicated.py` — the in-suite capture runs",
        "last in the parent JVM and inherits long-suite pressure (round-11",
        "observed the custom sessionize at 162s in-suite vs the dedicated",
        "number above)._",
        "",
    ]
    with open(path, "w") as f:
        f.write("\n".join(doc) + "\n")
    print(f"spliced streaming section into {path}", file=sys.stderr)


def main() -> None:
    mults = [10, 20, 100]
    for a in sys.argv[1:]:
        if a.startswith("--mults"):
            mults = [int(m) for m in a.split("=", 1)[1].split(",")]
    splice(measure(mults))


if __name__ == "__main__":
    main()
