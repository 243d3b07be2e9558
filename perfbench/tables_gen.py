"""Seeded relational tables for the query workloads.

``generate_base`` writes the six tables the benchmark's query mix reads
(customer, orders, lineitem, events, documents, embeddings) at the sizes
and value domains of the engine's sf0.1 test data: one parquet file per
table. ``materialize_scaled`` blows that base up ``mult`` times by writing
``mult`` key-shifted copies of every table as the part files of one
directory per table, so each copy joins only with itself and every query
answer stays well defined.

Both keep a marker file holding the parameters they were built with; a
later run with the same parameters reuses the files instead of writing them
again.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")

#: rows per table at the base scale (the engine's sf0.1 test data)
BASE_ROWS = {
    "customer": 15_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
#: users that raise events; they are the first customers
EVENT_USERS = 1_500

#: key columns shifted per copy, with the table whose row count sets the stride
_SHIFTS = {
    "customer": {"c_custkey": "customer"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders"},
    "events": {"event_id": "events", "user_id": "customer"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
_WORDS = np.array(
    "the a an and or of to in is was it that spark line column order small "
    "sort fast value scan hash slow group batch agg filter query big key "
    "window row part table stream merge data join vector customer".split()
)
_PII = (
    "contact jane.doe@example.com today",
    "call 512-555-0147 now",
    "ssn 123-45-6789 on file",
)


def _day(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    days = rng.integers(np.datetime64(lo, "D").astype(int), np.datetime64(hi, "D").astype(int), n)
    return days.astype("datetime64[D]").astype("datetime64[us]")


def _cents(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    return rng.integers(lo, hi, n) / 100.0


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    texts = []
    for i in range(n):
        if i % 600 == 599:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
            continue
        words = rng.choice(_WORDS, int(rng.integers(10, 101)))
        text = " ".join(words)
        if i % 97 == 0:
            text = f"{text} {_PII[i % len(_PII)]}"
        texts.append(text)
    return texts


def base_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The six base tables, generated in memory from ``seed``; ``scale``
    shrinks every table (for smoke tests)."""
    rng = np.random.default_rng(seed)
    n = {name: max(10, int(rows * scale)) for name, rows in BASE_ROWS.items()}
    n_users = max(5, int(EVENT_USERS * scale))
    customer = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"], dtype=np.int32),
        "c_acctbal": _cents(rng, n["customer"], -99_999, 999_999),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"], dtype=np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n["orders"], p=[0.49, 0.49, 0.02]),
        "o_totalprice": _cents(rng, n["orders"], 100_000, 50_000_000),
        "o_orderdate": _day(rng, n["orders"], "1995-01-01", "2001-08-02"),
        "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m, dtype=np.int64),
        "l_partkey": rng.integers(0, 20_000, m, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1_000, m, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, m, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _cents(rng, m, 90_000, 10_500_000),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), m),
        "l_linestatus": rng.choice(np.array(["F", "O"]), m),
        "l_shipdate": _day(rng, m, "1995-01-02", "2001-11-05"),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span_us, e))
    events = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, e, dtype=np.int64),
        "event_type": rng.choice(_EVENT_TYPES, e),
        "value": _cents(rng, e, 0, 20_000),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    texts = _documents(rng, n["documents"])
    documents = pa.table({
        "doc_id": np.arange(n["documents"], dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n["documents"]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n["documents"])],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = (rng.standard_normal((n["embeddings"], 64)) * 0.12).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n["embeddings"], dtype=np.int32),
    })
    return {
        "customer": customer, "orders": orders, "lineitem": lineitem,
        "events": events, "documents": documents, "embeddings": embeddings,
    }


def _marker_ok(out_dir: str, params: dict) -> bool:
    try:
        with open(os.path.join(out_dir, "_MARKER.json")) as f:
            return json.load(f) == params
    except (OSError, ValueError):
        return False


def _write_marker(out_dir: str, params: dict) -> None:
    with open(os.path.join(out_dir, "_MARKER.json"), "w") as f:
        json.dump(params, f)


def generate_base(out_dir: str, seed: int, scale: float = 1.0) -> bool:
    """Write the base tables to ``out_dir`` unless a marker for the same
    ``seed`` and ``scale`` is there. Returns whether it wrote anything."""
    params = {"kind": "base", "seed": seed, "scale": scale}
    if _marker_ok(out_dir, params):
        return False
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for name, table in base_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    _write_marker(out_dir, params)
    return True


def _shifted(table: pa.Table, name: str, copy: int, strides: dict[str, int]) -> pa.Table:
    for col, stride_table in _SHIFTS[name].items():
        i = table.schema.get_field_index(col)
        shift = copy * strides[stride_table]
        table = table.set_column(i, col, pc.add(table[col], shift))
    return table


def materialize_scaled(base_dir: str, out_dir: str, mult: int) -> bool:
    """Write ``mult`` key-shifted copies of the base tables in ``base_dir``
    to ``out_dir`` (one directory of part files per table) unless a marker
    for the same base and multiplier is there. Returns whether it wrote."""
    with open(os.path.join(base_dir, "_MARKER.json")) as f:
        params = {"kind": "scaled", "mult": mult, "base": json.load(f)}
    if _marker_ok(out_dir, params):
        return False
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    tables = {name: pq.read_table(os.path.join(base_dir, f"{name}.parquet")) for name in TABLES}
    strides = {name: t.num_rows for name, t in tables.items()}
    for name, table in tables.items():
        table_dir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(table_dir)
        for copy in range(mult):
            pq.write_table(
                _shifted(table, name, copy, strides),
                os.path.join(table_dir, f"part-{copy:03d}.parquet"),
            )
    _write_marker(out_dir, params)
    return True


def table_source(data_dir: str, name: str) -> str:
    """DuckDB ``read_parquet`` argument for one table of either layout."""
    path = os.path.join(data_dir, f"{name}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path
