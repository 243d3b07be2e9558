"""Output checks: order-insensitive value hashes compared with DuckDB, and
the SQL of the reference notebook's five OSM queries."""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import pandas as pd


def value_hash(df: pd.DataFrame) -> str:
    """Hash of a result that ignores row and column order: columns sorted
    by lower-cased name, values rendered exactly (floats by repr,
    timestamps in ISO form), rows sorted."""
    df = df.rename(columns=str.lower)
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
                vals.append("<null>")
            elif isinstance(v, float):
                vals.append(repr(v))
            elif hasattr(v, "isoformat"):
                vals.append(pd.Timestamp(v).isoformat())
            else:
                vals.append(str(v))
        rows.append("\x1f".join(vals))
    rows.sort()
    h = hashlib.sha256("\x1e".join(df.columns).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return h.hexdigest()


def duckdb_over(views: dict[str, str], threads: int) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``name -> read_parquet source``."""
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    for name, source in views.items():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{source}', hive_partitioning = true)"
        )
    return con


def written_table_views(out_dir: str, names: list[str]) -> dict[str, str]:
    """DuckDB sources for the tables a Spark writer left in ``out_dir``
    (plain or hive-partitioned directories of part files)."""
    views = {}
    for name in names:
        root = os.path.join(out_dir, name)
        nested = any(os.path.isdir(os.path.join(root, d)) for d in os.listdir(root))
        views[name] = os.path.join(root, "**/*.parquet" if nested else "*.parquet")
    return views


def osm_queries(quote: str) -> dict[str, str]:
    """The notebook's five queries (NB:12095-12610) over the five written
    tables, in their intended forms, with a deterministic tiebreak on every
    top-k. ``quote`` is the dialect's identifier quote (` for Spark, " for
    DuckDB) for the ``user`` and ``timestamp`` columns."""
    user, ts = f"{quote}user{quote}", f"{quote}timestamp{quote}"
    return {
        "osm_q1_type_counts": (
            "SELECT type, COUNT(*) AS cnt FROM ways_tags GROUP BY type "
            "UNION ALL SELECT type, COUNT(*) AS cnt FROM nodes_tags GROUP BY type "
            "ORDER BY cnt DESC, type"
        ),
        "osm_q2_node_tag_types": (
            "SELECT type, COUNT(*) AS cnt FROM nodes_tags GROUP BY type "
            "ORDER BY cnt DESC, type"
        ),
        "osm_q3_fire_hydrants": (
            "SELECT n.id, n.lat, n.lon, t.type FROM nodes n JOIN nodes_tags t "
            "ON n.id = t.id WHERE t.type = 'fire_hydrant' ORDER BY n.id"
        ),
        "osm_q4_top_users": (
            f"SELECT {user}, COUNT(*) AS cnt FROM (SELECT {user} FROM nodes "
            f"UNION ALL SELECT {user} FROM ways) u GROUP BY {user} "
            f"ORDER BY cnt DESC, {user} LIMIT 10"
        ),
        "osm_q5_timestamp_range": (
            f"SELECT MIN({ts}) AS oldest, MAX({ts}) AS newest FROM nodes"
        ),
    }
