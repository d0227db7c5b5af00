"""Output checks: registry queries against their DuckDB oracle SQL, and
``run_job`` outputs against stdlib recounts of the generated input files.

The query comparison uses the engine test suite's normalisation: sorted
column names, then order-insensitive rows with floats compared by
``repr`` (-0.0 folded into 0.0), NaN as a sentinel, timestamps by
``isoformat`` and arrays as tuples. It is kept here rather than imported
from the tests so that the check is the same code on every commit the
benchmark compares.
"""

from __future__ import annotations

import math
import os
from collections import Counter
from typing import Any

import duckdb
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm_cell(v: Any) -> Any:
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v + 0.0)
    if pd.isna(v):
        return None
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def normalize(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [
        tuple(_norm_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    return cols, sorted(rows, key=repr)


def query_matches(con: duckdb.DuckDBPyConnection, oracle_sql: str, got: pd.DataFrame) -> bool:
    """True when the engine's rows equal the oracle's, order-insensitively."""
    return normalize(got) == normalize(con.execute(oracle_sql).df())


def read_pairs(path: str) -> dict[str, list[str]]:
    """Parse ``key v1 v2 ...`` result lines into key -> values."""
    out: dict[str, list[str]] = {}
    with open(path) as fh:
        for line in fh:
            parts = line.split()
            if parts:
                out[parts[0]] = parts[1:]
    return out


def recount_words(path: str) -> Counter:
    """Word count of a text file: lowercased whitespace tokens."""
    with open(path) as fh:
        return Counter(fh.read().lower().split())


def recount_suspects(path: str) -> dict[str, set]:
    """``name-family-year`` keys seen in more than 10 distinct cities of a
    ``name family city year`` file, with their cities."""
    seen: dict[str, set] = {}
    with open(path) as fh:
        for line in fh:
            parts = line.split()
            if len(parts) == 4:
                name, family, city, year = parts
                seen.setdefault(f"{name}-{family}-{year}", set()).add(city)
    return {k: v for k, v in seen.items() if len(v) > 10}


def word_counts_match(path: str, expected: Counter) -> bool:
    got = read_pairs(path)
    return len(got) == len(expected) and all(
        len(v) == 1 and expected.get(k) == int(v[0]) for k, v in got.items()
    )


def suspects_match(path: str, expected: dict[str, set]) -> bool:
    got = read_pairs(path)
    return len(got) == len(expected) and all(
        set(v) == expected.get(k) and len(v) == len(set(v)) for k, v in got.items()
    )
