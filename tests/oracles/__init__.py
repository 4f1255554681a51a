"""Domain value oracles: each entry pairs a Spark function that runs the
real pipeline code on a deterministic fixture with a from-scratch DuckDB
SQL derivation of the same output. ``tests/test_domain_oracles.py``
compares the two by columns, row count and an order-insensitive value
hash.

Most fixtures are synthetic (the cached cohort of
``pipeline/synthetic.py`` or literal boards). Entries registered with
``tables=`` also read TPC-H sf0.01 parquet tables from ``TPCH_DIR``.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# TPC-H sf0.01 parquet tables, kept in a ``testdata`` directory beside
# the checkout
TPCH_DIR = str(Path(__file__).resolve().parents[3] / "testdata" / "sf0.01")

# name -> (fn(spark, sf_dir) -> DataFrame, oracle SQL, TPC-H tables read)
ORACLES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str, tuple[str, ...]]] = {}


def register(name: str, oracle: str, tables: tuple[str, ...] = ()):
    def deco(fn):
        ORACLES[name] = (fn, oracle, tables)
        return fn

    return deco


def norm_cell(v) -> str:
    """One engine-neutral text form per value, so Spark and DuckDB rows
    hash alike: full-precision doubles (``repr`` round-trips), integral
    doubles as integers, booleans as 0/1, recursive lists and maps."""
    import datetime
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def normalized_rows(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    """Rows as normalized cells, columns in name order, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    normalized and sorted."""
    h = hashlib.sha256()
    for line in normalized_rows(cols, rows):
        h.update("\x1f".join(line).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]
