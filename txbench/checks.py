"""Result checks: engine output against the DuckDB oracle.

Both sides are reduced to a canonical, order-insensitive row multiset and
compared by digest, the rule ``tests/test_oracle_parity.py`` applies:
columns matched by name, NULL and NaN alike, bytes as hex, decimals and
integral floats as exact integers, arrays element by element.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os

import duckdb
import numpy as np

from concordium_transaction_logger_spark.sources.tables import TABLES


def _norm(v):
    if v is None:
        return None
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() else repr(v)
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else str(v.normalize())
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def ordered_rows(pdf) -> tuple[list[str], list[str]]:
    """Column names (sorted) and canonical rows, in the frame's order."""
    cols = sorted(pdf.columns)
    rows = [
        repr(tuple(_norm(v) for v in row))
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    return cols, rows


def digest(pdf) -> str:
    """Order-insensitive digest of a pandas frame's rows."""
    cols, rows = ordered_rows(pdf)
    h = hashlib.sha256(repr(cols).encode())
    for r in sorted(rows):
        h.update(r.encode())
    return h.hexdigest()


class Oracle:
    """A DuckDB connection with one view per corpus table; oracle SQL
    from the registry (or built like it) runs against these views."""

    def __init__(self, sf_dir: str, where: dict[str, str] | None = None):
        """``where`` maps a table to a predicate that restricts its view."""
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            pred = f" WHERE {where[t]}" if where and t in where else ""
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}'){pred}")

    def df(self, sql: str):
        return self.con.sql(sql).df()

    def digest(self, sql: str) -> str:
        return digest(self.df(sql))

    def close(self) -> None:
        self.con.close()
