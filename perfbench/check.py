"""Result checking: an order-insensitive digest of a result frame, and
the DuckDB oracle run over the same generated files."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import duckdb
import numpy as np
import pandas as pd


def _cell(v) -> str:
    """One canonical string per value, equal across the Spark and DuckDB
    pandas bridges (dates as midnight timestamps, decimals as text)."""
    if type(v) is str:
        return v
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        return "NULL" if math.isnan(v) else repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat(timespec="microseconds")
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _column(col: pd.Series) -> list[str]:
    """_cell of every value, with the numpy number kinds done in bulk."""
    kind = col.dtype.kind if isinstance(col.dtype, np.dtype) else "O"
    values = col.tolist()
    if kind == "f":
        return ["NULL" if v != v else repr(v) for v in values]
    if kind in "iu":
        return [str(v) for v in values]
    return [_cell(v) for v in values]


def digest(frame: pd.DataFrame) -> tuple[int, str]:
    """(row count, sha256 of the sorted canonical rows, columns by name)."""
    cols = sorted(frame.columns)
    rows = sorted("\x1f".join(r) for r in zip(*(_column(frame[c]) for c in cols)))
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return len(rows), h.hexdigest()


class Oracle:
    """DuckDB over the generated parquet files, one view per table."""

    def __init__(self, data_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self._digests: dict[str, tuple[int, str]] = {}

    def frame(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).df()

    def expected(self, key: str, sql: str) -> tuple[int, str]:
        """Digest of ``sql``'s result, computed once per key."""
        if key not in self._digests:
            self._digests[key] = digest(self.frame(sql))
        return self._digests[key]

    def close(self) -> None:
        self.con.close()
