"""DuckDB oracles and the order-insensitive result check.

Each query's oracle is computed once per seed from ``registry.oracles()``
over the same input files Spark reads, and cached as one parquet file
per query.

The comparison follows the ``EXACT=1`` rules of ``scripts/driver_sim.py``:
columns are matched by sorted name, rows are compared as a multiset, a
float equals another float only when both agree after rounding to 12
decimal places, and any other pair of values must be equal. Two
conversions make a ``toPandas()`` frame comparable with DuckDB's Python
rows: NaN/NaT read as NULL (Arrow turns a NULL in an integer column into
NaN), and a date reads as midnight of that day (DuckDB returns dates,
pandas may return timestamps).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
from collections import Counter
from pathlib import Path

import numpy as np
import pandas as pd


def canon(v):
    """One cell in a hashable, engine-neutral form."""
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, bool | str | bytes):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float | decimal.Decimal):
        v = float(v)
        if math.isnan(v):
            return None
        r = round(v, 12)
        return int(r) if r.is_integer() else r
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return ("ts", v)
    if isinstance(v, dt.date):
        return ("ts", dt.datetime(v.year, v.month, v.day))
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    if isinstance(v, list | tuple | np.ndarray):
        return tuple(canon(x) for x in v)
    return v


class Expected:
    """The oracle result of one query: sorted column names and a row multiset."""

    @classmethod
    def load(cls, path: str) -> Expected:
        import duckdb

        with duckdb.connect() as con:
            cur = con.execute(f"SELECT * FROM read_parquet('{path}')")
            return cls([d[0] for d in cur.description], cur.fetchall())

    def __init__(self, columns: list[str], rows: list[tuple]):
        order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
        self.columns = [columns[i].lower() for i in order]
        self.rows = Counter(tuple(canon(r[i]) for i in order) for r in rows)
        self.n_rows = len(rows)

    def mismatch(self, pdf: pd.DataFrame) -> str | None:
        """None when ``pdf`` holds exactly the expected rows, else why not."""
        cols = sorted(pdf.columns, key=str.lower)
        if [c.lower() for c in cols] != self.columns:
            return f"columns {cols} != oracle {self.columns}"
        got = Counter(
            tuple(canon(x) for x in row)
            for row in pdf[cols].itertuples(index=False, name=None)
        )
        if got != self.rows:
            return f"{len(pdf)} rows, oracle {self.n_rows}; {sum((got - self.rows).values())} unmatched"
        return None


def _cached(con, sql: str, data_dir: str, cache: Path) -> str:
    sql = sql.strip().rstrip(";")
    path = cache / f"{hashlib.md5(f'{data_dir}:{sql}'.encode()).hexdigest()}.parquet"
    if not path.is_file():
        stage = path.with_suffix(f".stage.{os.getpid()}")
        con.execute(f"COPY ({sql}) TO '{stage}' (FORMAT PARQUET)")
        os.replace(stage, path)
    return str(path)


def compute(names: list[str], sf_dir: str, cache: Path) -> dict[str, str]:
    """The parquet file holding each query's oracle result."""
    import duckdb

    from sqlondataframesr_spark import registry
    from sqlondataframesr_spark.catalog import TABLES

    cache.mkdir(parents=True, exist_ok=True)
    sql = registry.oracles()
    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return {name: _cached(con, sql[name], sf_dir, cache) for name in names}
