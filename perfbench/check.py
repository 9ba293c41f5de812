"""Output checks that do not go through the code under test.

Ingest sinks are read back with pyarrow and compared with the generated
source by row count and an order-independent content hash. Query results
are compared with DuckDB answers computed from the same parquet files.
"""

from __future__ import annotations

import glob
import gzip
import math
import os
from dataclasses import dataclass
from typing import Any

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.json as pajson
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Digest:
    rows: int
    hash: int


def _canon_column(col: pd.Series, ts_unit: str) -> pd.Series:
    """One canonical dtype per value kind: numbers as float64, times as
    integer ``ts_unit`` since the epoch, everything else as text."""
    if pd.api.types.is_datetime64_any_dtype(col):
        ns = col.astype("datetime64[ns]").astype("int64")
        return ns // pd.Timedelta(1, ts_unit).value
    if pd.api.types.is_numeric_dtype(col):
        return col.astype("float64")
    return col.astype(str)


def digest(table: pa.Table, ts_unit: str = "us") -> Digest:
    """Row count plus the wrapping sum of per-row hashes over the columns
    in lowercase-name order, so row order and name case do not matter."""
    df = table.to_pandas()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        df[c] = _canon_column(df[c], ts_unit)
    hashes = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return Digest(rows=len(df), hash=int(hashes.sum(dtype=np.uint64)))


def read_ndjson_sink(path: str) -> pa.Table:
    parts = sorted(p for p in glob.glob(os.path.join(path, "part-*")) if os.path.isfile(p))
    tables = []
    for p in parts:
        with gzip.open(p, "rb") as f:
            data = f.read()
        if data:
            tables.append(pajson.read_json(pa.BufferReader(data)))
    return pa.concat_tables(tables, promote_options="permissive") if tables else pa.table({})


def read_parquet_sink(path: str) -> pa.Table:
    parts = sorted(p for p in glob.glob(os.path.join(path, "part-*")) if os.path.isfile(p))
    return pa.concat_tables([pq.read_table(p) for p in parts]) if parts else pa.table({})


# -- query answers --------------------------------------------------------


def _canon_value(v: Any) -> Any:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "item"):  # numpy scalar
        return _canon_value(v.item())
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_value(x) for x in v)
    return v


def canon_rows(df: pd.DataFrame) -> tuple[tuple[str, ...], list[tuple]]:
    """Columns sorted by name, rows sorted, floats kept distinct from
    ints: the comparison the registry's oracles are written for."""
    cols = tuple(sorted(df.columns))
    rows = [tuple(_canon_value(v) for v in r) for r in df[list(cols)].itertuples(index=False)]
    return cols, sorted(rows, key=repr)


def duckdb_answers(sql_by_name: dict[str, str], data_dir: str, tables: list[str]) -> dict:
    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        return {name: canon_rows(con.sql(sql).df()) for name, sql in sql_by_name.items()}
    finally:
        con.close()
