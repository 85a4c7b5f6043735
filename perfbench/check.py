"""Output checks: order-insensitive exact row digests, and DuckDB.

A result is reduced to (row count, digest). Each row becomes a tuple of
canonical cell strings, each row is hashed, and the sorted row hashes
are hashed again, so row order does not matter but every value,
duplicate and NULL does. Floats compare by their exact ``repr``. Both
engines hand over Arrow tables, so cell values reach Python through the
same conversions.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import duckdb
import pyarrow as pa


def _cell(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, bool):
        return f"b{int(v)}"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "fnan"
        return f"f{v + 0.0!r}"  # -0.0 and 0.0 compare equal
    if isinstance(v, decimal.Decimal):
        # DuckDB hands integer sums over BIGINT back as DECIMAL(38,0).
        return f"i{int(v)}" if v == v.to_integral_value() else f"d{v.normalize()}"
    if isinstance(v, (dt.datetime, dt.date)):
        return f"t{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return f"s{v}"


def digest(table: pa.Table, by_name: bool = False) -> tuple[int, str]:
    """(rows, hex digest) of an Arrow table. With ``by_name`` columns
    are taken in name order, otherwise in position order."""
    names = sorted(table.column_names) if by_name else table.column_names
    cols = [table.column(n).to_pylist() for n in names]
    rows = sorted(
        hashlib.sha1("\x1f".join(_cell(v) for v in row).encode()).digest() for row in zip(*cols)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r)
    return table.num_rows, h.hexdigest()


class DuckDB:
    """One DuckDB connection with a view per parquet table / CSV table."""

    def __init__(self, threads: int = 2):
        self.con = duckdb.connect(config={"threads": threads})

    def parquet_views(self, data_dir: str, tables) -> None:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def csv_views(self, data_dir: str, catalog: dict[str, list[str]]) -> None:
        for t, cols in catalog.items():
            path = os.path.join(data_dir, f"{t}.csv")
            spec = ", ".join(f"'{c}': 'BIGINT'" for c in cols)
            self.con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"read_csv('{path}', header=false, quote='\"', columns={{{spec}}})"
            )

    def table(self, sql: str, args=None) -> pa.Table:
        return self.con.execute(sql, args).fetch_arrow_table()

    def close(self) -> None:
        self.con.close()
