"""DuckDB twin of a declared query over the generated parquet directories,
and the exact, order-insensitive comparison the engine's oracle contract
promises (every float bit-identical)."""

from __future__ import annotations

import math
import os
import pickle
from datetime import date, datetime


class CheckFailed(Exception):
    """An operation's output failed its check."""


def expect(ok, message: str) -> None:
    if not ok:
        raise CheckFailed(message)


def cached(name: str, sql: str, data: str, tables: dict) -> tuple[list[str], list[tuple]]:
    """``run`` once per generated input directory: the answer is a function
    of the seed's inputs, so it is kept beside them."""
    path = os.path.join(data, f"oracle-{name}.pickle")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    out = run(sql, data, tables)
    with open(f"{path}.{os.getpid()}.tmp", "wb") as fh:
        pickle.dump(out, fh)
    os.replace(f"{path}.{os.getpid()}.tmp", path)
    return out


def run(sql: str, data: str, tables: dict) -> tuple[list[str], list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(data, f"{t}.parquet")
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _normalized(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = [cols.index(c) for c in sorted(cols)]
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)


def assert_same(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> None:
    (g_cols, g_rows), (w_cols, w_rows) = got, want
    expect(sorted(g_cols) == sorted(w_cols), f"columns {g_cols} != {w_cols}")
    expect(len(g_rows) == len(w_rows), f"{len(g_rows)} rows, oracle {len(w_rows)}")
    expect(g_rows, "empty result")
    g, w = _normalized(g_cols, g_rows), _normalized(w_cols, w_rows)
    bad = [(a, b) for a, b in zip(g, w) if a != b]
    expect(not bad, f"{len(bad)} rows differ from the oracle, first {bad[:1]}")
