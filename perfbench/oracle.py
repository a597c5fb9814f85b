"""DuckDB mirror of the lake workloads' write sequences, and frame compare.

The mirror applies the same seeded batches with plain SQL (append, upsert,
delete-insert, hard delete, predicate delete), so the lake's final contents
and its query answers can be checked against an engine that shares no code
with it.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd


class Mirror:
    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")

    def _with(self, frame: pd.DataFrame, sql: str) -> None:
        self.con.register("_batch", frame)
        try:
            self.con.execute(sql)
        finally:
            self.con.unregister("_batch")

    def append(self, table: str, frame: pd.DataFrame) -> None:
        exists = self.con.execute(
            "SELECT count(*) FROM information_schema.tables WHERE table_name = ?",
            [table],
        ).fetchone()[0]
        if exists:
            self._with(frame, f"INSERT INTO {table} SELECT * FROM _batch")
        else:
            self._with(frame, f"CREATE TABLE {table} AS SELECT * FROM _batch")

    def upsert(self, table: str, frame: pd.DataFrame, keys: list[str], delete_col: str | None = None) -> None:
        """Delete every row whose key the batch carries, then insert the
        batch rows that are not hard deletes (``delete_col`` non-null).
        With unique batch keys this is both upsert and delete-insert."""
        on = " AND ".join(f"{table}.{k} = _batch.{k}" for k in keys)
        self._with(frame, f"DELETE FROM {table} USING _batch WHERE {on}")
        cols = ", ".join(c for c in frame.columns if c != delete_col)
        keep = f"WHERE {delete_col} IS NULL" if delete_col else ""
        self._with(frame, f"INSERT INTO {table} SELECT {cols} FROM _batch {keep}")

    def delete_where(self, table: str, where: list[tuple[str, str, object]]) -> None:
        cond = " AND ".join(f"{c} {op} ?" for c, op, _ in where)
        self.con.execute(f"DELETE FROM {table} WHERE {cond}", [v for _, _, v in where])

    def frame(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).df()

    def close(self) -> None:
        self.con.close()


def _normalize(frame: pd.DataFrame, floats: set[str]) -> pd.DataFrame:
    out = frame.copy()
    for c in out.columns:
        if c in floats:
            out[c] = out[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
    out = out.reindex(sorted(out.columns), axis=1)
    if len(out):
        # exact columns lead the sort so float noise cannot reorder rows
        exact = [c for c in out.columns if c not in floats]
        out = out.sort_values(exact + sorted(floats & set(out.columns)), ignore_index=True)
    return out


def same_rows(got: pd.DataFrame, want: pd.DataFrame, rtol: float = 0.0) -> str | None:
    """``None`` when the two frames hold the same rows (order-free);
    otherwise a one-line reason.  Floats compare exactly unless ``rtol``
    allows for a different summation order."""
    # a column is compared as float when either engine returns a float
    # (DuckDB widens integer sums)
    floats = {
        c for f in (got, want) for c in f.columns if pd.api.types.is_float_dtype(f[c])
    }
    a, b = _normalize(got, floats), _normalize(want, floats)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x):
            ok = np.isclose(x.to_numpy(), y.to_numpy(), rtol=rtol, atol=rtol, equal_nan=True)
        else:
            ok = ((x == y) | (x.isna() & y.isna())).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {c} row {i}: {x.iloc[i]!r} != {y.iloc[i]!r}"
    return None
