"""Correctness checks run outside the timed phase.

* Queries with an ``oracle_sql()`` entry must equal DuckDB on the same
  generated files.  The engine rounds floats to fixed significant digits
  (the siground contract), so ``==`` is the right comparison.
* Rows-only queries must return a non-empty result with their declared
  schema and the same digest on every pass.
* The shard export is read back: every prepared document appears exactly
  once, in the shard ``shard_manifest`` assigns it.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, dates as datetime64[ns], rows sorted."""
    out = pdf.copy()
    for c in out.columns:
        s = out[c]
        is_dt = len(out) and isinstance(s.iloc[0], (dt.date, dt.datetime))
        if is_dt or str(s.dtype).startswith("datetime64"):
            if str(s.dtype).startswith("datetime64") and getattr(s.dt, "tz", None):
                s = s.dt.tz_localize(None)
            out[c] = pd.to_datetime(s).astype("datetime64[ns]")
        elif np.issubdtype(s.dtype, np.floating):
            out[c] = s.astype("float64")
        elif s.dtype != object and np.issubdtype(s.dtype, np.integer):
            out[c] = s.astype("int64")
    out = out[sorted(out.columns)]
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def _kind(s: pd.Series) -> str:
    return "O" if s.dtype == object else np.dtype(s.dtype).kind


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if _kind(g) != _kind(w):
            return f"dtype of {c}: {g.dtype} vs {w.dtype}"
        if _kind(g) == "f":
            ok = (g.isna() & w.isna()) | (g == w)
            if not ok.all():
                i = int(np.flatnonzero(~ok.to_numpy())[0])
                return f"value of {c} at row {i}: {g.iloc[i]!r} vs {w.iloc[i]!r}"
        elif not g.astype(str).equals(w.astype(str)):
            return f"values of {c}"
    return None


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive content digest of a result."""
    csv = normalize(pdf).to_csv(index=False, float_format="%.17g")
    return hashlib.sha256(csv.encode()).hexdigest()[:16]


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_oracle(con: duckdb.DuckDBPyConnection, got: pd.DataFrame, sql: str) -> str | None:
    return compare(normalize(got), normalize(con.execute(sql).fetchdf()))


def check_rows_only(got: pd.DataFrame, declared: list[str], digests: list[str]) -> str | None:
    if got.empty:
        return "empty result"
    if list(got.columns) != declared:
        return f"columns {list(got.columns)} vs declared {declared}"
    if len(set(digests)) != 1:
        return f"digest differs across passes: {digests}"
    return None


def check_export(
    con: duckdb.DuckDBPyConnection, path: str, summary_sql: str, manifest_sql: str
) -> str | None:
    """``path`` holds ``shard=<k>/`` parquet directories."""
    files = glob.glob(os.path.join(path, "shard=*", "*.parquet"))
    if not files:
        return "export wrote no shard files"
    con.execute(
        "CREATE OR REPLACE TEMP VIEW exported AS SELECT * FROM "
        f"read_parquet({files!r}, hive_partitioning = true)"
    )
    dup = con.execute(
        "SELECT count(*) - count(DISTINCT doc_id) FROM exported"
    ).fetchone()[0]
    if dup:
        return f"{dup} documents exported more than once"
    misplaced = con.execute(
        f"SELECT count(*) FROM exported e JOIN ({manifest_sql}) m USING (doc_id) "
        "WHERE CAST(e.shard AS BIGINT) <> m.shard"
    ).fetchone()[0]
    if misplaced:
        return f"{misplaced} documents outside their manifest shard"
    got = con.execute(
        "SELECT split, lang_pred, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
        "min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id FROM exported GROUP BY 1, 2"
    ).fetchdf()
    err = check_oracle(con, got, summary_sql)
    return None if err is None else f"exported corpus vs prepared-corpus oracle: {err}"
