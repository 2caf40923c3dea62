"""Correctness checks against DuckDB.

Values are normalized the way ``tests/conftest.py:assert_frames_match``
does it: numbers compared in one float domain, -0.0 folded into 0.0,
rows compared as a multiset with columns sorted by name. Answers from the
product path carry plain SQL ``SUM``/``AVG`` over doubles, whose last
bits depend on summation order, so their floats are compared with a
relative tolerance instead of a 9-digit rounding.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import re

import duckdb
import numpy as np
import pandas as pd

REL_TOL = 1e-9


def norm(v):
    """One comparable Python value per cell (None for every kind of null)."""
    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        f = float(v)
        return None if math.isnan(f) else f + 0.0
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    if isinstance(v, np.ndarray):
        return tuple(norm(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return norm(v.asDict())
    return v


def _round9(v):
    if isinstance(v, float):
        return round(v, 9) + 0.0
    if isinstance(v, tuple):
        return tuple(_round9(x) for x in v)
    return v


def frame_rows(pdf: pd.DataFrame) -> tuple[list[str], list[str]]:
    """(sorted column names, sorted row reprs) — the catalog comparison key,
    rounded to 9 decimals like the repository's oracle tests."""
    cols = sorted(pdf.columns)
    rows = [repr(tuple(_round9(norm(v)) for v in rec))
            for rec in pdf[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows)


def frames_match(spark_pdf: pd.DataFrame, oracle_key) -> str | None:
    """None when equal, else a one-line reason."""
    cols, rows = frame_rows(spark_pdf)
    ocols, orows = oracle_key
    if cols != ocols:
        return f"columns {cols} != {ocols}"
    if len(rows) != len(orows):
        return f"row count {len(rows)} != {len(orows)}"
    if rows != orows:
        return "values differ"
    return None


# ---------------------------------------------------------------------------
# Product-path answers
# ---------------------------------------------------------------------------

def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
    return a == b


def _sort_key(row: tuple):
    # exact fields first, floats last: tolerance-equal rows sort alike
    return (tuple(repr(x) for x in row if not isinstance(x, float)),
            tuple(x for x in row if isinstance(x, float)))


def rows_close(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    return all(len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
               for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)))


def sql_from_markdown(markdown: str) -> str | None:
    m = re.search(r"```sql\n(.*?)\n```", markdown, re.S)
    return m.group(1).strip() if m else None


_LIMIT_RE = re.compile(r"^(.*)\bORDER BY\s+(\w+)\s+DESC\s+LIMIT\s+(\d+)\s*$", re.I | re.S)


def check_answer(con: duckdb.DuckDBPyConnection, sql: str, result: dict, row_cap: int,
                 memo: dict | None = None) -> str | None:
    """Compare one recorded answer with DuckDB running the same SQL over
    the view ``data_table``. None when it matches. ``memo`` keeps
    DuckDB's normalized rows per query for repeated questions over the
    same ``data_table``."""
    memo = {} if memo is None else memo

    def duck(query):
        if query not in memo:
            memo[query] = [tuple(norm(v) for v in r) for r in con.execute(query).fetchall()]
        return memo[query]

    cols = result.get("columns")
    if cols is None:
        return f"no result recorded: {result.get('error')}"
    total = int(duck(f"SELECT count(*) FROM ({sql}) AS q")[0][0])
    if result["row_count"] != total:
        return f"row_count {result['row_count']} != {total}"
    if result.get("truncated") != (total > row_cap):
        return f"truncated flag {result.get('truncated')} with {total} rows"
    data = result["data"]
    if len(data) != min(total, row_cap):
        return f"{len(data)} rows returned of {total}"
    if total > row_cap:
        return None  # a capped answer is checked on its count and flag
    got = [tuple(norm(r[c]) for c in cols) for r in data]
    m = _LIMIT_RE.match(sql)
    if not m:
        want = duck(f"SELECT {', '.join(cols)} FROM ({sql}) AS q")
        return None if rows_close(got, want) else "values differ"
    # ORDER BY key DESC LIMIT n: rows strictly above the n-th key must all
    # be returned; the rest may be any of the rows tied at that key.
    base, key, n = m.group(1), m.group(2), int(m.group(3))
    full = duck(f"SELECT {', '.join(cols)} FROM ({base}) AS q ORDER BY {key} DESC")
    k = cols.index(key)
    if len(full) <= n:
        return None if rows_close(got, full) else "values differ"
    edge = full[n - 1][k]
    above = [r for r in full if r[k] is not None and r[k] > edge]
    tied = [r for r in full if r[k] == edge]
    got_above = [r for r in got if r[k] is not None and r[k] > edge]
    got_tied = [r for r in got if r[k] == edge]
    if len(got_above) + len(got_tied) != len(got) or not rows_close(got_above, above):
        return "top-n rows differ"
    tied_keys = {repr(r) for r in tied}
    return None if all(repr(r) in tied_keys for r in got_tied) else "tied rows differ"


# ---------------------------------------------------------------------------
# Uploads
# ---------------------------------------------------------------------------

def duck_relation(fmt: str, path: str) -> str:
    """DuckDB table function reading one uploaded file."""
    p = path.replace("'", "''")
    return {
        "parquet": f"read_parquet('{p}')",
        "csv": f"read_csv('{p}', header=true)",
        "json_lines": f"read_json('{p}', format='newline_delimited')",
        "json_array": f"read_json('{p}', format='array')",
    }[fmt]


def check_upload(data_info: dict, rows: int, columns) -> str | None:
    """The profile's row count and column names against the file's own.
    Columns compare as a set: Spark's JSON reader orders them by name."""
    if data_info.get("行数") != rows:
        return f"行数 {data_info.get('行数')} != {rows}"
    if sorted(data_info.get("列名", [])) != sorted(columns):
        return f"列名 {data_info.get('列名')} != {list(columns)}"
    return None


def duck_shape(con: duckdb.DuckDBPyConnection, fmt: str, path: str) -> tuple[int, list[str]]:
    rel = con.sql(f"SELECT * FROM {duck_relation(fmt, path)}")
    return rel.aggregate("count(*)").fetchone()[0], list(rel.columns)
