"""Seeded inputs for the benchmark: fixture tables, upload files and
question streams.

Everything here is plain numpy/pyarrow/pandas work on the benchmark's
side. The program under test only ever sees the files written here and
the questions sent to it.

Tables follow the domains of the repository's fixture tiers (the same
schemas as ``scripts/gen_sf1.py`` documents), scaled by ``sf``:
lineitem ~6M x sf rows, orders 1.5M x sf, events 1M x sf, customer
150k x sf, part 200k x sf, supplier 10k x sf, documents 50k x sf,
embeddings 20k x sf. Table content depends only on ``sf`` (fixed seed
42), so every run of a workload scans the same data; the workload seed
picks the files, the questions and their order.
"""

from __future__ import annotations

import json
import os
import random
import zipfile
from dataclasses import dataclass
from xml.sax.saxutils import escape

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_W = np.array([0.41, 0.14, 0.15, 0.148, 0.152])
EMB_DIM = 64

_ORDER_DAYS = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
_SHIP_DAYS = int((np.datetime64("2001-11-04") - np.datetime64("1995-01-02")).astype(int))


def _days(base: str, days: np.ndarray) -> pa.Array:
    vals = (np.datetime64(base) + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(vals, type=pa.timestamp("us"))


def _pick(rng, choices, n) -> pa.Array:
    return pa.array(np.asarray(choices)[rng.integers(0, len(choices), n)])


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf: float) -> dict[str, pa.Table]:
    """All ten fixture tables at scale ``sf`` (deterministic)."""
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, n_cust, -1000, 10000),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, n_supp, -1000, 10000)})
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{ADJS[a]} {NOUNS[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(0, 25, n_part)],
        "p_type": _pick(rng, TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": _money(rng, n_part, 900, 999.9)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _days("1995-01-01", rng.integers(0, _ORDER_DAYS + 1, n_ord)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    per_order = rng.poisson(4.0, n_ord)
    okeys = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    n = len(okeys)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys),
        "l_partkey": pa.array(rng.integers(0, n_part, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
        "l_linenumber": pa.array((np.arange(n) - starts + 1).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900, 105000),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days("1995-01-02", rng.integers(0, _SHIP_DAYS + 1, n))})
    window_us = 30 * 24 * 3600 * 1_000_000
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(
        rng.exponential(window_us / max(n_ev, 1), n_ev)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = np.array(VOCAB)
    texts = []
    for length in rng.integers(10, 101, n_doc):
        toks = vocab[rng.integers(0, len(vocab), length)]
        if rng.random() < 0.05:
            toks[rng.integers(0, len(toks))] = "dup"
        texts.append(" ".join(toks))
    for _ in range(max(1, n_doc * 8 // 5000)):  # exact duplicates, sf0.1 rate
        a, b = rng.integers(0, n_doc, 2)
        texts[int(a)] = texts[int(b)]
    langs = rng.choice(len(LANGS), n_doc, p=LANG_W / LANG_W.sum())
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in langs],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})
    mat = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(mat), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))})
    return t


def write_tables(out_dir: str, tables: dict[str, pa.Table], names=None) -> dict[str, str]:
    """Write ``tables`` (from ``make_tables``) as ``<out_dir>/<name>.parquet``;
    return paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        if names is None or name in names:
            paths[name] = os.path.join(out_dir, f"{name}.parquet")
            pq.write_table(table, paths[name])
    return paths


# ---------------------------------------------------------------------------
# Questions. Each class maps to one rule of the program's offline SQL
# generator; the question names the columns it is about.
# ---------------------------------------------------------------------------

#: Per uploaded table: numeric measures and string dimensions questions
#: may name.
COLUMNS = {
    "lineitem": (["l_extendedprice", "l_quantity", "l_discount"], ["l_returnflag", "l_linestatus"]),
    "orders": (["o_totalprice"], ["o_orderstatus", "o_orderpriority"]),
    "events": (["value"], ["event_type"]),
    "customer": (["c_acctbal"], ["c_mktsegment"]),
}


def question(rng: random.Random, table: str, kind: str) -> str:
    measures, dims = COLUMNS[table]
    m, d = rng.choice(measures), rng.choice(dims)
    if kind == "sum_by":
        return f"total {m} by {d}"
    if kind == "avg_by":
        return f"average {m} per {d}"
    if kind == "count_by":
        return f"count of rows by {d}"
    if kind == "top_n":
        return f"top {rng.randint(3, 20)} by {m}"
    if kind == "filter":
        return f"rows where {m} > {rng.randint(0, 100)}"
    if kind == "select_all":
        return rng.choice(["show me the data", "list everything", "what is in this file"])
    raise ValueError(kind)


#: One block of the ``ask`` workload: (table, question class, count).
#: Most answers are small aggregates; rows-returning classes go to
#: ``customer``, whose full projection is larger than the 10k-row cap, so
#: the filter and rule-5 questions are capped large results.
ASK_BLOCK = [
    ("lineitem", "sum_by", 2), ("lineitem", "avg_by", 2), ("lineitem", "count_by", 2),
    ("orders", "sum_by", 1), ("orders", "avg_by", 1), ("orders", "count_by", 1),
    ("events", "sum_by", 1), ("events", "avg_by", 1), ("events", "count_by", 1),
    ("customer", "sum_by", 1), ("customer", "count_by", 1),
    ("customer", "top_n", 2), ("customer", "filter", 1), ("customer", "select_all", 1),
]
ASK_TABLES = ("lineitem", "orders", "events", "customer")


def ask_stream(seed: int, blocks: int) -> list[list[tuple[str, str]]]:
    """``blocks`` blocks of (table, question); each block has the fixed
    ASK_BLOCK mix in a seeded order with seeded columns and constants."""
    rng = random.Random(seed)
    out = []
    for _ in range(blocks):
        block = [(t, k) for t, k, c in ASK_BLOCK for _ in range(c)]
        rng.shuffle(block)
        out.append([(t, question(rng, t, k)) for t, k in block])
    return out


# ---------------------------------------------------------------------------
# Upload files.
# ---------------------------------------------------------------------------

FORMATS = ("parquet", "csv", "json_lines", "json_array", "xlsx")
SUFFIX = {"parquet": ".parquet", "csv": ".csv", "json_lines": ".json",
          "json_array": ".json", "xlsx": ".xlsx"}
#: Per format: the source table, then the target size in MB of a small,
#: medium and large file, from about 1k rows to several MB (the route caps
#: uploads at 16 MB). Each file lands within +-2% of its target (seeded).
#: xlsx, whose reader is pure Python, stops at 0.5 MB.
UPLOAD_PLAN = {
    "parquet": ("lineitem", (0.05, 0.3, 2.0)),
    "csv": ("orders", (0.1, 0.6, 4.0)),
    "json_lines": ("lineitem", (0.2, 1.0, 4.0)),
    "json_array": ("orders", (0.2, 1.0, 3.0)),
    "xlsx": ("customer", (0.03, 0.15, 0.5)),
}
UPLOAD_KINDS = ("sum_by", "avg_by", "count_by")


@dataclass(frozen=True)
class UploadFile:
    path: str
    name: str        # file name as sent in the multipart body
    fmt: str
    rows: int
    columns: tuple[str, ...]
    question: str


def _slice(tables: dict[str, pa.Table], table: str, rows: int, rng: random.Random) -> pd.DataFrame:
    src = tables[table]
    start = rng.randint(0, max(0, src.num_rows - rows))
    pdf = src.slice(start, rows).to_pandas()
    for col in pdf.columns:  # text formats carry timestamps as ISO text
        if pd.api.types.is_datetime64_any_dtype(pdf[col]):
            pdf[col] = pdf[col].dt.strftime("%Y-%m-%d %H:%M:%S")
    return pdf


def _col_ref(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path: str, pdf: pd.DataFrame) -> None:
    """Minimal SpreadsheetML workbook (inline strings, numeric cells)
    written with the stdlib zip writer."""
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    refs = [_col_ref(i) for i in range(len(pdf.columns))]
    parts = [f"<worksheet {ns}><sheetData>"]

    def cell(ref, v):
        if isinstance(v, (float, np.floating)):
            return f'<c r="{ref}"><v>{float(v)!r}</v></c>'
        if isinstance(v, (int, np.integer)) and not isinstance(v, bool):
            return f'<c r="{ref}"><v>{int(v)}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'

    parts.append('<row r="1">' + "".join(cell(f"{r}1", c) for r, c in zip(refs, pdf.columns)) + "</row>")
    for i, row in enumerate(pdf.itertuples(index=False, name=None), start=2):
        parts.append(f'<row r="{i}">' + "".join(cell(f"{r}{i}", v) for r, v in zip(refs, row)) + "</row>")
    parts.append("</sheetData></worksheet>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("xl/worksheets/sheet1.xml", "".join(parts))


def write_upload(path: str, fmt: str, pdf: pd.DataFrame) -> None:
    if fmt == "parquet":
        pdf.to_parquet(path, index=False)
    elif fmt == "csv":
        pdf.to_csv(path, index=False)
    elif fmt == "json_lines":
        pdf.to_json(path, orient="records", lines=True, force_ascii=False)
    elif fmt == "json_array":
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(pdf.to_dict("records"), fh, ensure_ascii=False, indent=1)
    elif fmt == "xlsx":
        write_xlsx(path, pdf)
    else:
        raise ValueError(fmt)


def _bytes_per_row(fmt: str, pdf: pd.DataFrame, tmp: str) -> float:
    write_upload(tmp, fmt, pdf)
    size = os.path.getsize(tmp)
    os.remove(tmp)
    return size / len(pdf)


def upload_block(seed: int, out_dir: str, tables: dict[str, pa.Table], tag: str = "b",
                 strata=(0, 1, 2)) -> list[UploadFile]:
    """One upload round of the ``ask`` workload: a file of every format in
    every given size stratum (0 small, 1 medium, 2 large), in a seeded order.
    The seed picks each file's exact size, its slice and its question."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    plan = [(fmt, k) for fmt in FORMATS for k in strata]
    rng.shuffle(plan)
    files = []
    for i, (fmt, k) in enumerate(plan):
        table, mb = UPLOAD_PLAN[fmt][0], UPLOAD_PLAN[fmt][1][k]
        name = f"{tag}{i:02d}_{table}{SUFFIX[fmt]}"
        path = os.path.join(out_dir, name)
        per_row = _bytes_per_row(fmt, _slice(tables, table, 2000, rng), path)
        rows = int(mb * 1e6 * rng.uniform(0.98, 1.02) / per_row)
        pdf = _slice(tables, table, max(1000, min(rows, tables[table].num_rows)), rng)
        write_upload(path, fmt, pdf)
        if fmt == "xlsx":  # DuckDB reads no xlsx: the checker reads this copy
            pdf.to_parquet(path + ".parquet", index=False)
        q = question(rng, table, rng.choice(UPLOAD_KINDS))
        files.append(UploadFile(path, name, fmt, len(pdf), tuple(pdf.columns), q))
    return files
