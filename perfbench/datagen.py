"""Seeded input generators for the benchmark.

Two families:

* ``write_landing`` — the six pipeline sources in their native formats
  (CSV, JSON-lines, SQLite, spreadsheet CSV export, pipe-delimited flat
  file, raw access log), with the reference simulators' schemas
  (``sources/simulators.py``) but a caller-chosen seed and row
  multiplier, plus planted dirty rows whose counts are returned so the
  clean stage's drops can be checked exactly.
* ``write_tables`` — the ten query tables (TPC-H-ish star schema plus
  events, documents, embeddings) with the layout of the query corpus,
  sized by a scale factor.

Everything is a pure function of its arguments: the same seed and size
give byte-identical files.
"""

from __future__ import annotations

import json
import os
import sqlite3
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CLOCK = datetime(2026, 1, 1, 12, 0, 0)

# Reference row counts (sources/simulators.py defaults).
BASE_ROWS = {
    "sales_csv": 1000,
    "customers_json": 800,
    "finance_db": 600,
    "inventory_excel": 400,
    "hr_flat": 300,
    "web_logs": 2000,
}

# Target table each source lands in (orchestrator.default_sources).
TARGET = {
    "sales_csv": "fact_sales",
    "customers_json": "dim_customers",
    "finance_db": "fact_finance",
    "inventory_excel": "dim_inventory",
    "hr_flat": "dim_employees",
    "web_logs": "fact_web_events",
}

# Planted dirty rows per source, as a share of the clean rows.
DUP_SHARE = 0.02
NULL_SHARE = 0.01
GARBAGE_SHARE = 0.01  # web_logs only: lines the log regex rejects


def _days_back(clock: datetime, days) -> list[str]:
    base = np.datetime64(clock.date())
    return np.datetime_as_string(base - np.asarray(days, dtype="timedelta64[D]")).tolist()


def _ids(prefix: str, n: int, width: int) -> list[str]:
    return [f"{prefix}{i:0{width}d}" for i in range(n)]


def _sources(rng: np.random.Generator, mult: int) -> dict[str, pd.DataFrame]:
    n = {k: v * mult for k, v in BASE_ROWS.items()}
    i = {k: np.arange(v) for k, v in n.items()}
    stamps = np.datetime64(CLOCK, "s") - (i["web_logs"] * 30).astype("timedelta64[s]")
    ts = np.char.replace(np.datetime_as_string(stamps), "T", " ")
    return {
        "sales_csv": pd.DataFrame({
            "sale_id": _ids("S", n["sales_csv"], 7),
            "date": _days_back(CLOCK, i["sales_csv"] % 90),
            "region": rng.choice(["North", "South", "East", "West"], n["sales_csv"]),
            "product": rng.choice(["A", "B", "C", "D"], n["sales_csv"]),
            "revenue": np.round(rng.uniform(1000, 100000, n["sales_csv"]), 2),
            "units": rng.integers(1, 100, n["sales_csv"]),
            "source": "CSV_SALES",
        }),
        "customers_json": pd.DataFrame({
            "customer_id": _ids("C", n["customers_json"], 7),
            "name": [f"Customer_{k}" for k in i["customers_json"]],
            "email": [
                f"c{k}@mail.com" if keep else None
                for k, keep in zip(i["customers_json"], rng.random(n["customers_json"]) > 0.05)
            ],
            "segment": rng.choice(["Premium", "Standard", "Basic"], n["customers_json"]),
            "tenure_days": rng.integers(1, 1000, n["customers_json"]),
            "churn_risk": np.round(rng.uniform(0, 1, n["customers_json"]), 3),
            "source": "JSON_API",
        }),
        "finance_db": pd.DataFrame({
            "txn_id": _ids("TXN", n["finance_db"], 8),
            "account": [f"ACC{a}" for a in rng.integers(1000, 9999, n["finance_db"])],
            "debit": np.round(rng.uniform(0, 50000, n["finance_db"]), 2),
            "credit": np.round(rng.uniform(0, 50000, n["finance_db"]), 2),
            "balance": np.round(rng.uniform(10000, 500000, n["finance_db"]), 2),
            "txn_date": _days_back(CLOCK, i["finance_db"] % 60),
            "source": "SQL_FINANCE",
        }),
        "inventory_excel": pd.DataFrame({
            "sku": _ids("SKU-", n["inventory_excel"], 6),
            "product": [f"Product_{chr(65 + k % 26)}" for k in i["inventory_excel"]],
            "quantity": rng.integers(0, 5000, n["inventory_excel"]),
            "warehouse": rng.choice(["WH-North", "WH-South", "WH-East"], n["inventory_excel"]),
            "reorder_pt": rng.integers(50, 500, n["inventory_excel"]),
            "unit_cost": np.round(rng.uniform(10, 1000, n["inventory_excel"]), 2),
            "source": "EXCEL_INVENTORY",
        }),
        "hr_flat": pd.DataFrame({
            "emp_id": _ids("EMP", n["hr_flat"], 6),
            "department": rng.choice(
                ["Analytics", "Engineering", "Finance", "Sales", "Operations"], n["hr_flat"]
            ),
            "salary": np.round(rng.uniform(25000, 200000, n["hr_flat"]), 0),
            "join_date": _days_back(CLOCK, rng.integers(30, 3650, n["hr_flat"])),
            "rating": rng.integers(1, 6, n["hr_flat"]),
            "active": rng.random(n["hr_flat"]) < 0.9,
            "source": "FLAT_FILE_HR",
        }),
        "web_logs": pd.DataFrame({
            "event_id": _ids("EVT", n["web_logs"], 8),
            "user_id": [f"U{u}" for u in rng.integers(1000, 9999, n["web_logs"])],
            "event_type": rng.choice(
                ["page_view", "click", "purchase", "login", "logout", "search"], n["web_logs"]
            ),
            "timestamp": list(ts),
            "session_id": [f"SES{s}" for s in rng.integers(10000, 99999, n["web_logs"])],
            "device": rng.choice(["mobile", "desktop", "tablet"], n["web_logs"], p=[0.55, 0.35, 0.10]),
            "source": "WEB_LOGS",
        }),
    }


# Column blanked in a planted null row (never the null-exempt email).
_NULL_COL = {
    "sales_csv": "region",
    "customers_json": "segment",
    "finance_db": "account",
    "inventory_excel": "warehouse",
    "hr_flat": "department",
    "web_logs": "session_id",
}


def _plant(rng: np.random.Generator, key: str, df: pd.DataFrame) -> tuple[pd.DataFrame, dict]:
    """Append exact duplicates of clean rows and rows with one NULL field.
    Null rows are copies of clean rows with a fresh id, so they are
    distinct from every other row and only the null-drop removes them."""
    n = len(df)
    n_dup, n_null = int(n * DUP_SHARE), int(n * NULL_SHARE)
    dups = df.iloc[rng.choice(n, n_dup, replace=False)]
    nulls = df.iloc[rng.choice(n, n_null, replace=False)].copy()
    id_col = df.columns[0]
    nulls[id_col] = [f"{v}X{k}" for k, v in enumerate(nulls[id_col])]
    nulls[_NULL_COL[key]] = None
    out = pd.concat([df, dups, nulls], ignore_index=True)
    out = out.iloc[rng.permutation(len(out))].reset_index(drop=True)
    return out, {"clean": n, "dups": n_dup, "nulls": n_null, "garbage": 0}


def write_landing(landing_dir: str, seed: int, mult: int) -> tuple[dict[str, str], dict[str, dict]]:
    """Write the six landing files; returns ({source_key: path},
    {source_key: {"clean", "dups", "nulls", "garbage"}}) where ``clean``
    is the row count the warehouse table must hold after cleaning."""
    os.makedirs(landing_dir, exist_ok=True)
    rng = np.random.default_rng([seed, mult])
    frames = _sources(rng, mult)
    paths, planted = {}, {}
    for key, df in frames.items():
        frames[key], planted[key] = _plant(rng, key, df)

    paths["sales_csv"] = os.path.join(landing_dir, "sales.csv")
    frames["sales_csv"].to_csv(paths["sales_csv"], index=False)

    paths["customers_json"] = os.path.join(landing_dir, "customers.jsonl")
    with open(paths["customers_json"], "w") as f:
        for rec in frames["customers_json"].to_dict(orient="records"):
            f.write(json.dumps(rec, default=int) + "\n")

    paths["finance_db"] = os.path.join(landing_dir, "finance.db")
    with sqlite3.connect(paths["finance_db"]) as conn:
        frames["finance_db"].to_sql("transactions", conn, if_exists="replace", index=False)

    # No xlsx writer in this environment: the spreadsheet lands as its
    # CSV export, which readers.read_inventory_excel accepts.
    paths["inventory_excel"] = os.path.join(landing_dir, "inventory.csv")
    frames["inventory_excel"].to_csv(paths["inventory_excel"], index=False)

    paths["hr_flat"] = os.path.join(landing_dir, "hr.txt")
    frames["hr_flat"].to_csv(paths["hr_flat"], index=False, sep="|")

    logs = frames["web_logs"]
    lines = [
        f"{r.event_id} {r.user_id} [{r.timestamp}] "
        f'"{r.event_type}" {r.session_id if r.session_id is not None else ""} {r.device}'
        for r in logs.itertuples(index=False)
    ]
    # Null rows render with an empty session field, which the log regex
    # rejects: they drop exactly like the garbage lines below.
    n_garbage = int(planted["web_logs"]["clean"] * GARBAGE_SHARE)
    garbage = [f"#corrupt line {k} {rng.integers(1 << 30)}" for k in range(n_garbage)]
    at = np.sort(rng.choice(len(lines) + n_garbage, n_garbage, replace=False))
    for pos, g in zip(at, garbage):
        lines.insert(int(pos), g)
    planted["web_logs"]["garbage"] = n_garbage
    paths["web_logs"] = os.path.join(landing_dir, "access.log")
    with open(paths["web_logs"], "w") as f:
        f.write("\n".join(lines) + "\n")
    return paths, planted


# --- query tables --------------------------------------------------------

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["red", "blue", "green", "small", "hot", "cold", "black", "white"]
_NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query order group filter "
    "stream big vector"
).split()
_LANGS = ["en", "es", "zh", "de", "fr"]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    span = (np.datetime64(hi) - np.datetime64(lo)).astype(int)
    return (np.datetime64(lo) + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _text(rng, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS, n_words))


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten query tables as one parquet file each.

    Row counts follow the query corpus: customer 150k·sf, supplier
    10k·sf (at least 10), part 200k·sf, orders 1.5M·sf, lineitem 6M·sf,
    events 1M·sf; documents and embeddings are 200 rows up to sf 0.004
    and grow linearly above it."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    n_c, n_s = max(int(150_000 * sf), 15), max(int(10_000 * sf), 10)
    n_p, n_o = max(int(200_000 * sf), 20), max(int(1_500_000 * sf), 150)
    n_l, n_e = max(int(6_000_000 * sf), 600), max(int(1_000_000 * sf), 100)
    n_d = max(200, int(50_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def write(name: str, cols: dict, types: dict) -> None:
        tbl = pa.table({k: pa.array(v, type=types[k]) for k, v in cols.items()})
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))

    write("region", {"r_regionkey": range(5), "r_name": _REGIONS},
          {"r_regionkey": i32, "r_name": s})
    write("nation", {"n_nationkey": range(25), "n_name": [f"NATION_{k}" for k in range(25)],
                     "n_regionkey": [k % 5 for k in range(25)]},
          {"n_nationkey": i32, "n_name": s, "n_regionkey": i32})
    write("customer", {
        "c_custkey": np.arange(n_c), "c_name": [f"Customer#{k:09d}" for k in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_c),
    }, {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64, "c_mktsegment": s})
    write("supplier", {
        "s_suppkey": np.arange(n_s), "s_name": [f"Supplier#{k:09d}" for k in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
    }, {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64})
    retail = np.round(900 + (np.arange(n_p) % 1000) / 10, 1)
    write("part", {
        "p_partkey": np.arange(n_p),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_COLORS, n_p), rng.choice(_NOUNS, n_p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(_PTYPES, n_p), "p_size": rng.integers(1, 51, n_p),
        "p_retailprice": retail,
    }, {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32,
        "p_retailprice": f64})
    write("orders", {
        "o_orderkey": np.arange(n_o), "o_custkey": rng.integers(0, n_c, n_o),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_o), 2),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_o),
        "o_orderpriority": rng.choice(_PRIORITIES, n_o),
    }, {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s, "o_totalprice": f64,
        "o_orderdate": ts, "o_orderpriority": s})
    l_part = rng.integers(0, n_p, n_l)
    qty = rng.integers(1, 51, n_l).astype(float)
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_o, n_l), "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_s, n_l), "l_linenumber": rng.integers(1, 8, n_l),
        "l_quantity": qty, "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(0.02, 1.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100, "l_tax": rng.integers(0, 9, n_l) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_l),
    }, {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32,
        "l_quantity": f64, "l_extendedprice": f64, "l_discount": f64, "l_tax": f64,
        "l_returnflag": s, "l_linestatus": s, "l_shipdate": ts})
    e_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_e))
    write("events", {
        "event_id": np.arange(n_e),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + e_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(n_c // 10, 10), n_e),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_e),
        "value": np.round(rng.uniform(0.01, 500, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    }, {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s, "value": f64, "props": s})
    texts = [_text(rng, int(w)) for w in rng.integers(10, 90, n_d)]
    write("documents", {
        "doc_id": np.arange(n_d), "text": texts,
        "lang": rng.choice(_LANGS, n_d, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{k % 20}" for k in range(n_d)],
        "n_chars": [len(t) for t in texts],
    }, {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64})
    emb = rng.normal(0, 1, (n_d, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_d), "embedding": list(emb), "label": rng.integers(0, 10, n_d),
    }, {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32})
