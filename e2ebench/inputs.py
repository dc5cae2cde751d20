"""Seeded inputs for the end-to-end benchmark.

Everything the engine receives is generated here from one integer seed:
the TPC-H-shaped parquet lake, the replicated corpus lake with a chosen
near-duplicate rate, the CSV/JSON-lines upload files for the ingest path
and the ad-hoc DuckDB-dialect SQL texts. The same seed gives byte-identical
files. Column names, types and value domains follow the engine's fixture
lake (FIXTURES.md), so every registry op runs unchanged on these inputs.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale factor 1 (the fixture lake's ratios).
ROWS_AT_SF1 = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data dup part column order scan a slow "
         "agg key window table merge vector join").split()
EMB_DIM = 64
# Key shift between corpus replicas; larger than any generated key.
REPLICA_KEY_OFFSET = 100_000_000


def _days(rng, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + days, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _count(name: str, sf: float) -> int:
    return max(int(ROWS_AT_SF1[name] * sf), 10)


def _write(table: pa.Table, lake: str, name: str) -> None:
    pq.write_table(table, os.path.join(lake, f"{name}.parquet"))


def _documents(rng, n: int, dup_rate: float) -> pa.Table:
    """n documents; a ``dup_rate`` share copies an earlier document with one
    word replaced, which is the near-duplicate signal the dedup ops find."""
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < dup_rate:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 41)))]
        texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0, 1, (10, EMB_DIM))
    x = rng.normal(0, 1, (n, EMB_DIM)) + 0.6 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": labels,
    })


def _replicate(table: pa.Table, replicas: int, key: str,
               shifted_label: str | None = None) -> pa.Table:
    """Key-shifted copies: replica r adds r * REPLICA_KEY_OFFSET to ``key``
    (and r * 10 to ``shifted_label``, so kNN blocks keep their size)."""
    parts = []
    for r in range(replicas):
        cols = {c: table[c] for c in table.column_names}
        cols[key] = pa.array(table[key].to_numpy() + r * REPLICA_KEY_OFFSET)
        if shifted_label:
            cols[shifted_label] = pa.array(
                (table[shifted_label].to_numpy() + r * 10).astype(np.int32))
        parts.append(pa.table(cols))
    return pa.concat_tables(parts)


def build_lake(lake: str, seed: int, sf: float, corpus_docs: int,
               corpus_vectors: int, replicas: int = 1,
               dup_rate: float = 0.0) -> dict[str, int]:
    """Write the ten fixture tables under ``lake``; returns rows per table.

    ``corpus_docs``/``corpus_vectors`` size one replica of documents and
    embeddings; ``replicas`` key-shifted copies of them are written.
    """
    os.makedirs(lake, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: _count(k, sf) for k in ROWS_AT_SF1}
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())})
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _choice(rng, SEGMENTS, c)})
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": _choice(rng, names, p),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": _choice(rng, PART_TYPES, p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1)})
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2405, o),
        "o_orderpriority": _choice(rng, PRIORITIES, o)})
    li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], li),
        "l_linestatus": _choice(rng, ["F", "O"], li),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, li)})
    e = n["events"]
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400 * 1_000_000, e)).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(e // 66, 10), e).astype(np.int64),
        "event_type": _choice(rng, EVENT_TYPES, e),
        "value": _money(rng, 0.0, 560.0, e),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)]})
    tables["documents"] = _replicate(
        _documents(rng, corpus_docs, dup_rate), replicas, "doc_id")
    tables["embeddings"] = _replicate(
        _embeddings(rng, corpus_vectors), replicas, "vec_id", "label")
    for name, table in tables.items():
        _write(table, lake, name)
    return {name: table.num_rows for name, table in tables.items()}


# ------------------------------------------------------- ingest_serve files

CURRENCIES = ["USD", "EUR", "GBP"]


def build_uploads(out_dir: str, seed: int, rows: int, bad_email_rate: float,
                  outlier_rate: float) -> dict[str, str]:
    """A CSV of sales and a JSON-lines file of customers to ingest.

    Every row set carries invalid emails at ``bad_email_rate`` and extreme
    revenue values at ``outlier_rate``, so clean_emails and remove_outliers
    must each drop rows: a rule that returns its input unchanged is a
    detectable failure, not a speed-up.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 7919)
    ids = np.arange(rows, dtype=np.int64)
    bad = rng.random(rows) < bad_email_rate
    emails = [f"user{i}" if b else f"user{i}@example.com" for i, b in zip(ids, bad)]
    # at least one valid and one invalid address in both files
    emails[0], emails[1] = "user0@example.com", "user1"
    revenue = _money(rng, 10.0, 1000.0, rows)
    spikes = rng.random(rows) < outlier_rate
    spikes[1] = True
    revenue[spikes] = np.round(revenue[spikes] * 1000.0, 2)
    region = np.asarray(REGIONS, dtype=object)[rng.integers(0, 5, rows)]
    currency = np.asarray(CURRENCIES, dtype=object)[rng.integers(0, 3, rows)]
    day = np.datetime64("2024-01-01") + rng.integers(0, 90, rows).astype("timedelta64[D]")
    csv_path = os.path.join(out_dir, "sales.csv")
    with open(csv_path, "w") as f:
        f.write("sale_id,email,region,currency,revenue,sale_date\n")
        for row in zip(ids, emails, region, currency, revenue, day):
            f.write("{},{},{},{},{:.2f},{}\n".format(*row))
    json_path = os.path.join(out_dir, "customers.jsonl")
    with open(json_path, "w") as f:
        for i in range(rows // 4):
            f.write(json.dumps({
                "customer_id": i, "email": emails[i], "region": region[i],
                "total": float(revenue[i])}) + "\n")
    return {"csv": csv_path, "json": json_path}


# ------------------------------------------------------- ad-hoc analytics SQL

# DuckDB-dialect templates over one bound table. Together they exercise the
# rewrites of plans.dialect (strftime, QUALIFY, list literals, list_contains,
# //, string_split indexing, len) and return only exact values (integers,
# strings, cent sums), so the DuckDB oracle digest must match bit for bit.
_ADHOC = [
    ("lineitem", lambda r: (
        "SELECT strftime(l_shipdate, '%Y-%m') AS ym, l_returnflag, COUNT(*) AS n, "
        "CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents "
        f"FROM CURRENT_TABLE WHERE l_discount >= {r.integers(0, 9) / 100:.2f} "
        f"AND l_quantity > {int(r.integers(1, 45))} GROUP BY ALL")),
    ("orders", lambda r: (
        "SELECT o_custkey, o_orderkey, o_totalprice FROM CURRENT_TABLE "
        f"WHERE o_orderpriority = '{PRIORITIES[int(r.integers(0, 5))]}' "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey) = 1")),
    ("part", lambda r: (
        f"SELECT p_type, p_partkey // {int(r.integers(50, 500))} AS bucket, "
        "COUNT(*) AS n FROM CURRENT_TABLE WHERE list_contains("
        f"[{', '.join(str(int(v)) for v in r.choice(50, 5, replace=False) + 1)}], p_size) "
        "GROUP BY ALL")),
    ("documents", lambda r: (
        "SELECT string_split(text, ' ')[1] AS first_word, MAX(len(text)) AS max_len, "
        f"COUNT(*) AS n FROM CURRENT_TABLE WHERE lang = '{LANGS[int(r.integers(0, 5))]}' "
        "GROUP BY 1")),
]


def adhoc_queries(seed: int) -> list[tuple[str, str]]:
    """One (table, DuckDB SQL) per template, with seeded literals."""
    rng = np.random.default_rng(seed + 104729)
    return [(table, make(rng)) for table, make in _ADHOC]
