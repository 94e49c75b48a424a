"""Seeded generator of the TPC-H-shaped tables the engine's plans read.

The tables mirror the shape of the engine's test data (the same ten
tables, column names, types and value ranges) at a chosen scale factor,
so every registered plan runs on them unchanged. Everything is a pure
function of ``(seed, sf)``: the same seed writes the same bytes.

The wide rows of the federated write-back follow the reference
benchmark's table: int, float8, 200 B bytea, 200 B text, json, timestamp.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_emb = max(50, int(50_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    pkeys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(pkeys),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pkeys % 1000) / 10.0, 1)),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105000.0)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_line), 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", "2001-11-04")),
    })
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents; about 1 in 20 is a near-duplicate of an
    earlier one (a word replaced, 'dup' appended) and 1 in 100 an exact
    copy, so the dedup plans have pairs to find."""
    words = np.asarray(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and roll < 0.06:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(toks + ["dup"]))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors clustered around one centroid per label."""
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, pa.Table]:
    """Write one single-row-group parquet file per table into out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    tables = build_tables(seed, sf)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=table.num_rows or 1)
    return tables


# -- wide rows (reference benchmarks/src/bin/postgres.rs shape) --------------

WIDE_DDL = (
    "int_col INT, float8_col FLOAT8, bytea_col BYTEA, text_col TEXT, "
    "json_col JSON, timestamp_col TIMESTAMP"
)
WIDE_SPARK_SCHEMA = (
    "int_col int, float8_col double, bytea_col binary, text_col string, "
    "json_col string, timestamp_col timestamp_ntz"
)


def wide_batch(seed: int, first_key: int, n_rows: int) -> pa.Table:
    """A batch of wide rows to insert, keyed first_key.."""
    rng = np.random.default_rng([seed, first_key])
    keys = np.arange(first_key, first_key + n_rows, dtype=np.int32)
    tok = rng.integers(0, 2**62, n_rows)
    texts = [hashlib.md5(f"{seed}:{t}".encode()).hexdigest().ljust(200, "t") for t in tok]
    base = dt.datetime(2025, 11, 26, 3, 18, 33)
    return pa.table({
        "int_col": pa.array(keys),
        "float8_col": pa.array(np.round(rng.uniform(0, 1e6, n_rows), 3)),
        "bytea_col": pa.array([t.encode()[::-1] for t in texts], pa.binary()),
        "text_col": pa.array(texts),
        "json_col": pa.array([f'{{"key": {k}, "tok": {t}}}' for k, t in zip(keys.tolist(), tok.tolist())]),
        "timestamp_col": pa.array(
            [base + dt.timedelta(seconds=int(s)) for s in rng.integers(0, 10**7, n_rows)],
            pa.timestamp("us"),
        ),
    })


def text_key(text: str) -> int:
    """The per-row key the insert check sums on both sides: the first 8
    hex digits of md5(text) as an integer (Postgres computes the same
    with ('x' || substr(md5(text_col), 1, 8))::bit(32)::bigint)."""
    return int(hashlib.md5(text.encode()).hexdigest()[:8], 16)
