"""Deterministic input tables for the benchmark.

Writes the ten tables the query registry reads (``catalog.TABLE_NAMES``)
as one parquet file each, with the column names, Arrow types and value
domains of the engine's test fixtures (documented in FIXTURES.md): a
TPC-H-like star schema, an ``events`` stream table, a ``documents`` text
corpus with planted exact and near duplicates, and unit-norm 64-d
``embeddings``.

The benchmarked keys read only ``documents`` and ``nation``. The other
tables are kept small: they only have to exist, because the catalog and
the DuckDB oracle connection open every table of the registry.

The tables depend only on the row counts below and a fixed generator
seed, never on the benchmark's ``--seed``: the rows-only digests in
``expected.json`` are recorded against these exact bytes.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Fixed so that every run of every seed reads the same tables.
DATA_SEED = 20_240_101

#: Rows of the corpus table, the one table whose size the workloads feel.
N_DOCUMENTS = 5_000

#: Rows of the tables no benchmarked key reads (TPC-H scale factor 0.001).
N_CUSTOMER, N_SUPPLIER, N_PART = 150, 10, 200
N_ORDERS, N_LINEITEM, N_EVENTS, N_EMBEDDINGS = 1_500, 6_000, 1_000, 500

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
_EMB_DIM = 64


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _i32(values) -> pa.Array:
    return pa.array(values, pa.int32())


def _i64(values) -> pa.Array:
    return pa.array(values, pa.int64())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: dt.date, last: dt.date, n: int) -> pa.Array:
    span = (last - first).days + 1
    epoch_day = (first - dt.date(1970, 1, 1)).days
    days = epoch_day + rng.integers(0, span, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word sequences of 10-100 tokens. 5 % are near duplicates (a
    copy of another document plus one ``dup`` token) and 0.16 %, at least
    two, are exact copies, so the dedup lanes have clusters to find."""
    texts = [
        " ".join(_VOCAB[i] for i in rng.integers(0, len(_VOCAB), rng.integers(10, 101)))
        for _ in range(n)
    ]
    order = rng.permutation(n)
    n_near, n_exact = n // 20, max(2, n * 16 // 10_000)
    for i in order[:n_near]:
        words = texts[int(rng.integers(0, n))].split()
        words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        texts[i] = " ".join(words)
    for i in order[n_near:n_near + n_exact]:
        texts[i] = texts[int(order[-1 - int(rng.integers(0, n // 2))])]
    return pa.table(
        {
            "doc_id": _i64(np.arange(n)),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": _pick(rng, [f"src{i}" for i in range(20)], n),
            "n_chars": _i64([len(t) for t in texts]),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, _EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * _EMB_DIM + 1, _EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": _i64(np.arange(n)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": _i32(rng.integers(0, 10, n)),
        }
    )


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = N_CUSTOMER, N_SUPPLIER, N_PART
    n_ord, n_line, n_ev = N_ORDERS, N_LINEITEM, N_EVENTS
    out = {
        "region": pa.table({"r_regionkey": _i32(np.arange(5)), "r_name": pa.array(_REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": _i32(np.arange(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": _i32(np.arange(25) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": _i64(np.arange(n_cust)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": _i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": _i64(np.arange(n_supp)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": _i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": _i64(np.arange(n_part)),
                "p_name": pa.array(
                    [
                        f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ]
                ),
                "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
                "p_type": _pick(rng, _PART_TYPES, n_part),
                "p_size": _i32(rng.integers(1, 51, n_part)),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": _i64(np.arange(n_ord)),
                "o_custkey": _i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
                "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": _i64(rng.integers(0, n_ord, n_line)),
                "l_partkey": _i64(rng.integers(0, n_part, n_line)),
                "l_suppkey": _i64(rng.integers(0, n_supp, n_line)),
                "l_linenumber": _i32(rng.integers(1, 8, n_line)),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, n_line),
                "l_discount": np.round(rng.uniform(0, 0.10, n_line), 2),
                "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": _i64(np.arange(n_ev)),
                "ts": pa.array(
                    np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
                    + 1_704_067_200_000_000,  # 2024-01-01T00:00:00
                    pa.timestamp("us"),
                ),
                "user_id": _i64(rng.integers(0, max(15, n_ev * 15 // 1000), n_ev)),
                "event_type": _pick(rng, _EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": _documents(rng, N_DOCUMENTS),
        "embeddings": _embeddings(rng, N_EMBEDDINGS),
    }
    return out


def ensure(out_dir: str) -> str:
    """Write the tables under ``out_dir`` unless a complete copy from this
    generator is already there. The marker is written last, so a
    run cut mid-write regenerates instead of reading partial files."""
    with open(__file__, "rb") as fh:
        stamp = f"source={hashlib.sha256(fh.read()).hexdigest()[:16]}"
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == stamp:
                return out_dir
        os.remove(marker)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    with open(marker, "w") as fh:
        fh.write(stamp)
    return out_dir
