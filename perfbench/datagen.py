"""Fixed synthetic inputs for the benchmark workloads.

Every table is drawn from one ``numpy`` generator with the fixed seed
``DATA_SEED``, so every run reads byte-identical parquet files; the
benchmark's ``--seed`` only orders the ops and deals the documents into
batches (``workloads.py``), and adds no variance of its own.  The
shapes follow the engine's TPC-H-ish test tables (same
column names, types and value domains: ``TESTDATA.md``), scaled by
``sf`` the way those tables are (lineitem ~ 6M x sf rows).  Documents
are bags of a 30-word vocabulary, 5% of them exact-parent "+ dup"
near-duplicates, as in the engine's ``documents`` table.

Generation runs in the driver process with numpy and pyarrow only: it
starts no Spark job, so it neither warms the JVM before the cold pass
nor hides Spark work inside set-up time.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
RELATIONAL = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events",
]
EMBED_DIM = 64
DATA_SEED = 42


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int)) + 1
    return (lo_d + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def relational_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    n_ev = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    ids = np.arange

    region = pa.table({
        "r_regionkey": pa.array(ids(5, dtype=np.int32)),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(ids(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(ids(25, dtype=np.int32) % 5),
    })
    customer = pa.table({
        "c_custkey": ids(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    supplier = pa.table({
        "s_suppkey": ids(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = ids(n_part, dtype=np.int64)
    part = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(
            np.char.add(
                np.char.add(np.asarray(P_ADJ)[rng.integers(0, 8, n_part)], " "),
                np.asarray(P_NOUN)[rng.integers(0, 8, n_part)],
            ).astype(object)
        ),
        "p_brand": pa.array(
            np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object)
        ),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    orders = pa.table({
        "o_orderkey": ids(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    gaps_us = rng.exponential(30 * 86_400e6 / max(n_ev, 1), n_ev).astype(np.int64)
    events = pa.table({
        "event_id": ids(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
    }


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` documents; 5% are their parent's text plus " dup"."""
    lengths = rng.integers(10, 100, n)
    words = np.asarray(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors in 10 weakly separated label clusters."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centres = rng.normal(size=(10, EMBED_DIM))
    centres *= 1.2 / np.linalg.norm(centres, axis=1, keepdims=True)
    vecs = rng.normal(size=(n, EMBED_DIM)) / np.sqrt(EMBED_DIM) + centres[labels] / np.sqrt(EMBED_DIM) * 8
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    })


def write(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def catalog_inputs(out_dir: str, sf: float, n_docs: int, n_vecs: int) -> None:
    """All ten tables the catalog keys read, as ``<out_dir>/<name>.parquet``."""
    rng = np.random.default_rng(DATA_SEED)
    tables = relational_tables(rng, sf)
    tables["documents"] = documents(rng, n_docs)
    tables["embeddings"] = embeddings(rng, n_vecs)
    write(out_dir, tables)
