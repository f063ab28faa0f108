"""Synthetic corpus for the benchmark: the schema and value domains of the
program's TPC-H-like test tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) at scale factor 0.1,
generated with numpy and written as one snappy parquet file per table.

`bulk` derives the bulk-scan corpus from a base corpus: lineitem and orders
replicated with key offsets into one file per replica, the other tables
copied.
"""
from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
N_ORDERS = 150_000
N_CUSTOMERS = 15_000
N_PARTS = 20_000
N_SUPPLIERS = 1_000
N_EVENTS = 100_000
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64

ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
VOCAB = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector window").split()
DAY_US = 86_400 * 1_000_000


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * DAY_US).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def base_tables(seed: int = 42) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMERS)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": _money(rng, N_CUSTOMERS, -999.99, 9999.99),
        "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], N_CUSTOMERS),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIERS), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": _money(rng, N_SUPPLIERS, -999.99, 9999.99),
    })
    pk = np.arange(N_PARTS)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, 8, N_PARTS), rng.integers(0, 8, N_PARTS))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PARTS)]),
        "p_type": _choice(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], N_PARTS),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, N_ORDERS, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, N_ORDERS, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS),
    })
    per_order = np.minimum(rng.poisson(4.0, N_ORDERS), 17)
    n = int(per_order.sum())
    okeys = np.repeat(np.arange(N_ORDERS), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n), pa.int64()),
        "l_linenumber": pa.array(np.arange(n) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n),
        "l_linestatus": _choice(rng, ["F", "O"], n),
        "l_shipdate": pa.array(_days(rng, n, "1995-01-02", "2001-11-04"), pa.timestamp("us")),
    })
    ts0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * DAY_US, N_EVENTS)) + ts0
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS), pa.int64()),
        "event_type": _choice(rng, ["click", "error", "purchase", "signup", "view"], N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })
    texts = []
    for i in range(N_DOCS):
        words = rng.choice(len(VOCAB), int(rng.integers(10, 101)))
        texts.append(" ".join(VOCAB[w] for w in words))
    for i in range(0, 40, 5):  # a few exact and near duplicates
        texts[N_DOCS - 1 - i] = texts[i]
        texts[N_DOCS - 2 - i] = texts[i + 1] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": _choice(rng, ["en", "de", "es", "fr", "zh"], N_DOCS, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, N_VECS)
    cents = rng.normal(0.0, 1.0, (10, DIM))
    vecs = cents[labels] + rng.normal(0.0, 0.8, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, compression="snappy")


def write_base(out: Path, seed: int = 42) -> dict[str, pa.Table]:
    out.mkdir(parents=True, exist_ok=True)
    tables = base_tables(seed)
    with ThreadPoolExecutor(4) as ex:
        list(ex.map(lambda kv: _write(kv[1], out / f"{kv[0]}.parquet"), tables.items()))
    return tables


def write_bulk(base: dict[str, pa.Table], base_dir: Path, out: Path, replicas: int) -> None:
    """lineitem and orders as `replicas` files each, replica i with its order
    keys offset by i * N_ORDERS; the other tables are copied unchanged."""
    out.mkdir(parents=True, exist_ok=True)
    jobs = []
    for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        d = out / f"{name}.parquet"
        d.mkdir()
        t = base[name]
        col = t.schema.get_field_index(key)
        for i in range(replicas):
            shifted = t.set_column(col, key, pc.add(t.column(key), pa.scalar(i * N_ORDERS, pa.int64())))
            jobs.append((shifted, d / f"part-{i:05d}.parquet"))
    with ThreadPoolExecutor(4) as ex:
        list(ex.map(lambda j: _write(*j), jobs))
    for name in TABLES:
        if name not in ("lineitem", "orders"):
            shutil.copyfile(base_dir / f"{name}.parquet", out / f"{name}.parquet")


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, files) under `path`, leaving out local checksum files."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.endswith(".crc"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files
