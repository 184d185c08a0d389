"""Seeded input tables for the benchmark.

The benchmark never reads data from outside its checkout, so every run
writes its own copy of the lakehouse test tables (same names, columns and
types as the repository's synthetic test corpus) into its run directory. The row
counts follow the corpus' scale factor: at ``sf=0.1`` lineitem has 600,000
rows over 1,000 suppliers (the ARGO view's floats), documents 5,000 rows
and embeddings 2,000 64-d vectors.

The rows themselves come from a fixed seed, so every run does the same
work; the run's seed only permutes the row order of each file. The same
seed writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
EMB_DIM = 64
EMB_CLUSTERS = 10

DATA_SEED = 20_250_917
_DAY_US = 86_400_000_000
# 1995-01-02 and 2001-11-04 as days since the epoch
_SHIP_LO, _SHIP_HI = 9132, 11630


def _write(out_dir: str, name: str, table: pa.Table, order: np.random.Generator) -> None:
    table = table.take(pa.array(order.permutation(table.num_rows)))
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _days_to_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * _DAY_US, type=pa.timestamp("us"))


def _counts(sf: float) -> dict[str, int]:
    def n(base: int, floor: int) -> int:
        return max(floor, int(round(base * sf)))

    return {
        "customer": n(150_000, 50),
        "supplier": n(10_000, 10),
        "part": n(200_000, 100),
        "orders": n(1_500_000, 200),
        "lineitem": n(6_000_000, 2_000),
        "events": n(1_000_000, 500),
        "documents": n(50_000, 200),
        "embeddings": n(20_000, 200),
    }


def lineitem(rng: np.random.Generator, n: int, n_orders: int, n_parts: int,
             n_supp: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype("float64")
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _days_to_ts(rng.integers(_SHIP_LO, _SHIP_HI + 1, n)),
    })


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-vocabulary texts; 2% are one-word edits of an earlier text
    and 0.2% exact copies, so every dedup stage has true positives."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.022:
            words = texts[int(rng.integers(0, i))].split(" ")
            if rng.random() < 0.9:
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    labels = rng.integers(0, EMB_CLUSTERS, n)
    vecs = centers[labels] * 0.35 + rng.normal(size=(n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype("float32")
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM), pa.int32()),
        pa.array(vecs.ravel(), pa.float32()),
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write all ten tables under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    order = np.random.default_rng(seed)
    c = _counts(sf)
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), order)
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), order)
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(c["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, c["customer"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, c["customer"]), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            c["customer"],
        ),
    }), order)
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(c["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(c["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, c["supplier"]), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, c["supplier"]), 2),
    }), order)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(c["part"]), pa.int64()),
        "p_name": rng.choice(["large ring", "hot bolt", "blue ring"], c["part"]),
        "p_brand": [f"Brand#{i % 25}" for i in range(c["part"])],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL"], c["part"]),
        "p_size": pa.array(rng.integers(1, 51, c["part"]), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(c["part"]) % 1000 / 10, 2),
    }), order)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(c["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c["customer"], c["orders"]), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], c["orders"]),
        "o_totalprice": np.round(rng.uniform(900, 400_000, c["orders"]), 2),
        "o_orderdate": _days_to_ts(rng.integers(_SHIP_LO, _SHIP_HI, c["orders"])),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "5-LOW"], c["orders"]),
    }), order)
    ne = c["events"]
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(
            1_704_067_200_000_000 + np.sort(rng.integers(0, 30 * _DAY_US, ne)),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, 2_000, ne), pa.int64()),
        "event_type": rng.choice(["view", "click", "error", "signup"], ne),
        "value": np.round(rng.uniform(0, 200, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }), order)
    _write(out_dir, "lineitem", lineitem(
        rng, c["lineitem"], c["orders"], c["part"], c["supplier"]
    ), order)
    _write(out_dir, "documents", documents(rng, c["documents"]), order)
    _write(out_dir, "embeddings", embeddings(rng, c["embeddings"]), order)
