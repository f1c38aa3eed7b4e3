"""Seeded input tables for the benchmark workloads.

The tables follow the schemas and value distributions of the engine's
driver test data (TESTDATA.md, FIXTURES.md): a TPC-H-ish star schema,
an ``events`` stream, a ``documents`` corpus with seeded near-duplicates
and an ``embeddings`` table.  Every value is drawn from a generator
seeded by the workload seed, so the same seed writes byte-identical
files and different seeds write different content with the same schema,
key uniqueness and timestamp type.

Run as a script to write one workload's tables::

    python3 perfbench/datagen.py <out_dir> <sizes-json> <seed>
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "old", "new", "hot", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
EMB_DIM = 64
N_SOURCES = 20
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    """The driver test data stores every timestamp, ``events.ts`` included,
    as parquet INT64 TIMESTAMP(MICROS), not nanoseconds."""
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def gen_dims(rng: np.random.Generator, n_customer: int, n_supplier: int, n_part: int) -> dict:
    ck, sk, pk = np.arange(n_customer), np.arange(n_supplier), np.arange(n_part)
    names = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": _keyed("Customer", ck),
            "c_nationkey": pa.array(rng.integers(0, 25, n_customer), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_customer),
            "c_mktsegment": list(np.array(SEGMENTS)[rng.integers(0, 5, n_customer)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": _keyed("Supplier", sk),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supplier), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supplier),
        }),
        "part": pa.table({
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": names,
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": list(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2),
        }),
    }


def gen_orders(rng: np.random.Generator, n_orders: int, n_customer: int, days: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customer, n_orders), pa.int64()),
        "o_orderstatus": list(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, days, n_orders) * DAY_US),
        "o_orderpriority": list(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
    })


def gen_lineitem(
    rng: np.random.Generator, n: int, n_orders: int, n_part: int, n_supplier: int, days: int
) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supplier, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": list(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": list(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, days, n)) * DAY_US),
    })


def gen_events(rng: np.random.Generator, n: int, n_users: int, expand: int) -> pa.Table:
    """``n`` base events over 30 days, expanded ``expand``-fold.

    Replica ``k`` of base event ``i`` gets event id ``i*expand + k`` and
    user id ``user + k*n_users``, one microsecond after the previous
    replica, so ids stay unique and ``ts`` stays increasing in
    ``event_id``; event type, value and props are drawn afresh.
    """
    gaps = rng.exponential(30 * DAY_US / n, n).astype(np.int64) + expand
    base_ts = EPOCH_2024 + np.cumsum(gaps) - gaps[0] + int(rng.integers(1, 10_000_000))
    base_user = rng.integers(0, n_users, n)
    m = n * expand
    k = np.tile(np.arange(expand), n)
    return pa.table({
        "event_id": pa.array(np.arange(m), pa.int64()),
        "ts": _ts(np.repeat(base_ts, expand) + k),
        "user_id": pa.array(np.repeat(base_user, expand) + k * n_users, pa.int64()),
        "event_type": list(np.array(EVENT_TYPES)[rng.integers(0, 5, m)]),
        "value": np.maximum(np.round(rng.exponential(50.0, m), 2), 0.01),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, m)],
    })


def gen_documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words docs; 5% are near-duplicates (another doc + " dup")
    and 0.4% exact copies, the structure the dedup operators look for."""
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), int(w))])
             for w in rng.integers(10, 100, n)]
    kind = rng.random(n)
    src = rng.integers(0, n, n)
    for i in np.flatnonzero(kind < 0.05):
        texts[i] = texts[src[i]] + " dup"
    for i in np.flatnonzero((kind >= 0.05) & (kind < 0.054)):
        texts[i] = texts[src[i]]
    ids = np.arange(n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": list(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors around 10 weak cluster centroids (label = cluster)."""
    cent = rng.normal(size=(10, EMB_DIM))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    label = rng.integers(0, 10, n)
    x = 0.15 * cent[label] + rng.normal(0.0, EMB_DIM ** -0.5, (n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def generate(out_dir: str, sizes: dict, seed: int) -> dict[str, dict]:
    """Write every table of one workload; returns {table: {rows, bytes}}."""
    os.makedirs(out_dir, exist_ok=True)
    rngs = dict(zip(TABLES, (np.random.default_rng(s) for s in
                             np.random.SeedSequence(seed).spawn(len(TABLES)))))
    days = sizes["days"]
    tables = gen_dims(rngs["customer"], sizes["customer"], sizes["supplier"], sizes["part"])
    tables["orders"] = gen_orders(rngs["orders"], sizes["orders"], sizes["customer"], days)
    tables["lineitem"] = gen_lineitem(
        rngs["lineitem"], sizes["lineitem"], sizes["orders"], sizes["part"],
        sizes["supplier"], days)
    tables["events"] = gen_events(
        rngs["events"], sizes["events"], sizes["users"], sizes["events_expand"])
    tables["documents"] = gen_documents(rngs["documents"], sizes["documents"])
    tables["embeddings"] = gen_embeddings(rngs["embeddings"], sizes["embeddings"])
    manifest = {}
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path)
        manifest[name] = {"rows": tables[name].num_rows, "bytes": os.path.getsize(path)}
    return manifest


if __name__ == "__main__":
    out, sizes_json, seed_arg = sys.argv[1:4]
    print(json.dumps(generate(out, json.loads(sizes_json), int(seed_arg))))
