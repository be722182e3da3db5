"""Seeded input generator for the benchmark.

Builds the engine's fixture tables (the TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``) with numpy from one seed, in
the shapes and value domains the engine's queries expect, and writes them
as one parquet file per table. The engine only ever sees these files.

The same seed gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split()
)
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
PART_NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TS = pa.timestamp("us")  # tz-less, read as UTC instants by the engine


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, span_days):
    return pa.array(EPOCH_1995_US + rng.integers(0, span_days, n) * DAY_US, TS)


def events(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` events over 30 days in event-id order."""
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + EPOCH_2024_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, TS),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; about 5 % are near-duplicates of an earlier
    document (one word appended) so dedup and contamination queries find
    pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), k)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors clustered around one centre per label (10 labels)."""
    labels = rng.integers(0, 10, n)
    centres = rng.normal(size=(10, dim))
    vecs = centres[labels] * 0.35 + rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def tpch(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    np.char.add(
                        np.char.add(PART_ADJ[rng.integers(0, 8, n_part)], " "),
                        PART_NOUN[rng.integers(0, 8, n_part)],
                    )
                ),
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": pa.array(PART_TYPES[rng.integers(0, 6, n_part)]),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(rng, n_ord, 2404),
                "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_ord)]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
                "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
                "l_shipdate": _days(rng, n_li, 2498),
            }
        ),
    }


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    tables = tpch(rng, sf)
    tables["events"] = events(rng, int(1_000_000 * sf))
    tables["documents"] = documents(rng, int(50_000 * sf))
    tables["embeddings"] = embeddings(rng, int(20_000 * sf))
    return tables


def write_fixtures(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every fixture table as ``<out_dir>/<name>.parquet``; returns
    row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in fixture_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def event_files(seed: int, n_rows: int, rows_per_file: int) -> list[pa.Table]:
    """The ingest input: ``n_rows`` events, shuffled by the seed and cut
    into ``rows_per_file``-row tables (one source file each)."""
    rng = np.random.default_rng(seed)
    table = events(rng, n_rows)
    table = table.take(pa.array(rng.permutation(n_rows)))
    return [table.slice(i, rows_per_file) for i in range(0, n_rows, rows_per_file)]
