"""Seeded input generator for the repo benchmark.

Every table is built with numpy from one seed and written with pyarrow,
so the same seed always gives the same bytes. A seed changes values,
never the amount of work:

- TPC-H tables have fixed row counts per scale factor, fixed key ranges
  and fixed value distributions; the seed draws the values.
- The corpus keeps its *structure* fixed: document lengths, languages,
  each document's distinct-token set and which documents are
  near-duplicates come from a constant structure seed. The run seed only
  orders and repeats tokens inside each document. MinHash signatures,
  Jaccard pairs and clusters depend on token sets alone, so every
  operator's output row count is the same for every seed.
- The sync deltas have fixed sizes (1% of their table); the seed picks
  which keys change and how.

The schemas match the engine's declared ``io.SCHEMAS``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Structure seed for the corpus: fixed, so token sets never vary.
STRUCTURE_SEED = 20240117

TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DUP_SHARE = 0.05
EMBED_DIM = 64

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "rod"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_DAY_US = np.int64(86_400_000_000)


def tpch_sizes(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "supplier": int(10_000 * sf),
        "customer": int(150_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # whole cents, so every value prints and parses back exactly
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days(rng: np.random.Generator, n: int, span: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(0, span, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def tpch(seed: int, sf: float) -> dict[str, pa.Table]:
    """The seven TPC-H tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n = tpch_sizes(sf)
    i32, i64 = pa.int32(), pa.int64()
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
    }
    k = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": k,
        "s_name": _names("Supplier", k),
        "s_nationkey": pa.array(rng.integers(0, 25, k.size), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, k.size),
    })
    out["customer"] = customer_table(rng, n["customer"])
    k = np.arange(n["part"], dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": k,
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, k.size), rng.integers(0, 8, k.size))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k.size)],
        "p_type": np.array(_TYPES)[rng.integers(0, 6, k.size)],
        "p_size": pa.array(rng.integers(1, 51, k.size), i32),
        "p_retailprice": 900.0 + (k % 1000) / 10.0,
    })
    out["orders"] = orders_table(rng, np.arange(n["orders"], dtype=np.int64), n["customer"])
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": _days(rng, m, 2499),
    })
    return out


def customer_table(rng: np.random.Generator, n: int) -> pa.Table:
    k = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": k,
        "c_name": _names("Customer", k),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n)],
    })


def orders_table(rng: np.random.Generator, keys: np.ndarray, n_customers: int) -> pa.Table:
    n = keys.size
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000, 500_000, n),
        "o_orderdate": _days(rng, n, 2405),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n)],
    })


def corpus(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """``documents`` and ``embeddings`` with seed-invariant structure."""
    srng = np.random.default_rng(STRUCTURE_SEED)
    lengths = srng.integers(10, 101, n_docs)
    langs = np.array(LANGS)[srng.choice(len(LANGS), n_docs, p=LANG_P)]
    vocab = np.array(VOCAB)
    token_sets = [np.unique(srng.integers(0, len(VOCAB), n)) for n in lengths]
    # A near-duplicate copies an earlier document and appends "dup".
    is_dup = srng.random(n_docs) < DUP_SHARE
    is_dup[:50] = False
    dup_of = np.array([srng.integers(0, i) if d else -1 for i, d in enumerate(is_dup)])
    labels = srng.integers(0, 10, n_vecs).astype(np.int32)

    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for i in range(n_docs):
        if dup_of[i] >= 0:
            texts.append(texts[dup_of[i]] + " dup")
            continue
        s = token_sets[i]
        seq = np.concatenate([s, rng.choice(s, lengths[i] - s.size)])
        texts.append(" ".join(vocab[rng.permutation(seq)]))
    ids = np.arange(n_docs, dtype=np.int64)
    documents = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(0.0, 0.125, (n_vecs, EMBED_DIM)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), EMBED_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": labels,
    })
    return {"documents": documents, "embeddings": embeddings}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group parquet file per table, as the engine's
    test data is laid out (``<dir>/<name>.parquet``)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)


def write_parts(t: pa.Table, out_dir: str, parts: int) -> None:
    """A parquet directory of ``parts`` files, shaped like a published
    target (the engine reads and rewrites it in place)."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-t.num_rows // parts)
    for p in range(parts):
        pq.write_table(
            t.slice(p * step, step), os.path.join(out_dir, f"part-{p:05d}.parquet")
        )
