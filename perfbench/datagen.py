"""Deterministic synthetic inputs for the benchmark.

Writes the ten tables the query registry reads (``<dir>/<name>.parquet``)
with the same schemas, key ranges and value distributions as the
TPC-H-ish star schema plus ``events``, ``documents`` and ``embeddings``
that the package's queries and oracles are written against. Row counts
scale with ``sf`` the same way (lineitem = 6M x sf).

Only numpy and pyarrow are used, so generating inputs never starts a JVM.
The same ``(sf, seed)`` always writes the same rows.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "old", "red", "shiny", "tiny"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "spring", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = np.array(["en", "es", "de", "fr", "zh"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DAY_US = 86_400_000_000


def _ts(base: str, us: np.ndarray) -> pa.Array:
    epoch = np.datetime64(base, "us").astype(np.int64)
    return pa.array(epoch + us, type=pa.timestamp("us"))


def _tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = max(500, int(50_000 * sf)), max(500, int(20_000 * sf)), max(
        15, int(15_000 * sf)
    )
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n_cust)
    t["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    sk = np.arange(n_supp)
    t["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    pk = np.arange(n_part)
    names = np.array([f"{a} {n}" for a in P_ADJ for n in P_NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
        }
    )
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": _ts("1995-01-01", order_days * DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    li_order = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": li_order,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(
                "1995-01-01", (order_days[li_order] + rng.integers(1, 122, n_li)) * DAY_US
            ),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev),
            "ts": _ts("2024-01-01", ev_us),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(60.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(n_doc, rng)
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return t


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    """Whitespace-token documents over a 30-word vocabulary. About 5 %
    are near-duplicates (an earlier document plus one extra token) and
    a few are exact copies, so the dedup and similarity keys find
    real clusters."""
    vocab = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    ids = np.arange(n)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": LANGS[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def generate(out_dir: str, sf: float, seed: int) -> dict[str, dict[str, int]]:
    """Write every table under ``out_dir``; return rows and bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes: dict[str, dict[str, int]] = {}
    for name, tbl in _tables(sf, np.random.default_rng(seed)).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        sizes[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return sizes


if __name__ == "__main__":  # python3 datagen.py OUT_DIR SF SEED
    print(json.dumps(generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))))
