"""Seeded catalog fixture: the ten parquet tables the registry keys read,
in the test fixture's schemas (see FIXTURES.md at the repository root),
at the size of its smallest scale factor.

The benchmark generates this itself instead of reading a shared test-data
directory, so a run reads nothing outside its checkout and the seed
decides the inputs. Value domains follow that fixture: TPC-H-ish
relational tables dated 1995-2001, a 31-word vocabulary for documents
(with a share of near-duplicates so the dedup graph has edges), unit
64-d embeddings around ten labelled centres, and a month of events from a
small user population.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "fr", "es", "zh", "de"]
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _ts(values_us) -> pa.Array:
    return pa.array(np.asarray(values_us, dtype=np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0xF1C])
    n_cust, n_supp, n_part, n_ord = 150, 10, 200, 1500
    n_docs, n_vecs, n_events, n_users = 500, 500, 1000, 15

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999, 9999, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999, 9999, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [
                f"{['cold', 'small', 'red', 'steel', 'blue'][i]} widget"
                for i in rng.integers(0, 5, n_part)
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [
                ["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO", "STANDARD"][i]
                for i in rng.integers(0, 6, n_part)
            ],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_part) / 10, 2),
        }),
    }

    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 400_000, n_ord),
        "o_orderdate": _ts(EPOCH_1995_US + order_day * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })

    lines_per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines_per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995_US + (order_day[okey] + rng.integers(1, 122, n_li)) * DAY_US),
    })

    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_events))
    out["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": _money(rng, 0, 200, n_events),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 101, n_events)],
    })

    texts: list[str] = []
    for _ in range(n_docs):
        if texts and rng.random() < 0.15:
            # near-duplicate of an earlier document: a couple of words swapped
            words = texts[rng.integers(0, len(texts))].split()
            for pos in rng.integers(0, len(words), 2):
                words[pos] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(10, 100))]
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    centres = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_vecs)
    vecs = centres[label] + rng.normal(scale=0.8, size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return out


def write(seed: int, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
