"""Seeded inputs for the benchmark workloads.

``star_tables`` writes the TPC-H-ish star schema plus the ``events``,
``documents`` and ``embeddings`` tables the engine's queries read, with
the same names, schemas, key ranges and value domains as the repository's
sf test tables (TESTDATA.md), one parquet file per table. Row counts scale
with ``sf`` the same way (lineitem = 6,000,000 x sf). The benchmark makes
its own copy because it may only read inside its checkout, and because the
seed must change the inputs.

``late_batch`` builds the medallion workload's late-data batch: corrected
fares for existing trips plus new trips, all from one seed.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# the repository's test documents draw from the first 30 words alone; the
# numbered variants keep unrelated documents from sharing word n-grams by
# chance, so the near-duplicate graph is the injected re-ingestions only
# and the iterative cluster queries do the same work at every seed
_BASE_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_WORDS = _BASE_WORDS + [f"{w}{i}" for w in _BASE_WORDS for i in range(1, 8)]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _table(cols: dict, types: dict[str, pa.DataType] | None = None) -> pa.Table:
    types = types or {}
    return pa.table(
        {k: pa.array(v, type=types.get(k)) for k, v in cols.items()}
    )


def star_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; return rows per table."""
    rng = np.random.default_rng(seed)
    i32 = pa.int32()
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))
    tables: dict[str, pa.Table] = {}
    tables["region"] = _table(
        {"r_regionkey": np.arange(5), "r_name": _REGIONS}, {"r_regionkey": i32}
    )
    tables["nation"] = _table(
        {
            "n_nationkey": np.arange(25),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25) % 5,
        },
        {"n_nationkey": i32, "n_regionkey": i32},
    )
    tables["customer"] = _table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust),
            "c_acctbal": rng.uniform(-999.99, 9999.99, n_cust).round(2),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        },
        {"c_nationkey": i32},
    )
    tables["supplier"] = _table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp),
            "s_acctbal": rng.uniform(-999.99, 9999.99, n_supp).round(2),
        },
        {"s_nationkey": i32},
    )
    pk = np.arange(n_part, dtype="int64")
    tables["part"] = _table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part),
            "p_retailprice": (900 + (pk % 1000) / 10).round(1),
        },
        {"p_size": i32},
    )
    tables["orders"] = _table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": rng.uniform(1000, 500_000, n_ord).round(2),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    tables["lineitem"] = _table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": rng.uniform(900, 105_000, n_li).round(2),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
        },
        {"l_linenumber": i32},
    )
    ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    tables["events"] = _table(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.maximum(rng.exponential(50, n_ev).round(2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    # 5% of documents re-ingest an original with one word appended, the
    # near-duplicate rate of the repository's test tables. Copies are only
    # ever made of originals, so every duplicate cluster is a star and the
    # iterative cluster queries need the same number of rounds at any seed.
    n_dup = n_docs // 20
    texts = [
        " ".join(rng.choice(_WORDS, int(rng.integers(10, 100))))
        for _ in range(n_docs - n_dup)
    ]
    texts += [texts[i] + " dup" for i in rng.integers(0, n_docs - n_dup, n_dup)]
    texts = [texts[i] for i in rng.permutation(n_docs)]
    tables["documents"] = _table(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    centroids = rng.normal(size=(10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] + rng.normal(0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = _table(
        {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": list(vecs.astype("float32")),
            "label": labels,
        },
        {"embedding": pa.list_(pa.float32()), "label": i32},
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def late_batch(
    trips: pd.DataFrame, seed: int, n_corrected: int, n_new: int
) -> tuple[pd.DataFrame, set[int]]:
    """Late data for silver: ``n_corrected`` existing trips with a new
    fare, plus ``n_new`` trips whose ids follow the largest existing one.
    Returns the batch (raw trips schema) and the set of new trip ids."""
    rng = np.random.default_rng(seed + 1)
    latest = trips.drop_duplicates("trip_id", keep="last")
    fixed = latest.sample(n=n_corrected, random_state=rng).copy()
    fixed["fare_amount"] = (fixed["fare_amount"] * 1.1).round(2)
    new = latest.sample(n=n_new, random_state=rng).copy()
    start = int(trips["trip_id"].max()) + 1
    new["trip_id"] = np.arange(start, start + n_new, dtype="int64")
    batch = pd.concat([fixed, new], ignore_index=True)
    return batch, set(int(t) for t in new["trip_id"])
