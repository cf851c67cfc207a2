"""Seeded input tables for the benchmark.

The engine only ever sees what this module writes: the same seed gives
byte-identical parquet files, a different seed gives different values
with the same shapes. Schemas match the engine's reference tables
(`events`, `documents`, `lineitem`, `orders`, `supplier`); sizes are
those of the reference sf0.01 notch, where every operation the
benchmark runs is bound by the engine's fixed per-job costs rather
than by data volume.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


SYMBOLS = 150
DAYS = 30
EVENTS = 10_000
DOCUMENTS = 500
ORDERS = 15_000
LINES_PER_ORDER = 4
SUPPLIERS = 100
PARTS = 2_000

EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = (
    "a the data spark stream batch table query join group sort scan filter "
    "hash key value row column part line order customer window merge agg "
    "vector index small big fast slow"
).split()
# the 30-day window crosses a year boundary, so the ETL's year partitions
# have something to prune
START = np.datetime64("2023-12-17T00:00:00", "us")
US_PER_DAY = 86_400_000_000


def _events(rng: np.random.Generator) -> pa.Table:
    n = EVENTS
    ts = START + rng.integers(0, DAYS * US_PER_DAY, n).astype("timedelta64[us]")
    # per-symbol price level so closes are positive and symbols differ
    level = np.exp(rng.normal(np.log(40.0), 0.6, SYMBOLS))
    user = rng.integers(0, SYMBOLS, n)
    value = np.round(level[user] * np.exp(rng.normal(0.0, 0.05, n)), 2) + 0.01
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(DOCUMENTS):
        if i > 10 and rng.random() < 0.08:
            # near-duplicate of an earlier document: a few words swapped,
            # so the dedup and repeat-run queries have work to find
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            n = int(rng.integers(8, 100))
            words = list(np.array(VOCAB)[rng.integers(0, len(VOCAB), n)])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(DOCUMENTS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), DOCUMENTS, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(DOCUMENTS)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _relational(rng: np.random.Generator) -> dict[str, pa.Table]:
    day0 = np.datetime64("1992-01-01T00:00:00", "us")
    odate = day0 + (rng.integers(0, 2_400, ORDERS) * US_PER_DAY).astype("timedelta64[us]")
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(ORDERS, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, ORDERS // 10, ORDERS).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, ORDERS)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1_000, 400_000, ORDERS), 2)),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, ORDERS)
                ]
            ),
        }
    )
    n = ORDERS * LINES_PER_ORDER
    okey = rng.integers(0, ORDERS, n).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = odate[okey] + (rng.integers(1, 121, n) * US_PER_DAY).astype("timedelta64[us]")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(0, PARTS, n).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, n).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2_000, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["R", "A", "N"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(SUPPLIERS, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(SUPPLIERS)]),
            "s_nationkey": pa.array(rng.integers(0, 25, SUPPLIERS).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9_999, SUPPLIERS), 2)),
        }
    )
    return {"orders": orders, "lineitem": lineitem, "supplier": supplier}


def generate(out_dir: str, seed: int) -> dict[str, str]:
    """Write every input table under `out_dir`; returns name -> path.

    Each table draws from its own child stream of the seed, so adding a
    table later does not change the others."""
    os.makedirs(out_dir, exist_ok=True)
    streams = np.random.SeedSequence(seed).spawn(3)
    tables = {
        "events": _events(np.random.default_rng(streams[0])),
        "documents": _documents(np.random.default_rng(streams[1])),
        **_relational(np.random.default_rng(streams[2])),
    }
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
