"""Seeded fixture tables for the query-backed workload.

The engine's declared queries read a directory of parquet tables (the
names in ``sources.tables.TABLES``). This module writes such a
directory from a seed, with the fixture schemas the queries expect:

- ``events`` and ``documents`` follow the run's seed. Event values
  are multiples of 1/8, so the oracles' ``ROUND(SUM(value), 2)`` is
  exact in any summation order. The near-dup oracle draws its
  candidates from the same MinHash bands and bucket cap as the engine,
  so any corpus has one right answer.
- the other tables are one-row stubs: the queries register them but
  do not read them.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_T0 = datetime(2024, 1, 1)

_STUBS = {
    "region": {"r_regionkey": pa.array([0], pa.int32()),
               "r_name": ["AFRICA"]},
    "nation": {"n_nationkey": pa.array([0], pa.int32()), "n_name": ["N0"],
               "n_regionkey": pa.array([0], pa.int32())},
    "customer": {"c_custkey": [1], "c_name": ["c1"],
                 "c_nationkey": pa.array([0], pa.int32()),
                 "c_acctbal": [1.0], "c_mktsegment": ["BUILDING"]},
    "supplier": {"s_suppkey": [1], "s_name": ["s1"],
                 "s_nationkey": pa.array([0], pa.int32()),
                 "s_acctbal": [1.0]},
    "part": {"p_partkey": [1], "p_name": ["p1"], "p_brand": ["b1"],
             "p_type": ["t1"], "p_size": pa.array([1], pa.int32()),
             "p_retailprice": [1.0]},
    "orders": {"o_orderkey": [1], "o_custkey": [1], "o_orderstatus": ["O"],
               "o_totalprice": [1.0],
               "o_orderdate": pa.array([_T0], pa.timestamp("us")),
               "o_orderpriority": ["1-URGENT"]},
    "lineitem": {"l_orderkey": [1], "l_partkey": [1], "l_suppkey": [1],
                 "l_linenumber": pa.array([1], pa.int32()),
                 "l_quantity": [1.0], "l_extendedprice": [1.0],
                 "l_discount": [0.0], "l_tax": [0.0],
                 "l_returnflag": ["N"], "l_linestatus": ["O"],
                 "l_shipdate": pa.array([_T0], pa.timestamp("us"))},
    "embeddings": {"vec_id": [0],
                   "embedding": pa.array([[1.0, 0.0]], pa.list_(pa.float32())),
                   "label": pa.array([0], pa.int32())},
}


def events(seed: int, n: int, users: int = 150, days: int = 30) -> pa.Table:
    rng = random.Random(seed)
    span = days * 86_400_000_000
    ts = sorted(rng.randrange(span) for _ in range(n))
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([_T0 + timedelta(microseconds=t) for t in ts],
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(users) for _ in range(n)],
                            pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n)],
        "value": [rng.randrange(1, 4000) / 8 for _ in range(n)],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n)],
    })


def documents(seed: int, n: int) -> pa.Table:
    rng = random.Random(seed)
    texts = [" ".join(rng.choice(_WORDS) for _ in range(rng.randrange(20, 80)))
             for _ in range(n)]
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(("de", "en", "es", "zh")) for _ in range(n)],
        "source": [f"src{rng.randrange(4)}" for _ in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_tables(out_dir: str, seed: int, n_events: int, n_docs: int) -> None:
    """Write every fixture table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {name: pa.table(cols) for name, cols in _STUBS.items()}
    tables["events"] = events(seed, n_events)
    # a stream of its own, so the corpus does not shift with n_events
    tables["documents"] = documents(seed + 1, n_docs)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
