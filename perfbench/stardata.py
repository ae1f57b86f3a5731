"""A small star schema generated from a seed, for the analytics faces.

The faces read ten tables (region nation customer supplier part orders
lineitem events documents embeddings) from a directory of one parquet file
each. This writes those tables with the column names, types and value
domains of the repository's reference data, at ``scale`` times its
smallest size (150 customers, 1,500 orders, ~6,000 line items, 1,000
events, 500 documents and 500 64-dimensional embeddings per unit), so the
benchmark needs no data from outside its checkout. The same seed and scale
give the same bytes.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJECTIVES = ("blue", "cold", "new", "old", "small", "big", "red", "hot")
NOUNS = ("anvil", "widget", "rod", "ring", "gear", "bolt", "valve", "spring")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
WORDS = (
    "a the spark stream batch table scan merge join sort hash window group "
    "query row column data line value key order part filter agg vector "
    "customer big small fast slow"
).split()
DIM = 64


def tables(seed: int, scale: int = 1) -> dict[str, pa.Table]:
    rng = random.Random(seed)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_orders, n_events, n_docs = 1500 * scale, 1000 * scale, 500 * scale
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([rng.randrange(5) for _ in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
            "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
            "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
            "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)],
        }
    )
    prices = [round(900.0 + (i % 200) / 10.0, 2) for i in range(n_part)]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{rng.choice(ADJECTIVES)} {rng.choice(NOUNS)}" for _ in range(n_part)],
            "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)],
            "p_type": [rng.choice(PART_TYPES) for _ in range(n_part)],
            "p_size": pa.array([rng.randrange(1, 51) for _ in range(n_part)], pa.int32()),
            "p_retailprice": prices,
        }
    )

    day0 = dt.datetime(1995, 1, 1)
    order_days = [rng.randrange(0, 2404) for _ in range(n_orders)]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_orders)], pa.int64()),
            "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
            "o_totalprice": [round(rng.uniform(1000.0, 500000.0), 2) for _ in range(n_orders)],
            "o_orderdate": pa.array(
                [day0 + dt.timedelta(days=d) for d in order_days], pa.timestamp("us")
            ),
            "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_orders)],
        }
    )

    li: dict[str, list] = {
        k: []
        for k in (
            "l_orderkey l_partkey l_suppkey l_linenumber l_quantity l_extendedprice "
            "l_discount l_tax l_returnflag l_linestatus l_shipdate"
        ).split()
    }
    for o in range(n_orders):
        for line in range(1, rng.randrange(1, 8) + 1):
            part = rng.randrange(n_part)
            qty = float(rng.randrange(1, 51))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(part)
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(line)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * prices[part] * rng.uniform(0.9, 1.1), 2))
            li["l_discount"].append(rng.randrange(0, 11) / 100.0)
            li["l_tax"].append(rng.randrange(0, 9) / 100.0)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(
                day0 + dt.timedelta(days=order_days[o] + rng.randrange(1, 122))
            )
    out["lineitem"] = pa.table(
        {
            **li,
            "l_orderkey": pa.array(li["l_orderkey"], pa.int64()),
            "l_partkey": pa.array(li["l_partkey"], pa.int64()),
            "l_suppkey": pa.array(li["l_suppkey"], pa.int64()),
            "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
            "l_shipdate": pa.array(li["l_shipdate"], pa.timestamp("us")),
        }
    )

    t0 = dt.datetime(2024, 1, 1)
    offsets = sorted(rng.randrange(0, 30 * 86400 * 10**6) for _ in range(n_events))
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": pa.array([t0 + dt.timedelta(microseconds=u) for u in offsets], pa.timestamp("us")),
            "user_id": pa.array([rng.randrange(15 * scale) for _ in range(n_events)], pa.int64()),
            "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_events)],
            "value": [round(rng.uniform(0.0, 330.0), 2) for _ in range(n_events)],
            "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)],
        }
    )

    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randrange(8, 100))) for _ in range(n_docs)]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n_docs)],
            "source": [f"src{rng.randrange(20)}" for _ in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    # ten labelled clusters, so k-means has structure to find
    centers = [[rng.gauss(0.0, 0.1) for _ in range(DIM)] for _ in range(10)]
    labels = [rng.randrange(10) for _ in range(n_docs)]
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_docs), pa.int64()),
            "embedding": pa.array(
                [[c + rng.gauss(0.0, 0.05) for c in centers[lab]] for lab in labels],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write(path: str, seed: int, scale: int = 1) -> int:
    """Write every table as ``<path>/<name>.parquet``; returns the bytes
    written."""
    os.makedirs(path, exist_ok=True)
    total = 0
    for name, table in tables(seed, scale).items():
        target = os.path.join(path, f"{name}.parquet")
        pq.write_table(table, target)
        total += os.path.getsize(target)
    return total
