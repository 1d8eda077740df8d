"""Seed-derived input tables for the benchmark.

The pipeline synthesizes its `transcripts` table in SQL from three
TPC-H-style tables (orders x customer x nation, see
`sources/synthetic.py`), and `register_views` opens every table the
package knows. This module writes all ten as parquet, shaped like the
package's test corpora: `orders` has keys 0..n-1 and ten orders per
customer on average, dates in 1995-01-01..2001-08-01, and 25 nations
`NATION_<i>`. The tables the pipeline never reads (supplier, part,
lineitem, events, documents, embeddings) get a few rows with the right
schema, because only their schema is opened.

The same seed always gives byte-identical files; a directory that is
already complete for its (seed, size) is reused.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

N_NATIONS = 25
ORDERS_PER_CUSTOMER = 10
_DAY0 = np.datetime64("1995-01-01")
_N_DAYS = int((np.datetime64("2001-08-01") - _DAY0) / np.timedelta64(1, "D"))
_DONE = "_INPUTS.json"


def _tables(seed: int, n_orders: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust = max(n_orders // ORDERS_PER_CUSTOMER, 1)
    nation = pd.DataFrame({
        "n_nationkey": np.arange(N_NATIONS, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": (np.arange(N_NATIONS) % 5).astype(np.int32),
    })
    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, N_NATIONS, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY"], n_cust),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": (_DAY0 + rng.integers(0, _N_DAYS, n_orders).astype("timedelta64[D]"))
        .astype("datetime64[us]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    ts = np.datetime64("2024-01-01", "us") + np.arange(4).astype("timedelta64[m]")
    stubs = {
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(4, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(4)],
            "s_nationkey": np.arange(4, dtype=np.int32),
            "s_acctbal": np.full(4, 100.0),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(4, dtype=np.int64),
            "p_name": ["small widget"] * 4,
            "p_brand": ["Brand#1"] * 4,
            "p_type": ["PROMO"] * 4,
            "p_size": np.arange(4, dtype=np.int32),
            "p_retailprice": np.full(4, 900.0),
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": np.arange(4, dtype=np.int64),
            "l_partkey": np.arange(4, dtype=np.int64),
            "l_suppkey": np.arange(4, dtype=np.int64),
            "l_linenumber": np.ones(4, dtype=np.int32),
            "l_quantity": np.ones(4),
            "l_extendedprice": np.ones(4),
            "l_discount": np.zeros(4),
            "l_tax": np.zeros(4),
            "l_returnflag": ["N"] * 4,
            "l_linestatus": ["O"] * 4,
            "l_shipdate": ts,
        }),
        "events": pd.DataFrame({
            "event_id": np.arange(4, dtype=np.int64),
            "ts": ts,
            "user_id": np.arange(4, dtype=np.int64),
            "event_type": ["signup"] * 4,
            "value": np.ones(4),
            "props": ['{"k": 0}'] * 4,
        }),
        "documents": pd.DataFrame({
            "doc_id": np.arange(4, dtype=np.int64),
            "text": ["a b c"] * 4,
            "lang": ["en"] * 4,
            "source": ["web"] * 4,
            "n_chars": np.full(4, 5, dtype=np.int64),
        }),
        "embeddings": pd.DataFrame({
            "vec_id": np.arange(4, dtype=np.int64),
            "embedding": [[0.0, 1.0]] * 4,
            "label": np.zeros(4, dtype=np.int32),
        }),
    }
    return {"region": region, "nation": nation, "customer": customer, "orders": orders, **stubs}


def make_inputs(root: str, seed: int, n_orders: int) -> str:
    """Write the tables for (seed, n_orders) under ``root`` and return
    their directory."""
    out = os.path.join(root, f"seed{seed}_n{n_orders}")
    stamp = {"seed": seed, "n_orders": n_orders}
    try:
        with open(os.path.join(out, _DONE)) as fh:
            if json.load(fh) == stamp:
                return out
    except (OSError, ValueError):
        pass
    os.makedirs(out, exist_ok=True)
    for name, df in _tables(seed, n_orders).items():
        df.to_parquet(os.path.join(out, f"{name}.parquet"), index=False)
    with open(os.path.join(out, _DONE), "w") as fh:
        json.dump(stamp, fh)
    return out
