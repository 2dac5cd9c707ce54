"""Seeded generator of the TPC-H-ish tables the corpus queries read.

Writes one parquet file per table, in the layout TESTDATA.md describes
(``<dir>/<table>.parquet``, naive microsecond timestamps,
money as two-decimal doubles), at a scale factor ``sf`` where sf 1 is
6M lineitems. Only the tables the benchmark's queries read are made.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "line sort window query data column join small customer order the a "
    "big stream group filter vector"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(lo, hi, n) * np.timedelta64(1, "D")


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_line = int(6_000_000 * sf)
    n_ord = n_line // 4
    n_cust = max(50, n_ord // 10)
    n_part = max(50, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_ev = int(1_000_000 * sf)
    n_user = max(10, int(15_000 * sf))
    # fewer documents than TESTDATA.md's tables (50k per sf): the
    # DuckDB oracles of the n-gram queries cost seconds per 100 docs
    n_doc = max(50, int(15_000 * sf))

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(
        ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
    )
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    adjectives = np.array(["small", "red", "hot", "cold", "new", "large", "blue"])
    nouns = np.array(["ring", "widget", "rod", "gizmo", "gear"])
    types = np.array(["ECONOMY", "LARGE", "PROMO", "SMALL", "STANDARD", "MEDIUM"])
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(adjectives[rng.integers(0, 7, n_part)], " "),
            nouns[rng.integers(0, 5, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": rng.integers(9000, 10000, n_part) / 10.0,
    })
    priorities = np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    )
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, 0, 2404, n_ord),
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)],
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, 1, 2499, n_line),
    })
    ev_types = np.array(["view", "click", "purchase", "signup", "error"])
    start = np.datetime64("2024-01-01", "us")
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + np.sort(rng.integers(0, 30 * _DAY_US, n_ev)).astype(
            "timedelta64[us]"),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0, 100, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n_doc)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # a few verbatim copies, as crawled corpora have
    for i in rng.choice(n_doc, max(1, n_doc // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))]
    langs = np.array(["en", "en", "en", "zh", "de", "es", "fr"])
    documents = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, 7, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "part": part, "orders": orders, "lineitem": lineitem,
        "events": events, "documents": documents,
    }


def write_corpus(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in _tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
