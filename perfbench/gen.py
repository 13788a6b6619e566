"""Seeded input generation for the benchmark.

Everything the engine receives is made here from ``--seed`` with NumPy and
written as single parquet files with pyarrow: a TPC-H-shaped star
(lineitem, orders, customer, nation, region), request ``events``,
``documents`` with planted near-duplicates and clustered ``embeddings`` —
the tables the registry rows read — plus the benchmark's grant table and
Zipf user draws. The same seed gives the same bytes.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

YEARS = list(range(1992, 1999))  # 7 years x 12 months = 84 partitions
MONTHS = list(range(1, 13))
PARTITIONS = [(y, m) for y in YEARS for m in MONTHS]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "the a of and to in is that with data table scan join sort merge hash "
    "window stream batch spark query row column filter key value order part "
    "line customer group agg vector index small big fast slow dup page file "
    "log commit read write cache plan task stage shuffle driver worker user "
    "grant policy audit delta lake proxy bucket prefix list token snapshot"
).split()

_EPOCH = dt.datetime(1970, 1, 1)


def _micros(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds() * 1_000_000)


# Input sizes: ~24k lineitem rows (about 4 lines per order). Small enough
# that a registry row runs in about a second on 4 cores, so every kind of
# operation gets samples within one short run.
ORDERS = 6000
CUSTOMERS = 600
EVENTS = 6000
DOCUMENTS = 240
EMBEDDINGS = 320


def _lineitem(rng: np.random.Generator, n_orders: int) -> pa.Table:
    lines = rng.integers(1, 8, size=n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1, dtype=np.int32) for k in lines])
    n = len(okey)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, size=n), 2)
    lo, hi = _micros(dt.datetime(1992, 1, 1)), _micros(dt.datetime(1999, 1, 1))
    day = 86_400_000_000
    ship = (rng.integers(lo // day, hi // day, size=n) * day).astype("datetime64[us]")
    return pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, 2000, size=n, dtype=np.int64),
            "l_suppkey": rng.integers(0, 100, size=n, dtype=np.int64),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, size=n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, size=n) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, size=n)],
            "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
        }
    )


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    lo, hi = _micros(dt.datetime(1992, 1, 1)), _micros(dt.datetime(1999, 1, 1))
    day = 86_400_000_000
    od = (rng.integers(lo // day, hi // day, size=n) * day).astype("datetime64[us]")
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, size=n, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, size=n)],
            "o_totalprice": np.round(rng.uniform(1000.0, 400000.0, size=n), 2),
            "o_orderdate": pa.array(od, type=pa.timestamp("us")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, size=n)],
        }
    )


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, size=n).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.0, 9999.0, size=n), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, size=n)],
        }
    )


def _nation() -> pa.Table:
    return pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )


def _region() -> pa.Table:
    return pa.table({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    start = _micros(dt.datetime(2024, 1, 1))
    ts = np.sort(start + rng.integers(0, 6 * 3600 * 1_000_000, size=n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
            "user_id": rng.integers(0, 200, size=n, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, size=n)],
            "value": np.round(rng.uniform(1.0, 500.0, size=n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word texts; every fifth doc is an earlier original with one
    word changed, so each near-duplicate pair sits near Jaccard 0.9 — far
    above the 0.6 threshold, where MinHash banding finds it with
    certainty, while unrelated docs share almost no shingles."""
    texts: list[str] = []
    for i in range(n):
        if i % 5 == 4:
            words = texts[5 * int(rng.integers(0, i // 5 + 1))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = next(w for w in VOCAB if w != words[j])
        else:
            k = int(rng.integers(60, 120))
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), size=k)]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(["en", "de", "es", "fr", "zh"])[rng.integers(0, 5, size=n)],
            "source": [f"src{k}" for k in rng.integers(0, 4, size=n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0.0, 1.0, size=(10, dim))
    label = rng.integers(0, 10, size=n)
    vecs = centers[label] + rng.normal(0.0, 1.2, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )


def write_inputs(seed: int, out_dir: str) -> dict[str, str]:
    """Write every input table as ``<out_dir>/<name>.parquet``; returns name -> path."""
    rng = np.random.default_rng(seed)
    tables = {
        "region": _region(),
        "nation": _nation(),
        "customer": _customer(rng, CUSTOMERS),
        "orders": _orders(rng, ORDERS, CUSTOMERS),
        "lineitem": _lineitem(rng, ORDERS),
        "events": _events(rng, EVENTS),
        "documents": _documents(rng, DOCUMENTS),
        "embeddings": _embeddings(rng, EMBEDDINGS),
    }
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths


# -- governance: users and grants ---------------------------------------------


@dataclass(frozen=True)
class Grants:
    """``user -> [(year, month), ...]``; a user absent from the map holds no
    permission row and is therefore unrestricted (the reference's rule)."""

    by_user: dict[str, list[tuple[int, int]]]
    users: list[str]  # whole population, most popular first

    def rows(self, table: str) -> list[tuple[int, str, str, str]]:
        """Permission-table rows ``(id, user_id, table_name, partition_filters)``."""
        out = []
        for u in sorted(self.by_user):
            for y, m in self.by_user[u]:
                out.append(
                    (len(out), u, table, f'{{"year": "{y}", "month": "{m}"}}')
                )
        return out



def make_grants(seed: int, governed: int, unrestricted: int) -> Grants:
    """``governed`` users holding 1-12 granted (year, month) partitions each
    and ``unrestricted`` users without permission rows. How many partitions a
    user holds, and where unrestricted users sit in the population's
    popularity order, are fixed; the seed picks which partitions."""
    rng = np.random.default_rng([seed, 1])
    by_user = {}
    for i in range(governed):
        k = 1 + (i * 5) % 12
        idx = sorted(rng.choice(len(PARTITIONS), size=k, replace=False).tolist())
        by_user[f"u{i:04d}"] = [PARTITIONS[j] for j in idx]
    users = sorted(by_user)
    for i in range(unrestricted):  # spread over the popularity order
        users.insert(5 + i * governed // max(1, unrestricted), f"svc{i:02d}")
    return Grants(by_user, users)


def zipf_users(rng: np.random.Generator, users: list[str], n: int, s: float) -> list[str]:
    """``n`` draws from a Zipf(s) law over ``users`` in their listed order."""
    ranks = np.arange(1, len(users) + 1, dtype=np.float64)
    p = ranks**-s
    p /= p.sum()
    return [users[i] for i in rng.choice(len(users), size=n, p=p)]
