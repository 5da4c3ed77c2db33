"""Seeded generator of the registry queries' fixture tables.

Writes one parquet file per table (``region nation customer supplier
part orders lineitem events``) with the schemas and value ranges of the
``sf*`` fixtures the registry queries and their oracles were written
against (TESTDATA.md): a TPC-H-like star schema with independent uniform
columns and an ``events`` stream over January 2024, whose ``ts`` is
stored as TIMESTAMP(NANOS) like the original.  ``scale`` multiplies the
row counts the way TPC-H's scale factor does (0.1 is the 600k-lineitem
size).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]

#: Row counts at ``scale=1``.
ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_DAY_US = 86_400 * 10**6


def _ts(base: str, us: np.ndarray, unit: str = "us") -> pa.Array:
    """Timestamps ``base`` + ``us`` microseconds, stored at ``unit``."""
    vals = np.datetime64(base, "us") + us.astype("timedelta64[us]")
    return pa.array(vals.astype(f"datetime64[{unit}]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All fixture tables for ``seed`` at ``scale`` (deterministic)."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in ROWS.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": _names("Customer", c),
            "c_nationkey": rng.integers(0, 25, c, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": _choice(rng, SEGMENTS, c),
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": _names("Supplier", s),
            "s_nationkey": rng.integers(0, 25, s, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    keys = np.arange(p, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": _choice(rng, names, p),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], p),
            "p_type": _choice(rng, PART_TYPES, p),
            "p_size": rng.integers(1, 51, p, dtype=np.int32),
            "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 2),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o, dtype=np.int64),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], o),
            "o_totalprice": _money(rng, 1000, 500000, o),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2405, o) * _DAY_US),
            "o_orderpriority": _choice(rng, PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, o, li, dtype=np.int64),
            "l_partkey": rng.integers(0, p, li, dtype=np.int64),
            "l_suppkey": rng.integers(0, s, li, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, li, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], li),
            "l_linestatus": _choice(rng, ["O", "F"], li),
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, li) * _DAY_US),
        }
    )
    e = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, e))
    out["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": _ts("2024-01-01", ts, unit="ns"),
            "user_id": rng.integers(0, max(1, int(15_000 * scale)), e, dtype=np.int64),
            "event_type": _choice(rng, EVENT_TYPES, e),
            "value": np.round(rng.exponential(60.0, e), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
        }
    )
    return out


def write(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
