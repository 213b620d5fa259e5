"""The driver's sf fixture tables, regenerated from their seed.

The engine's registry queries read one parquet file per table from an
``sf_dir``.  ``generate`` rebuilds the eight tables of the driver's
deterministic fixtures (FIXTURES.md §A, data seed 42) with the same draws
in the same order, so at sf 0.001, 0.01 and 0.1 every table equals the
driver's, file for file:

    python3 perfbench/tables.py 0.1 DRIVER_SF_DIR

writes the tables under ``.perfbench/`` and compares each file byte for
byte with the one of the same name in ``DRIVER_SF_DIR`` (identical at all
three scales with pyarrow 16.1).  The data depends only on ``sf``, so
every benchmark seed runs the same registry results and the stored
expected digests apply to all of them.
"""

from __future__ import annotations

import filecmp
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = pd.Timestamp(start), pd.Timestamp(end)
    offs = rng.integers(0, (hi - lo).days + 1, n)
    return (lo + pd.to_timedelta(offs, unit="D")).to_numpy("datetime64[s]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(sf: float, seed: int = DATA_SEED) -> dict[str, pd.DataFrame]:
    """The eight fixture tables at scale factor ``sf`` (0.1 → 600k lineitem)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = (max(10, int(k * sf)) for k in (150_000, 10_000, 200_000))
    n_ord, n_line, n_ev = (max(10, int(k * sf)) for k in (1_500_000, 6_000_000, 1_000_000))
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": keys,
            "p_name": np.char.add(
                np.char.add(rng.choice(PART_ADJ, n_part), " "),
                rng.choice(PART_NOUN, n_part),
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": rng.choice(["R", "A", "N"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    # Events are ordered by time and event_id, like an append-only log.
    ts_ns = (np.sort(rng.uniform(0, 30 * 86_400, n_ev)) * 1e9).astype(np.int64)
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "ns") + ts_ns.astype("timedelta64[ns]"),
            "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return t


def write(out_dir: str, sf: float) -> str:
    """Write every table as one single-row-group parquet file, timestamps
    truncated to microseconds; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in generate(sf).items():
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30,
                       coerce_timestamps="us", allow_truncated_timestamps=True)
    return out_dir


if __name__ == "__main__":
    sf, theirs = float(sys.argv[1]), sys.argv[2]
    ours = write(os.path.join(".perfbench", f"tables-sf{sf}"), sf)
    differ = [f for f in sorted(os.listdir(ours))
              if not filecmp.cmp(os.path.join(ours, f), os.path.join(theirs, f), shallow=False)]
    print(f"differ: {differ}" if differ else f"all {len(os.listdir(ours))} tables identical")
    sys.exit(1 if differ else 0)
