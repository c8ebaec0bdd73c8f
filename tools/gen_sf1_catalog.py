"""Assemble a FULL-catalog sf1 fixture dir (VERDICT r11 item 4).

The existing probe generators cover the hard tables — orders/lineitem
(gen_sf1_tpch_streams: 1.5M/6M, shape-matched join selectivity) and
events/documents/embeddings (gen_sf1_probe_data: 1M/50k/20k) — but the
catalog also reads customer/supplier/part, which the probe dirs symlink
to sf0.1. A full-catalog sf1 bench over those dirs would join 10x facts
against 1x dims: realistic for dims-as-broadcast rows, but it would
understate the dimension-side scan/groupBy rows for the q-rows that
aggregate dims directly (q01/q03 read customer). This generator fills
the gap with shape-matched 10x dimensions and symlinks everything else:

  customer 150k  keys 0..149999 (matches gen_sf1_tpch_streams'
                 o_custkey draw), Customer#%09d names, 25 nations,
                 5 market segments, acctbal U[-1000, 10000)
  supplier 10k   (matches l_suppkey 0..9999), same shape
  part     200k  (matches l_partkey 0..199999), 64 two-word names,
                 25 brands, 6 types, size 1..50, retailprice 900+k/10

  orders/lineitem -> symlink into .scratch/sf1tpch (generated there)
  events/documents/embeddings -> symlink into .scratch/sf1
  region/nation -> symlink to sf0.1 (fixed-cardinality by definition)

Per-table independent seeding ([SEED, table_idx]) so any subset
regenerates identically (the ADVICE r11 rng lesson). Staleness-guarded
by parquet-footer row counts.

Usage: python tools/gen_sf1_catalog.py [out_dir=.scratch/sf1full]
(run gen_sf1_tpch_streams.py and gen_sf1_probe_data.py first)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# fixtures live in the checkout's .scratch/ (gitignored)
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)
SEED = 20260816 + 200
N_CUSTOMER = 150_000
N_SUPPLIER = 10_000
N_PART = 200_000

SEGMENTS = np.array(
    ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], object
)
P_TYPES = np.array(
    ["ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD", "PROMO"], object
)
ADJ = np.array(["large", "hot", "blue", "red", "small", "dim", "green",
                "plated"], object)
NOUN = np.array(["ring", "bolt", "washer", "spring", "gear", "pin", "rod",
                 "cap"], object)


def gen_customer(rng: np.random.Generator) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": pa.array(
            [f"Customer#{i:09d}" for i in range(N_CUSTOMER)], pa.string()
        ),
        "c_nationkey": pa.array(
            rng.integers(0, 25, N_CUSTOMER), pa.int64()
        ),
        "c_acctbal": pa.array(
            np.round(rng.random(N_CUSTOMER) * 11_000.0 - 1000.0, 2),
            pa.float64(),
        ),
        "c_mktsegment": pa.array(
            SEGMENTS[rng.integers(0, 5, N_CUSTOMER)], pa.string()
        ),
    })


def gen_supplier(rng: np.random.Generator) -> pa.Table:
    return pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": pa.array(
            [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)], pa.string()
        ),
        "s_nationkey": pa.array(
            rng.integers(0, 25, N_SUPPLIER), pa.int64()
        ),
        "s_acctbal": pa.array(
            np.round(rng.random(N_SUPPLIER) * 11_000.0 - 1000.0, 2),
            pa.float64(),
        ),
    })


def gen_part(rng: np.random.Generator) -> pa.Table:
    names = np.char.add(
        np.char.add(ADJ[rng.integers(0, len(ADJ), N_PART)].astype(str), " "),
        NOUN[rng.integers(0, len(NOUN), N_PART)].astype(str),
    )
    return pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array(
            np.array([f"Brand#{b}" for b in rng.integers(0, 25, N_PART)],
                     object),
            pa.string(),
        ),
        "p_type": pa.array(P_TYPES[rng.integers(0, 6, N_PART)], pa.string()),
        "p_size": pa.array(
            rng.integers(1, 51, N_PART).astype("int64"), pa.int64()
        ),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2),
            pa.float64(),
        ),
    })


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(SCRATCH, "sf1full")
    os.makedirs(out, exist_ok=True)
    gens = (
        ("customer", gen_customer, N_CUSTOMER),
        ("supplier", gen_supplier, N_SUPPLIER),
        ("part", gen_part, N_PART),
    )
    for idx, (name, gen, n) in enumerate(gens):
        dst = os.path.join(out, f"{name}.parquet")
        reuse = False
        if os.path.exists(dst):
            try:
                reuse = pq.read_metadata(dst).num_rows == n
            except Exception:
                reuse = False
            if not reuse:
                os.unlink(dst)
        if not reuse:
            pq.write_table(gen(np.random.default_rng([SEED, idx])), dst)
    links = {
        "orders": os.path.join(SCRATCH, "sf1tpch/orders.parquet"),
        "lineitem": os.path.join(SCRATCH, "sf1tpch/lineitem.parquet"),
        "events": os.path.join(SCRATCH, "sf1/events.parquet"),
        "documents": os.path.join(SCRATCH, "sf1/documents.parquet"),
        "embeddings": os.path.join(SCRATCH, "sf1/embeddings.parquet"),
        "region": "/root/testdata/sf0.1/region.parquet",
        "nation": "/root/testdata/sf0.1/nation.parquet",
    }
    for name, target in links.items():
        if not os.path.exists(target):
            raise SystemExit(f"missing {target}; run its generator first")
        dst = os.path.join(out, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(target, dst)
    print(f"wrote {out}: customer={N_CUSTOMER} supplier={N_SUPPLIER} "
          f"part={N_PART} (+5 symlinked 10x tables, region/nation fixed)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
