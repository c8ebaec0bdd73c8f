"""Generate a 10x orders/lineitem decade for the interval-join probe.

The sf1/sf10 probe dirs symlink orders/lineitem to sf0.1, so the first
attempt to probe s04/s23 there was vacuous (both "scales" read identical
join inputs — BENCH_NOTES r11). This writes shape-matched 10x tables
into .scratch/sf1tpch/:

  orders: 1.5M rows (10x), o_orderdate uniform over the fixture's
    1995-01-01..2001-08-01 range, keys 0..N-1.
  lineitem: 6M rows (10x, 4 lines/order on average via uniform random
    order keys), l_shipdate uniform over 1995-01-02..2001-11-04 —
    deliberately UNCORRELATED with the order date, matching the
    fixture's measured shape (join Δ spans ±2400 days; the 90-day
    interval window keeps ~3.7% of key-matched pairs), so the probe's
    join-state and output volumes scale like the fixture's would.

Full fixture column set on both tables (plausible filler for columns
the s-rows don't read). Deterministic (seeded PCG). Every other table
symlinks to the real sf0.1 fixture. Staleness-guarded like the other
generators (parquet-footer row count).

Usage: python tools/gen_sf1_tpch_streams.py [out_dir]
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
N_ORDERS = 1_500_000
N_ITEMS = 6_000_000
SEED = 20260816

_O_LO = np.datetime64("1995-01-01T00:00:00", "us")
_O_HI = np.datetime64("2001-08-01T00:00:00", "us")
_L_LO = np.datetime64("1995-01-02T00:00:00", "us")
_L_HI = np.datetime64("2001-11-04T00:00:00", "us")


def _uniform_ts(rng, lo, hi, n):
    span = int((hi - lo) / np.timedelta64(1, "us"))
    return lo + rng.integers(0, span, n).astype("timedelta64[us]")


def gen_orders(rng: np.random.Generator) -> pa.Table:
    status = np.array(["F", "O", "P"], object)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"], object)
    return pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(
            rng.integers(0, 150_000, N_ORDERS), pa.int64()
        ),
        "o_orderstatus": pa.array(
            status[rng.integers(0, 3, N_ORDERS)], pa.string()
        ),
        "o_totalprice": pa.array(
            np.round(rng.random(N_ORDERS) * 500_000.0, 2), pa.float64()
        ),
        "o_orderdate": pa.array(_uniform_ts(rng, _O_LO, _O_HI, N_ORDERS)),
        "o_orderpriority": pa.array(
            prio[rng.integers(0, 5, N_ORDERS)], pa.string()
        ),
    })


def gen_lineitem(rng: np.random.Generator) -> pa.Table:
    rf = np.array(["A", "N", "R"], object)
    ls = np.array(["F", "O"], object)
    return pa.table({
        "l_orderkey": pa.array(
            rng.integers(0, N_ORDERS, N_ITEMS), pa.int64()
        ),
        "l_partkey": pa.array(rng.integers(0, 200_000, N_ITEMS), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 10_000, N_ITEMS), pa.int64()),
        "l_linenumber": pa.array(
            rng.integers(1, 8, N_ITEMS).astype("int32"), pa.int32()
        ),
        "l_quantity": pa.array(
            np.round(rng.random(N_ITEMS) * 50.0, 2), pa.float64()
        ),
        "l_extendedprice": pa.array(
            np.round(rng.random(N_ITEMS) * 100_000.0, 2), pa.float64()
        ),
        "l_discount": pa.array(
            np.round(rng.random(N_ITEMS) * 0.1, 2), pa.float64()
        ),
        "l_tax": pa.array(
            np.round(rng.random(N_ITEMS) * 0.08, 2), pa.float64()
        ),
        "l_returnflag": pa.array(rf[rng.integers(0, 3, N_ITEMS)], pa.string()),
        "l_linestatus": pa.array(ls[rng.integers(0, 2, N_ITEMS)], pa.string()),
        "l_shipdate": pa.array(_uniform_ts(rng, _L_LO, _L_HI, N_ITEMS)),
    })


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(SCRATCH, "sf1tpch")
    os.makedirs(out, exist_ok=True)
    # one INDEPENDENT generator per table (seed sequence [SEED, idx]):
    # reuse is decided per table, so threading a single rng sequentially
    # through both generators would make a partial regen (orders reused,
    # lineitem rebuilt) consume the stream from position 0 and diverge
    # from a full fresh generation — per-table seeding keeps any subset
    # regeneration byte-identical to the canonical data (ADVICE r11)
    for idx, (name, gen, n) in enumerate((
        ("orders", gen_orders, N_ORDERS),
        ("lineitem", gen_lineitem, N_ITEMS),
    )):
        rng = np.random.default_rng([SEED, idx])
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
            pq.write_table(gen(rng), dst)
    for t in ("region", "nation", "customer", "supplier", "part",
              "events", "documents", "embeddings"):
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(f"/root/testdata/sf0.1/{t}.parquet", dst)
    print(f"wrote {out}: orders={N_ORDERS} lineitem={N_ITEMS}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
