"""Generate key-skewed decades for the s03/s05 skew probe (VERDICT r12
item 4), reusing `gen_skew_events.py`'s pattern (independent seed per
decade; symlinked siblings; a DuckDB-tractable hash-gate decade).

Two fixture families under the checkout's `.scratch/`:

- `skewcust1` / `skewcust10` — the s05 catalog row's fact side: 1M/10M
  ORDERS where ONE customer (o_custkey=1) carries ~50% of all orders
  and the rest spread uniformly over the sf0.1 customer key range
  (0..14999). `customer` (and every other table) symlinks to the real
  sf0.1 fixture, so the changelog/KTable side is byte-identical to the
  gated row and only the broadcast-join fact side scales and skews.
  Hash gate: `tools/oracle_check.py .scratch/skewcust01
  s05_stream_ktable_enrich` (skewcust01 = 100k, the vanilla-session-
  tractable decade — see the ORDER_DECADES comment; growth is measured
  at skewcust1 → skewcust10 by the probe's properly-sized session).

- `skewchlog1` / `skewchlog10` — the KTable UPSERT hot-spot shape the
  r12 verdict called out: 1M/10M changelog UPDATES over 150k dimension
  keys where one key receives ~50% of all versions, so its bucket's
  read-merge-rewrite dominates every micro-batch. Measured by the sweep-9
  probe (snapshot correctness asserted against DuckDB's
  arg-max-by-version — output is one row per key, tractable at any
  decade); its results are in BENCH_NOTES "Round 13: key-skew sweep 9".

s03 needs no new data: it reads only `events`, which the existing
skew01/skew1/skew10 decades already provide.

Usage: python tools/gen_skew_s05.py [out_root=.scratch]
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
SF_DIR = "/root/testdata/sf0.1"
N_CUST = 15_000
HOT_CUST = 1
HOT_FRACTION = 0.5
N_CHLOG_KEYS = 150_000
HOT_KEY = 0

# skewcust01 (100k) exists for the hash gate: oracle_check replicates the
# external driver with a VANILLA session (default 1g driver heap), where
# the memory-sink collect of the 1M-decade join output thrashes; growth
# is measured at skewcust1 -> skewcust10 by the probe session instead.
ORDER_DECADES = (
    ("skewcust1", 1_000_000),
    ("skewcust10", 10_000_000),
    ("skewcust01", 100_000),
)
CHLOG_DECADES = (("skewchlog1", 1_000_000), ("skewchlog10", 10_000_000))


def gen_skew_orders(rng: np.random.Generator, n: int) -> pa.Table:
    base = np.datetime64("1995-01-01T00:00:00", "us")
    span_us = int(6.6 * 365.25 * 24 * 3600) * 1_000_000
    dates = base + rng.integers(0, span_us, size=n).astype("timedelta64[us]")
    dates.sort()
    cust = rng.integers(0, N_CUST, size=n).astype("int64")
    hot = rng.random(n) < HOT_FRACTION
    cust[hot] = HOT_CUST
    status = np.array(["O", "F", "P"])[rng.integers(0, 3, size=n)]
    prio = np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    )[rng.integers(0, 5, size=n)]
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype="int64")),
            "o_custkey": pa.array(cust),
            "o_orderstatus": pa.array(status),
            "o_totalprice": pa.array(
                np.round(1000.0 + rng.random(n) * 499000.0, 2)
            ),
            "o_orderdate": pa.array(dates),
            "o_orderpriority": pa.array(prio),
        }
    )


def gen_skew_changelog(rng: np.random.Generator, n: int) -> pa.Table:
    keys = rng.integers(1, N_CHLOG_KEYS, size=n).astype("int64")
    hot = rng.random(n) < HOT_FRACTION
    keys[hot] = HOT_KEY
    return pa.table(
        {
            "k": pa.array(keys),
            "payload": pa.array(rng.integers(0, 1 << 40, size=n).astype("int64")),
            # version = row position: later updates win, every key's
            # latest is deterministic regardless of replay chunking
            "v": pa.array(np.arange(n, dtype="int64")),
        }
    )


def symlink_siblings(out_dir: str) -> None:
    for f in os.listdir(SF_DIR):
        if not f.endswith(".parquet") or f == "orders.parquet":
            continue
        dst = os.path.join(out_dir, f)
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF_DIR, f), dst)


def main() -> None:
    out_root = sys.argv[1] if len(sys.argv) > 1 else SCRATCH
    for i, (name, n) in enumerate(ORDER_DECADES):
        out_dir = os.path.join(out_root, name)
        os.makedirs(out_dir, exist_ok=True)
        dst = os.path.join(out_dir, "orders.parquet")
        if not os.path.exists(dst):
            rng = np.random.default_rng([SEED, i])
            pq.write_table(gen_skew_orders(rng, n), dst)
        symlink_siblings(out_dir)
        print(f"{name}: orders={pq.read_metadata(dst).num_rows}")
    for i, (name, n) in enumerate(CHLOG_DECADES):
        out_dir = os.path.join(out_root, name)
        os.makedirs(out_dir, exist_ok=True)
        dst = os.path.join(out_dir, "changelog.parquet")
        if not os.path.exists(dst):
            rng = np.random.default_rng([SEED, 100 + i])
            pq.write_table(gen_skew_changelog(rng, n), dst)
        print(f"{name}: changelog={pq.read_metadata(dst).num_rows}")


if __name__ == "__main__":
    main()
