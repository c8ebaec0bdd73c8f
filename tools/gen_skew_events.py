"""Generate adversarially key-skewed events decades for the sharded
reorder-buffer probe (VERDICT r11 item 5).

The r11 shard re-keying made the custom stateful streaming operators
(s06/s12/s20) O(shards x batches) in invocations with vectorized
per-shard logic — measured linear on UNIFORM keys (BENCH_NOTES sweep 6).
This generator produces the adversarial complement: one user carries
~50% of all events (the other half spreads uniformly over `n_users-1`
users), so one shard's composite-key segments hold a single dominant
user — the shape that stresses the segmented-searchsorted release math
and (with `_max_composite` lowered) the exact user-split fallback.

Three decades, shape-matched to the fixture events table otherwise
(same schema, 30-day window, 5 event types, value in [0, 560]):

  skew01: 100k events / 150k users (hot user ~50k rows — the DuckDB
          hash-gate scale; see the note at DECADES)
  skew1:  1M events / 150k users  (hot user ~500k rows)
  skew10: 10M events / 150k users (hot user ~5M rows)

Each decade seeds an independent generator (seed sequence
[SEED, decade_index]) so either dir can be regenerated alone and still
match the canonical data (the gen_sf1_tpch_streams lesson, ADVICE r11).
Every other table symlinks to the real sf0.1 fixture; the probed s-rows
read only `events`, which is a REAL per-dir file — run
`tools/skew_probe.py` afterwards, which asserts the probed dirs' events
row counts actually differ (the symlinked-probe-dir trap, BENCH_NOTES
r11).

Usage: python tools/gen_skew_events.py [out_root=.scratch]
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
SEED = 20260816 + 100
N_USERS = 150_000
HOT_USER = 0
HOT_FRACTION = 0.5
# skew01 (100k rows) exists for the DuckDB hash gate: the batch oracles
# for the sliding/as-of rows are self-joins, which under a 50%-hot key
# are quadratic in the hot user's volume on the ORACLE side — tractable
# at 100k (~50k-row hot user), hopeless at 1M+. Correctness is gated at
# skew01; the growth class is measured at skew1 -> skew10 by the probe.
DECADES = (("skew1", 1_000_000), ("skew10", 10_000_000), ("skew01", 100_000))


def gen_skew_events(rng: np.random.Generator, n_events: int) -> pa.Table:
    base = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = base + rng.integers(0, span_us, size=n_events).astype("timedelta64[us]")
    ts.sort()
    users = rng.integers(1, N_USERS, size=n_events).astype("int64")
    hot = rng.random(n_events) < HOT_FRACTION
    users[hot] = HOT_USER
    types = rng.choice(
        ["signup", "click", "error", "view", "purchase"], size=n_events
    )
    return pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(users),
        "event_type": pa.array([str(x) for x in types], pa.string()),
        "value": pa.array(
            np.round(rng.random(n_events) * 560.0, 2), pa.float64()
        ),
        "props": pa.array(
            [f'{{"k":{int(i % 7)}}}' for i in range(n_events)], pa.string()
        ),
    })


def main() -> int:
    root = sys.argv[1] if len(sys.argv) > 1 else SCRATCH
    for idx, (name, n_events) in enumerate(DECADES):
        out = os.path.join(root, name)
        os.makedirs(out, exist_ok=True)
        dst = os.path.join(out, "events.parquet")
        reuse = False
        if os.path.exists(dst):
            try:
                reuse = pq.read_metadata(dst).num_rows == n_events
            except Exception:
                reuse = False
            if not reuse:
                os.unlink(dst)
        if not reuse:
            rng = np.random.default_rng([SEED, idx])
            pq.write_table(gen_skew_events(rng, n_events), dst)
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"):
            link = os.path.join(out, f"{t}.parquet")
            if not os.path.exists(link):
                os.symlink(f"/root/testdata/sf0.1/{t}.parquet", link)
        print(f"wrote {out}: events={n_events} hot_user_share~{HOT_FRACTION}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
