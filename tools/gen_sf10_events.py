"""Generate the SECOND events decade (100x sf0.1) for the reorder-buffer
growth probe (VERDICT r10 item 4).

s12/s20 (watermark-driven reorder buffers under real disorder) measured
3.5x at the 10x decade — sublinear but the steepest streaming class; one
decade is not enough to call the class. This writes a shape-matched
10M-event / 150k-user `events.parquet` (same generator as the sf1 decade:
30-day window, 5 event types, ~67 events/user) into
.scratch/sf10/, with symlinks for every other table pointing
at the sf1 probe dir (documents/embeddings) or sf0.1 (TPC-H tables) —
only events rows matter for the probed s-rows.

Deterministic (seeded PCG, own stream — independent of the sf1
generator's draw order). Validates an existing file by parquet-footer
row count and regenerates on mismatch (same staleness guard as
gen_sf1_probe_data, ADVICE r10).

Usage: python tools/gen_sf10_events.py [out_dir]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen_sf1_probe_data import gen_events  # noqa: E402

# fixtures live in the checkout's .scratch/ (gitignored)
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)
N_EVENTS_SF10 = 10_000_000
N_USERS_SF10 = 150_000
SEED = 20260815 + 10


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(SCRATCH, "sf10")
    sf1_dir = os.path.join(SCRATCH, "sf1")
    os.makedirs(out, exist_ok=True)
    ev_dst = os.path.join(out, "events.parquet")
    reuse = False
    if os.path.exists(ev_dst):
        try:
            reuse = pq.read_metadata(ev_dst).num_rows == N_EVENTS_SF10
        except Exception:
            reuse = False
        if not reuse:
            os.unlink(ev_dst)
    if not reuse:
        rng = np.random.default_rng(SEED)
        pq.write_table(
            gen_events(rng, N_EVENTS_SF10, N_USERS_SF10), ev_dst
        )
    for t in ("documents", "embeddings"):
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(sf1_dir, f"{t}.parquet"), dst)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(f"/root/testdata/sf0.1/{t}.parquet", dst)
    print(f"wrote {out}: events={N_EVENTS_SF10} users={N_USERS_SF10}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
