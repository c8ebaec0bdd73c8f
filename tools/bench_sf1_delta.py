"""Changed-rows-only sf1 regression check (VERDICT r12 item 5).

BENCH_SF1.json is a single full-catalog run at sf1 — re-running all 109
rows (~27 min) per change is not a sane cadence, so the committed
policy (BENCH_NOTES r13) is: re-run at sf1 ONLY the rows whose code
paths changed, compare against the BENCH_SF1.json reference, and append
the deltas to BENCH_SF1_DELTA.json (a growing, code-fingerprinted
record a future mover-check can consume). A full BENCH_SF1 refresh is
warranted only when >20 rows change or the harness itself does.

Single-pass sf1 rows carry the same host jitter the paired protocol
exists for at sf0.1 — so a ratio is only flagged (`suspect`) past a
generous 1.5× band, and a flag means "re-run and investigate", not
"regression confirmed".

Rows are timed with `bench.time_row`, as BENCH_SF1.json's were. Records
before the `"timing": "noop"` field timed `.count()`, which prunes pure
projections, so their ratios against the noop-write reference are not
comparable (x50 read 0.213).

Usage: python tools/bench_sf1_delta.py <row> [row ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# fixtures live in the checkout's .scratch/ (gitignored)
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)
SF1_DIR = os.path.join(SCRATCH, "sf1full")
BAND = 1.5


def main() -> int:
    rows = sys.argv[1:]
    if not rows:
        raise SystemExit("usage: bench_sf1_delta.py <row> [row ...]")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCH_SF1.json")) as f:
        ref = json.load(f)["queries"]
    unknown = [r for r in rows if r not in ref]
    if unknown:
        raise SystemExit(f"rows missing from BENCH_SF1.json: {unknown}")

    from bench import time_row
    from kafka_streams_learning_spark import get_spark
    from kafka_streams_learning_spark.catalog import all_queries
    from kafka_streams_learning_spark.gitinfo import code_fingerprint, git_head

    spark = get_spark("sf1-delta")
    spark.sparkContext.setLogLevel("ERROR")
    specs = {s.name: s for s in all_queries()}

    deltas = {}
    for name in rows:
        # BENCH_SF1.json rows are STEADY-STATE (bench.py attributes shared
        # replay stagings / model tables to setup_detail); a row's first
        # call here pays its staging inside the timing, which false-flagged
        # s04/s23 as suspect on this tool's first run. Time the SECOND
        # call; record the first as cold_s for forensics.
        cold = time_row(spark, SF1_DIR, specs[name])
        took = time_row(spark, SF1_DIR, specs[name])
        ratio = round(took / max(ref[name], 1e-9), 3)
        deltas[name] = {
            "sf1_s": took,
            "cold_s": cold,
            "ref_s": ref[name],
            "ratio": ratio,
            "verdict": "suspect" if ratio > BAND else "ok",
        }

    path = os.path.join(here, "BENCH_SF1_DELTA.json")
    record = {"generated_unix": int(time.time()), "git_head": git_head(here),
              "code_fingerprint": code_fingerprint(here), "band": BAND,
              "timing": "noop", "deltas": deltas}
    existing = []
    if os.path.exists(path):
        with open(path) as f:
            existing = json.load(f)
    existing.append(record)
    with open(path, "w") as f:
        json.dump(existing, f, indent=1)
        f.write("\n")
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
