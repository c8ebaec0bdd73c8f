"""One-decade scale probe for the dedup/LSH family (VERDICT r8 item 4).

Times a set of batch catalog rows at two scale factors — the driver's
sf0.1 and the shape-matched synthetic sf1 from gen_sf1_probe_data.py
(10x documents/embeddings) — in ONE process (same JVM warmth), printing
per-row seconds and the sf1/sf0.1 growth ratio. The claim under test:
the df caps, LSH bucket bounds, and cluster-local pair generation keep
runtime growth ~linear in corpus size (ratio ~10x or less for the
near-dup family; the all-pairs forms would be ~100x).

Usage: python tools/scale_probe.py [row ...]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_ROWS = [
    "x07_ngram_jaccard_dups",
    "x11_lsh_candidates",
    "x26_embedding_near_dups_lsh",
    "x33_dedup_survivors",
    "x48_containment_pairs",
]

# fixtures live in the checkout's .scratch/ (gitignored)
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)
# Override with SCALE_PROBE_DIRS="sf1=/path,sf10=/path" to probe a
# different pair of scales (e.g. the second events decade sf1 -> sf10,
# VERDICT r10 item 4). Growth ratio is always last/first.
SF_DIRS = [
    tuple(pair.split("=", 1))
    for pair in os.environ.get(
        "SCALE_PROBE_DIRS",
        f"sf0.1=/root/testdata/sf0.1,sf1={os.path.join(SCRATCH, 'sf1')}",
    ).split(",")
]


def main() -> int:
    rows = sys.argv[1:] or DEFAULT_ROWS
    from bench import time_row
    from kafka_streams_learning_spark import get_spark
    from kafka_streams_learning_spark.catalog import all_queries

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    specs = {s.name: s for s in all_queries()}

    warm_stagings = os.environ.get("SCALE_PROBE_WARM_STAGINGS") == "1"

    out: dict[str, dict[str, float]] = {}
    for sf_name, sf_dir in SF_DIRS:
        # JVM/codegen warm-up on this dir's scan path
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet")) \
            .limit(100).write.format("noop").mode("overwrite").save()
        if warm_stagings:
            # pre-pay the bench set-up (replay stagings, models, shared
            # materializations — scaffolding, not engine work) so the
            # growth ratio measures the ENGINE's scaling; the unwarmed run
            # measures set-up+engine together
            from kafka_streams_learning_spark.catalog import warm_setup

            detail = warm_setup(spark, sf_dir)
            print(f"# {sf_name} set-up warmed: {detail}", flush=True)
        timings: dict[str, float] = {}
        for name in rows:
            timings[name] = round(time_row(spark, sf_dir, specs[name]), 2)
            print(f"# {sf_name} {name} {timings[name]}s", flush=True)
        out[sf_name] = timings

    first, last = SF_DIRS[0][0], SF_DIRS[-1][0]
    ratios = {
        n: round(out[last][n] / max(out[first][n], 1e-9), 1)
        for n in rows
    }
    print(json.dumps({**out, "growth_ratio": ratios}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
