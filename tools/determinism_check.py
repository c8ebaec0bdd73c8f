"""Partition-count invariance sweep: the determinism audit.

The catalog's cross-engine hash gate proves Spark-vs-DuckDB agreement at
ONE parallelism; this sweep proves the stronger in-engine claim the
docstrings make everywhere — results are PARTITION-ORDER-FREE (exact
integer sums, snapped doubles, fixed-order folds) — by executing every
batch row under two different `spark.sql.shuffle.partitions` settings
(session-level conf, two sessions over one context) and comparing the
order-insensitive value hashes. A float aggregate that silently depended
on partition boundaries (the bug class the integer-cents / snap6
contracts exist to prevent) fails here even though a single-setting
oracle run could pass by luck.

Streaming rows are skipped: their state-shard invariance is covered by
the dedicated checkpoint/recovery and `state_partitions` tests.

Usage: python tools/determinism_check.py [sf_dir] [p1] [p2]
(defaults: sf0.001, 32, 5). Exits 1 on any mismatch.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from kafka_streams_learning_spark import get_spark
    from kafka_streams_learning_spark.catalog import REFERENCE_QUERIES
    from kafka_streams_learning_spark.catalog_ext import EXTENSION_QUERIES
    from tools.oracle_check import table_hash

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    p1 = sys.argv[2] if len(sys.argv) > 2 else "32"
    p2 = sys.argv[3] if len(sys.argv) > 3 else "5"

    base = get_spark("determinism-check")
    base.sparkContext.setLogLevel("ERROR")
    sessions = []
    for p in (p1, p2):
        s = base.newSession()
        s.conf.set("spark.sql.shuffle.partitions", p)
        sessions.append(s)

    # Trained models (the `model=True` shared artifacts) are CLEARED at
    # the start of each session's pass so model TRAINING executes under
    # both parallelisms, not just the first (ADVICE r8: sharing them
    # verified assignment reproducibility but never swept training
    # itself). Within a pass the cache still amortizes one training
    # across its consumer rows, exactly as a real catalog run does. The
    # materialized staging caches (LSH pair buckets etc.) stay shared —
    # session-bound persisted frames whose builders are plan-audited.
    from kafka_streams_learning_spark.catalog import clear_model_caches

    specs = REFERENCE_QUERIES + EXTENSION_QUERIES
    per_session: list[dict[str, tuple[int, str]]] = []
    for s in sessions:
        clear_model_caches()
        results: dict[str, tuple[int, str]] = {}
        for spec in specs:
            df = spec.spark(s, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            results[spec.name] = (len(rows), table_hash(df.columns, rows))
        per_session.append(results)

    bad = []
    for spec in specs:
        h1, h2 = per_session[0][spec.name], per_session[1][spec.name]
        if h1 != h2:
            bad.append(spec.name)
            print(f"MISMATCH {spec.name}: p={p1} -> {h1}, p={p2} -> {h2}")
    if not bad:
        print(f"OK: {len(specs)} batch queries hash-identical at "
              f"shuffle.partitions={p1} and {p2} ({sf_dir}; "
              f"model training re-run per parallelism)")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
