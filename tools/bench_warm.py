"""Warm-vs-cold per-query record → BENCH_WARM.json.

Times every catalog query TWICE in one process at $SPARK_GRAFT_SF_DIR
(default sf0.1): `[cold, warm]` seconds per row. Cold includes first-touch
costs (shared replay staging, materialized intermediates, checkpoint
init, trained-model caches); warm is the steady-state engine cost. The
committed record is the attribution baseline VERDICT r6 item 6 asked
for: a cross-round bench delta on a first-touch row reads against the
warm column instead of prose archaeology — especially after round 8's
LRU gate rotation, which reorders the catalog every round and therefore
moves first-touch costs between rows.

Same measurement as bench.py, `bench.time_row` per row (noop batch sink,
cache cleared and memory sinks dropped between rows), JVM warmed before
either pass. The
shared set-up (`catalog.warm_setup`) is deliberately NOT built first: the
cold pass is where its first-touch costs land.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_row
from kafka_streams_learning_spark import get_spark
from kafka_streams_learning_spark.catalog import all_queries


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("bench-warm")
    spark.sparkContext.setLogLevel("ERROR")

    from kafka_streams_learning_spark.sources.batch import load_table

    load_table(spark, sf_dir, "events").limit(1000).write.format("noop").mode(
        "overwrite"
    ).save()

    timings: dict[str, list[float]] = {}
    for label in ("cold", "warm"):
        for spec in all_queries():
            timings.setdefault(spec.name, []).append(
                time_row(spark, sf_dir, spec)
            )

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    record = {
        "metric": "cold_warm_query_seconds",
        "unit": "sec",
        "sf": sf,
        "cold_total": round(sum(v[0] for v in timings.values()), 1),
        "warm_total": round(sum(v[1] for v in timings.values()), 1),
        "queries": timings,
    }
    with open(os.path.join(here, "BENCH_WARM.json"), "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(
        json.dumps(
            {
                "cold_total": record["cold_total"],
                "warm_total": record["warm_total"],
                "sf": sf,
                "n": len(timings),
            }
        )
    )


if __name__ == "__main__":
    main()
