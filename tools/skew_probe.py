"""Adversarial key-skew probe for the shard-keyed stateful operators
(VERDICT r11 item 5).

Three checks over the skewed decades from `gen_skew_events.py` (one
user carrying ~50% of all events):

1. **Trap check** — the probed dirs' `events.parquet` row counts must
   differ (the symlinked-probe-dir trap that voided the first r11
   interval-join probe, BENCH_NOTES).
2. **Linearity under skew** — times catalog rows s06/s12/s20 at skew1
   (1M events) and skew10 (10M events) in one process and prints the
   growth ratio; the shard re-keying's claim is that a hot key changes
   the constant, not the growth class, because the per-shard release
   math is one vectorized pass regardless of how rows distribute over
   users inside the shard.
3. **Forced split-path parity, end-to-end** — runs the reorder-buffered
   (`disorder=`) sliding count and as-of join over a replayed skew
   sample twice: default
   `_max_composite` (no split) vs one small enough that every
   multi-user shard batch recurses into the exact user-split fallback.
   Emitted rows must be identical. This drives the split path through
   the REAL streaming engine (state round-trips, watermark releases),
   complementing the pure-numpy parity property tests in
   tests/test_release_math.py.

Hash CORRECTNESS of s06/s12/s20 on the skewed data is checked by the
oracle replica, run separately (its own vanilla session):

    python tools/oracle_check.py .scratch/skew1 \
        s06_stream_sliding_count s09_stream_asof_enrich \
        s12_stream_asof_unordered s20_stream_sliding_unordered

Usage: python tools/skew_probe.py
Prints one JSON line per check.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402

# fixtures live in the checkout's .scratch/ (gitignored)
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)
SKEW1 = os.path.join(SCRATCH, "skew1")
SKEW10 = os.path.join(SCRATCH, "skew10")
PROBE_ROWS = [
    "s06_stream_sliding_count",
    "s12_stream_asof_unordered",
    "s20_stream_sliding_unordered",
]
# forced-split threshold for check 3: span per shard batch is bounded by
# the 30-day window + 24 h lookback (+2) ≈ 2.69e12 µs; 8x that makes
# every multi-user batch split (leaves of ≤7 users) while single-user
# leaves can never overflow (2*span < 8*span).
SPLIT_MC = 8 * (31 * 24 * 3600 * 1_000_000 + 24 * 3600 * 1_000_000)


def check_trap() -> dict:
    counts = {
        d: pq.read_metadata(os.path.join(d, "events.parquet")).num_rows
        for d in (SKEW1, SKEW10)
    }
    if counts[SKEW1] == counts[SKEW10]:
        raise SystemExit(
            f"probe dirs do not scale: both events tables have "
            f"{counts[SKEW1]} rows — regenerate with gen_skew_events.py"
        )
    return {"check": "trap", "events_rows": counts}


def _drop_sink_views(spark) -> None:
    """Release memory-sink result tables between measurements. The first
    r12 probe run kept every sink view alive across 6 streaming runs at
    up to 10M output rows each; the accumulated on-heap sink data drove
    the JVM to ~27 GB RES and the NEXT query's Arrow input serialization
    into a direct-buffer allocation GC-thrash livelock (one executor
    thread at 100% CPU in DirectByteBufferOutputStream.grow for 13+ min
    — the same query ran in 25 s in a fresh session). Probe hygiene:
    every measured run drops its sink before the next starts."""
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)


def time_rows(spark) -> dict:
    from kafka_streams_learning_spark.catalog import all_queries

    specs = {s.name: s for s in all_queries()}
    out: dict[str, dict[str, float]] = {}
    for sf_name, sf_dir in (("skew1", SKEW1), ("skew10", SKEW10)):
        spark.read.parquet(os.path.join(sf_dir, "events.parquet")) \
            .limit(100).write.format("noop").mode("overwrite").save()
        row_times: dict[str, float] = {}
        for name in PROBE_ROWS:
            t0 = time.time()
            df = specs[name].spark(spark, sf_dir)
            n = df.count()
            row_times[name] = round(time.time() - t0, 3)
            row_times[name + "_rows"] = n
            spark.catalog.clearCache()
            _drop_sink_views(spark)
        out[sf_name] = row_times
    ratios = {
        name: round(out["skew10"][name] / max(out["skew1"][name], 1e-9), 2)
        for name in PROBE_ROWS
    }
    return {"check": "linearity", "times": out, "growth_10x": ratios}


def check_split_parity(spark) -> dict:
    """Run the reorder-buffered sliding count + as-of join over a
    replayed skew1 SAMPLE with the split forced vs not; emitted rows
    must match exactly."""
    from pyspark.sql import functions as F

    from kafka_streams_learning_spark.sources.batch import load_table
    from kafka_streams_learning_spark.sources.replay import (
        replay_stream,
        run_staging_dir,
        stage_replay_chunks,
    )
    from kafka_streams_learning_spark.streaming import runner, stateful

    sample_rows = 200_000
    # load_table expects one parquet FILE per table — slice with pyarrow
    sample_dir = run_staging_dir("skewsample")
    src = pq.read_table(os.path.join(SKEW1, "events.parquet"))
    pq.write_table(
        src.slice(0, sample_rows),
        os.path.join(sample_dir, "events.parquet"),
    )
    # both variants replay the same staged chunks
    sample = load_table(spark, sample_dir, "events")
    staged = run_staging_dir("skewstage")
    stage_replay_chunks(sample, staged, 4, "ts")

    results = {}
    for op_name, build in (
        (
            "sliding_disorder",
            lambda df, mc: stateful.sliding_count_stream(
                df.select("user_id", "event_id", "ts"),
                24 * 3600 * 1_000_000, disorder="13 hours",
                _max_composite=mc,
            ),
        ),
        (
            "asof_disorder",
            lambda df, mc: stateful.asof_join_stream(
                df.select("event_id", "user_id", "ts", "event_type"),
                disorder="13 hours", _max_composite=mc,
            ),
        ),
    ):
        outs = []
        for mc in (2**62, SPLIT_MC):
            stream = replay_stream(spark, staged, sample.schema)
            out = build(stream, mc)
            name = f"skewprobe_{op_name}_{'split' if mc != 2**62 else 'full'}"
            runner.run_to_memory(out, name, "append", state_partitions=8)
            rows = sorted(map(tuple, spark.table(name).collect()))
            _drop_sink_views(spark)
            outs.append(rows)
        match = outs[0] == outs[1]
        results[op_name] = {
            "rows": len(outs[0]),
            "split_matches_full": match,
        }
        if not match:
            diff = [a for a, b in zip(outs[0], outs[1]) if a != b][:3]
            results[op_name]["first_diffs"] = repr(diff)
    return {"check": "split_parity", "split_mc": SPLIT_MC, "ops": results}


def main() -> int:
    print(json.dumps(check_trap()), flush=True)

    from kafka_streams_learning_spark import get_spark

    spark = get_spark("skew-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # linearity first: its timings deserve the freshest session
    print(json.dumps(time_rows(spark)), flush=True)
    print(json.dumps(check_split_parity(spark)), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
