"""Trigger-count / state-store sensitivity probe for the interval joins
(VERDICT r11 item 2).

s04/s23 are the two most expensive streaming rows at ~8.9 s paired each
(BENCH_PAIRED.json) and ~flat in SF — the hypothesis is that the cost is
per-micro-batch machinery (trigger scheduling, state-store commit
round-trips), not data. This probe measures that directly by running the
SAME interval joins as `catalog_streaming._s04/_s23` under controlled
variants:

  fpt=1      baseline: one staged chunk per micro-batch (catalog today)
  fpt=N      chunk-coalescing: all staged chunks in ONE data micro-batch
             (safe for the interval joins — order-insensitive; the flush
             sentinels still ride the final batch and the trailing
             no-data batch still fires the outer NULL emissions)
  rocksdb    RocksDB state store provider instead of the default
             HDFS-backed in-memory-map provider
  shards=K   state-store partition count sweep, pinned through
             `ksl.state.partitions` (the one sizing the run never caps at
             the host's cores), with the count each run actually used —
             read back from its checkpoint's offsets/0 — in the result

Each variant runs R repetitions; every run's result is reduced to
(row_count, order-insensitive value hash) and compared against the
baseline variant's — a variant that changes the answer is a bug, not a
speedup. Output: one JSON line per variant with median seconds.

Usage: python tools/interval_probe.py [sf_dir] [reps]
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def result_hash(df) -> tuple[int, str]:
    rows = df.collect()
    cols = sorted(df.columns)
    order = [df.columns.index(c) for c in cols]
    canon = sorted(
        "\x1f".join(repr(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5()
    for r in canon:
        h.update(r.encode())
        h.update(b"\x1e")
    return len(rows), h.hexdigest()


def run_pinned(spark, df, name: str, shards: int) -> int:
    """Run `df` into the memory table `name` with `shards` state
    partitions pinned for this run only; returns the count Spark
    recorded in the checkpoint."""
    from kafka_streams_learning_spark.streaming import runner

    ckpt = runner._checkpoint()
    spark.conf.set("ksl.state.partitions", str(shards))
    try:
        runner.run_to_memory(df, name, "append", checkpoint=ckpt)
    finally:
        spark.conf.unset("ksl.state.partitions")
    with open(os.path.join(ckpt, "offsets", "0")) as fh:
        meta = json.loads(fh.read().splitlines()[1])
    return int(meta["conf"]["spark.sql.shuffle.partitions"])


def run_s04(spark, sf, fpt: int, shards: int):
    from kafka_streams_learning_spark.catalog_streaming import REPLAY_CHUNKS
    from kafka_streams_learning_spark.sources.replay import shared_replay_table
    from kafka_streams_learning_spark.streaming import windows

    orders = shared_replay_table(
        spark, sf, "orders", REPLAY_CHUNKS, order_by="o_orderdate",
        columns=("o_orderkey", "o_custkey", "o_orderdate"),
        files_per_trigger=fpt,
    ).select(
        "o_orderkey", "o_custkey",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
    )
    items = shared_replay_table(
        spark, sf, "lineitem", REPLAY_CHUNKS, order_by="l_shipdate",
        columns=("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"),
        files_per_trigger=fpt,
    ).select(
        "l_orderkey", "l_linenumber", "l_extendedprice",
        F.col("l_shipdate").cast("timestamp").alias("l_shipdate"),
    )
    j = windows.streaming_interval_join(
        orders, items,
        "o_orderkey", "l_orderkey", "o_orderdate", "l_shipdate",
        bound="90 days", lower="0 days", upper="90 days",
    ).select(
        "o_orderkey", "o_custkey", "l_linenumber", "l_extendedprice", "l_shipdate"
    )
    name = f"probe_s04_{int(time.time() * 1000)}"
    used = run_pinned(spark, j, name, shards)
    return spark.table(name), used


def run_s23(spark, sf, fpt: int, shards: int):
    from kafka_streams_learning_spark.catalog_streaming import _s23_staging
    from kafka_streams_learning_spark.sources.replay import replay_stream
    from kafka_streams_learning_spark.streaming import windows

    o_stage, l_stage, o_schema, l_schema = _s23_staging(spark, sf)
    j = windows.streaming_interval_join(
        replay_stream(spark, o_stage, o_schema, files_per_trigger=fpt),
        replay_stream(spark, l_stage, l_schema, files_per_trigger=fpt),
        "o_orderkey", "l_orderkey", "o_orderdate", "l_shipdate",
        bound="90 days", lower="0 days", upper="90 days", how="left_outer",
    ).select(
        "o_orderkey", "o_custkey", "l_linenumber", "l_extendedprice", "l_shipdate"
    )
    name = f"probe_s23_{int(time.time() * 1000)}"
    used = run_pinned(spark, j, name, shards)
    return spark.table(name).filter(F.col("o_orderkey") >= 0), used


ROCKS = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
HDFS = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from kafka_streams_learning_spark.catalog_streaming import (
        REPLAY_CHUNKS,
        STATE_SHARDS,
        _s23_staging,
    )
    from kafka_streams_learning_spark.session import get_spark
    from kafka_streams_learning_spark.sources.replay import shared_replay_table

    spark = get_spark("interval-probe")
    spark.sparkContext.setLogLevel("ERROR")

    # pre-pay staging exactly like bench.py's setup step
    shared_replay_table(
        spark, sf, "orders", REPLAY_CHUNKS, order_by="o_orderdate",
        columns=("o_orderkey", "o_custkey", "o_orderdate"),
    )
    shared_replay_table(
        spark, sf, "lineitem", REPLAY_CHUNKS, order_by="l_shipdate",
        columns=("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"),
    )
    _s23_staging(spark, sf)

    # the engine session default is RocksDB + changelog checkpointing
    # (session.py _BASE_CONF) — that IS the baseline; HDFS-backed is the
    # in-JVM-map alternative (faster for small state, not scale-ready)
    variants = [
        # (label, fpt, shards, provider)
        ("baseline_fpt1_rocks", 1, STATE_SHARDS, ROCKS),
        ("coalesced_rocks", REPLAY_CHUNKS + 1, STATE_SHARDS, ROCKS),
        ("coalesced_shards32", REPLAY_CHUNKS + 1, 32, ROCKS),
        ("fpt1_hdfs", 1, STATE_SHARDS, HDFS),
        ("coalesced_hdfs", REPLAY_CHUNKS + 1, STATE_SHARDS, HDFS),
    ]

    baseline_sig: dict[str, tuple[int, str]] = {}
    report = []
    for label, fpt, shards, provider in variants:
        spark.conf.set(PROVIDER_KEY, provider)
        row = {"variant": label, "fpt": fpt, "shards": shards,
               "provider": provider.rsplit(".", 1)[-1]}
        for qname, fn in (("s04", run_s04), ("s23", run_s23)):
            times, sigs, used = [], [], set()
            for _ in range(reps):
                t0 = time.time()
                out, shards_used = fn(spark, sf, fpt, shards)
                sig = result_hash(out)
                times.append(round(time.time() - t0, 3))
                sigs.append(sig)
                used.add(shards_used)
            row[qname + "_shards_used"] = sorted(used)
            if len(set(sigs)) != 1:
                row[qname + "_parity"] = "NONDETERMINISTIC " + repr(sigs)
            elif qname not in baseline_sig:
                baseline_sig[qname] = sigs[0]
                row[qname + "_parity"] = "baseline rows=%d" % sigs[0][0]
            elif sigs[0] != baseline_sig[qname]:
                row[qname + "_parity"] = "MISMATCH %r vs %r" % (
                    sigs[0], baseline_sig[qname])
            else:
                row[qname + "_parity"] = "ok"
            row[qname + "_times"] = times
            row[qname + "_median"] = round(statistics.median(times), 3)
        report.append(row)
        print(json.dumps(row), flush=True)

    spark.conf.set(PROVIDER_KEY, HDFS)
    print(json.dumps({"summary": [
        {"variant": r["variant"],
         "s04": r["s04_median"], "s23": r["s23_median"],
         "total": round(r["s04_median"] + r["s23_median"], 3)}
        for r in report]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
