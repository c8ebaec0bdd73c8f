"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the same config block is what we would ship
on a 1000-executor cluster (AQE on, skew-join handling, broadcast threshold,
UTC session time) — only `master` and memory sizing change per deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the 100 TB design point, not the laptop:
# - AQE: runtime coalescing of shuffle partitions + skew-join splitting means
#   a static `shuffle.partitions` misconfiguration does not sink the job.
# - UTC session time zone: deterministic window bucketing and parity with
#   external engines (the DuckDB oracle stores naive/UTC timestamps).
# - Arrow enabled: every Pandas-UDF boundary is Arrow-batched.
_BASE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # Arrow chunk size for Python-boundary transfers (default 10k).
    # applyInPandasWithState re-serializes a group's FULL state value
    # into every chunk's state-info row (ApplyInPandasWithStateWriter.
    # buildStateInfoRow pickles GroupState.getOption per
    # finalizeCurrentChunk), so per-batch input volume is
    # O(rows + state_size * rows/chunk) — under hot-key skew, where one
    # shard's reorder buffers reach 10^5-10^6 entries, the 10k default
    # made that re-send term dominate (r12 skew probe: executor thread
    # pinned in DirectByteBufferOutputStream.grow feeding one group).
    # 100k cuts the multiplier 10x; at ~50 B/row it is still only ~5 MB
    # of Arrow batch per chunk, safe for every mapInPandas/pandas_udf
    # path (all kernels here are batch-size-invariant).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "100000",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    # The fixture parquet stores TIMESTAMP(NANOS) (pyarrow default), which
    # Spark cannot read as a timestamp type; read the raw int64 and convert
    # in load_table (nanos → micros via integer division).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Streaming state: RocksDB provider (the scale-ready store; the
    # reference materializes state in RocksDB too — SURVEY §2.12).
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    # Skip the metrics-only per-store row count: maintaining it costs a
    # get-before-put on EVERY state write, which is pure overhead on
    # high-write-volume state (the interval joins buffer ~750k rows/batch
    # at sf0.1 — r14 floor probe: join phase 5.2 s → 4.5 s with this off;
    # ~32% in a colder window). Only the numTotalStateRows progress metric
    # is lost; puts/gets/eviction are untouched.
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows": "false",
    "spark.ui.enabled": "false",
    # Stage progress bars would crowd the bench's JSON line out of a
    # captured stdout tail.
    "spark.ui.showConsoleProgress": "false",
}


def _default_driver_mem(
    meminfo: str = "/proc/meminfo", cgroup_root: str = "/sys/fs/cgroup"
) -> str:
    """Half of the effective memory budget, capped at 24g (the
    measured-good size for the 128 GiB probe box), floored at 2g. The
    budget is min(host MemAvailable, cgroup limit minus the cgroup's
    current usage): inside a cgroup-limited container /proc/meminfo
    reports the HOST's memory, so without the cgroup check a 24g heap
    in an 8 GiB container would be OOM-killed — and a container already
    holding most of its limit gets the remaining headroom, not half the
    nominal limit (ADVICE r10). Halving the budget leaves the other
    half for Python/Arrow worker processes outside the JVM.
    Unreadable sources (non-Linux) fall back to a conservative 4g.
    Note for benchmarking: on hosts with < ~48 GiB free the derived
    heap varies with ambient pressure — pin SPARK_GRAFT_DRIVER_MEM for
    run-to-run comparability (bench artifacts record the resolved
    value)."""
    budget_kb = None
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    budget_kb = int(line.split()[1])
                    break
    except OSError:
        pass
    for limit_path, usage_path in (
        (f"{cgroup_root}/memory.max", f"{cgroup_root}/memory.current"),
        (f"{cgroup_root}/memory/memory.limit_in_bytes",
         f"{cgroup_root}/memory/memory.usage_in_bytes"),
    ):
        try:
            with open(limit_path) as fh:
                raw = fh.read().strip()
            if raw != "max":
                limit_kb = int(raw) // 1024
                # ignore the kernel's "no limit" sentinel (~2^63)
                if limit_kb < (1 << 40):
                    # MemAvailable is the HOST's headroom; the cgroup
                    # limit is a ceiling on THIS container. What the JVM
                    # can actually claim is limit minus what the cgroup
                    # already holds (ADVICE r10: a container at 80% of
                    # its limit must not derive a half-of-limit heap).
                    headroom_kb = limit_kb
                    try:
                        with open(usage_path) as fh:
                            headroom_kb = max(
                                0, limit_kb - int(fh.read().strip()) // 1024
                            )
                    except (OSError, ValueError):
                        pass
                    budget_kb = min(budget_kb or headroom_kb, headroom_kb)
            break
        except (OSError, ValueError):
            continue
    if budget_kb is None:
        return "4g"
    avail_gb = budget_kb // (1024 * 1024)
    return f"{min(24, max(2, avail_gb // 2))}g"


def get_spark(
    app_name: str = "kafka-streams-learning-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    `master` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) when
    no cluster master is supplied — in a real deployment the launcher sets
    the master and these SQL confs apply unchanged.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_BASE_CONF)
    # local[N] puts the driver AND all N executor threads in ONE JVM, and
    # Spark's default driver heap is 1g — 32 concurrent tasks sharing 1 GiB
    # OOM'd the round-9 10x-corpus probe (and GC-taxed everything else)
    # on a 128 GiB machine. The default is derived from the host's
    # available memory (half of it, capped at 24g, floored at 2g) so a
    # smaller container doesn't fail at JVM launch; SPARK_GRAFT_DRIVER_MEM
    # is the explicit scale-up/override lever. Honored only at JVM
    # launch; a cluster deployment sizes executors in the launcher.
    conf.setdefault(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark
