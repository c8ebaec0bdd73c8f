"""Streaming query runners/sinks (SURVEY §2.2 K1–K3, §2.11 IQ).

- run_to_memory — the test/interactive sink: drives a query to completion
  over staged replay input (`processAllAvailable`) and exposes the result
  as a queryable table. This is also how IQ1-style interactive lookups
  work: the windowed aggregate streams into a queryable sink table and
  point/range queries run against it (`OrderCountTumblingWindow.java:130-145`).
- run_collect_batches — foreachBatch capture of each micro-batch's rows:
  the observable emission sequence (KTable changelog semantics,
  `StreamsOrderCount.java:130-134`).
- to_console — the reference's ubiquitous `.foreach(print)` sink.

This module owns a stateful run's state partition count (the
`spark.sql.shuffle.partitions` a stateful query starts with, which
Spark fixes at its first checkpoint): every run is sized at
`STATE_SHARDS`, or at the caller's volume-derived count, capped at
the cores that run it. `ksl.state.partitions` is the only override; a
session's `spark.sql.shuffle.partitions` does not size streaming
state.
"""

from __future__ import annotations

import math
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

# State-store partitions for a run that does not size its own state, and
# the floor of `derive_state_shards`. The count is sized to STATE VOLUME
# (see TARGET_STATE_BYTES_PER_SHARD): the catalog's fixture state at
# sf<=0.1 is tens of MB, where 8 shards measured 1.7x faster than 32 on
# the interval join with identical results, and fewer choke on write
# volume.
STATE_SHARDS = 8

# Shard-count derivation target (VERDICT r14 item 4): shard count is a
# state-SIZE decision — every shard is a live RocksDB instance paying an
# open+commit per micro-batch, so over-sharding small state buys pure
# fixed cost while under-sharding big state serializes its write volume.
# The documented sweet spot is ~10-100 MB of state per shard;
# TARGET_STATE_BYTES_PER_SHARD sits inside that window at the value the
# r15 big-state probe measured (sf1 interval join, ~1.2 GB real state:
# 8 shards 48-53 s, 16 → 26.6-27.9, 32 → 18.9-22.8 — still improving at
# ~70 MB/shard, so the target sits at 40 MB, deriving ~31 shards there;
# full table in OPTIMIZATION_r15.md "STATE_SHARDS derivation").
# Deployments can still pin `ksl.state.partitions`, which beats every
# derivation.
TARGET_STATE_BYTES_PER_SHARD = 40 << 20


def derive_state_shards(state_bytes: int | None) -> int:
    """Shard count for an expected state volume: ceil(bytes / target),
    floored at `STATE_SHARDS` (the measured flat-bottom for the catalog's
    tens-of-MB fixture state — fewer shards choke on write volume, more
    pay per-instance constants). `None`/non-positive estimates (unknown
    state) keep the floor, so a caller that cannot size its state gets
    exactly the historical behavior."""
    if not state_bytes or state_bytes <= 0:
        return STATE_SHARDS
    return max(
        STATE_SHARDS, math.ceil(state_bytes / TARGET_STATE_BYTES_PER_SHARD)
    )


def _checkpoint() -> str:
    from kafka_streams_learning_spark.sources.replay import run_staging_dir

    return run_staging_dir("ckpt")


def _state_partitions(
    spark: SparkSession, state_partitions: int = STATE_SHARDS
) -> str:
    """The `spark.sql.shuffle.partitions` a stateful run starts with: the
    `ksl.state.partitions` pin if one is set (never capped — a 100 TB
    deployment that needs more shards than cores sets it), otherwise
    min(`state_partitions`, defaultParallelism). The setting fixes the
    state-store partition count at first checkpoint, and AQE does NOT
    coalesce stateful streaming shuffles, so a session's
    `spark.sql.shuffle.partitions` (200 in a vanilla session: 200 state
    stores per operator) does not size streaming state.

    `state_partitions` is `STATE_SHARDS`, or the CALLER's volume-derived
    count (`derive_state_shards`). The cap only lowers a count, never
    raises one: each partition is one task per trigger, so partitions
    beyond the cores that run them add a second wave of tasks to every
    micro-batch (8 on 4 cores: keyed perfbench wall −20%, BENCH_NOTES
    "State partitions capped at cores")."""
    pinned = spark.conf.get("ksl.state.partitions", None)
    if pinned is not None:
        return pinned
    return str(min(state_partitions, spark.sparkContext.defaultParallelism))


# Spark's default checkpoint manager (FileContext-based) renames through
# `AbstractFileSystem.renameInternal`, which on a local filesystem
# without libhadoop forks a `readlink` process for each link-status
# lookup — 16 per RocksDB store commit. The FileSystem-based manager
# does the same POSIX rename (and check-then-rename) on a local FS
# without those forks; Spark's checksum wrapper and Hadoop's `.crc`
# sidecars still apply. Elsewhere (HDFS, object stores) the two
# managers' overwrite semantics differ, so only local checkpoints switch.
_CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _is_local_path(spark: SparkSession, path: str) -> bool:
    """True iff Hadoop resolves `path` to the local filesystem: a
    `file:` URI, or a path without a scheme under a local (the default)
    `fs.defaultFS`."""
    scheme = urlparse(path).scheme
    if not scheme:
        default_fs = (
            spark._jsparkSession.sessionState().newHadoopConf()
            .get("fs.defaultFS", "file:///")
        )
        scheme = urlparse(default_fs).scheme
    return scheme == "file"


def _run_to_completion(
    spark: SparkSession,
    writer: DataStreamWriter,
    checkpoint: str,
    overrides: dict[str, str | None],
) -> None:
    """Start `writer`'s query on `checkpoint`, process all available
    input and stop it, with the non-None `overrides` applied to the
    session for this run only: every overridden key is restored
    afterwards — unset if the session had not set it — exceptions
    included, so no run leaks conf into the queries that follow (ADVICE
    r15). A stateful query's shuffle partition count needs no
    session-wide pin: Spark records it in the checkpoint's offset
    metadata and reuses it on restart.

    This is the one place a run's checkpoint location is attached. A
    local checkpoint also gets the FileSystem-based checkpoint manager
    for this run (see `_LOCAL_CHECKPOINT_MANAGER`); any other URI keeps
    the session's manager."""
    overrides = {k: v for k, v in overrides.items() if v is not None}
    if _is_local_path(spark, checkpoint):
        overrides[_CHECKPOINT_MANAGER_KEY] = _LOCAL_CHECKPOINT_MANAGER
    prior = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        q = writer.option("checkpointLocation", checkpoint).start()
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _plan_uses_keyed_state(df: DataFrame) -> bool:
    """True iff the analyzed plan contains a shard-keyed custom-state
    operator (`applyInPandasWithState` grouped on the `_shard` column).
    Per-key keyed state (fraud alerts) has no shard-count restart
    invariant, so it is deliberately NOT matched — the warning would be
    noise there."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # plan introspection is best-effort diagnostics
        return False
    return "WithState" in plan and "_shard" in plan


def run_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "update",
    checkpoint: str | None = None,
    state_partitions: int = STATE_SHARDS,
    arrow_batch_rows: int | None = None,
) -> None:
    """Run a streaming DataFrame to completion into an in-memory table
    named `name`; query it afterwards with spark.sql/spark.table.

    The shard-keyed stateful operators tag their output with their
    `n_shards`; the tag is pinned next to the checkpoint via
    `stateful.pin_shard_count`, so a restart with a different shard
    count fails fast instead of silently orphaning state. A plan that
    uses shard-keyed state but carries no tag (any transformation after
    the operator drops it) gets a logged warning — the caller then pins
    the checkpoint with `stateful.pin_shard_count` (ADVICE r12).

    The run's state partition count is `state_partitions`
    (`STATE_SHARDS`, or the caller's volume-derived count) capped at
    defaultParallelism; a `ksl.state.partitions` pin is the only
    override, and the session's `spark.sql.shuffle.partitions` does not
    size it (`_state_partitions`). It and `arrow_batch_rows` hold for
    this run only; the session's prior values are restored afterwards.
    `_run_to_completion` attaches the checkpoint (`checkpoint`, or a
    fresh directory removed at interpreter exit); a local one commits
    through the FileSystem-based checkpoint manager, without the
    `readlink` forks of Spark's default.

    `arrow_batch_rows`: per-query override of
    `spark.sql.execution.arrow.maxRecordsPerBatch`. applyInPandasWithState
    re-serializes a group's FULL state into every input chunk's
    state-info row, so a query whose keyed state is large (reorder
    buffers under a hot key) must keep chunks-per-group LOW: per-batch
    input bytes ≈ data + state_size * ceil(group_rows / this value), and
    Spark's single-buffer input writer degrades catastrophically past
    ~1 GiB (DirectByteBufferOutputStream's doubling overflows Int there
    and falls back to copy-per-write). Narrow rows (a few int64s)
    tolerate large values cheaply."""
    spark = df.sparkSession
    ckpt = checkpoint or _checkpoint()
    shard_count = getattr(df, "_ksl_shard_count", None)
    if shard_count is not None:
        from kafka_streams_learning_spark.streaming.stateful import (
            pin_shard_count,
        )

        pin_shard_count(ckpt, shard_count)
    elif _plan_uses_keyed_state(df):
        import logging

        logging.getLogger(__name__).warning(
            "streaming plan uses keyed state but carries no shard-count "
            "tag; if a shard-keyed operator is in this plan, a restart of "
            "checkpoint %s with a different n_shards will silently orphan "
            "state — pin it with stateful.pin_shard_count(checkpoint, "
            "n_shards)",
            ckpt,
        )
    _run_to_completion(
        spark,
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name),
        ckpt,
        {
            "spark.sql.shuffle.partitions": _state_partitions(
                spark, state_partitions
            ),
            "spark.sql.execution.arrow.maxRecordsPerBatch": (
                None if arrow_batch_rows is None else str(arrow_batch_rows)
            ),
        },
    )


def run_collect_batches(
    df: DataFrame,
    output_mode: str = "update",
    checkpoint: str | None = None,
) -> list[list]:
    """Run to completion, capturing each micro-batch's emitted rows in
    order — the update-mode emission sequence as observable behavior.
    Sized like `run_to_memory` with no count: `STATE_SHARDS` capped at
    defaultParallelism unless `ksl.state.partitions` pins it; the
    session's `spark.sql.shuffle.partitions` does not size the run."""
    batches: list[list] = []

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        batches.append(batch_df.collect())

    spark = df.sparkSession
    _run_to_completion(
        spark,
        df.writeStream.outputMode(output_mode).foreachBatch(_sink),
        checkpoint or _checkpoint(),
        {"spark.sql.shuffle.partitions": _state_partitions(spark)},
    )
    return batches


def to_console(df: DataFrame, output_mode: str = "update", label: str | None = None):
    """Console sink (`.print(Printed.toSysOut().withLabel(...))`,
    `OrderCountTumblingWindow.java:81-82`). Returns the running query."""
    w = df.writeStream.outputMode(output_mode).format("console")
    if label:
        w = w.queryName(label)
    return w.option("checkpointLocation", _checkpoint()).start()
