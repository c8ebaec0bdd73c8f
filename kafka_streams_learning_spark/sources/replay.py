"""Fixture replay streaming source (SURVEY §7.1).

Replays a bounded fixture table as a Structured Streaming source in
event-time order, split into N deterministic chunks — each chunk becomes
one micro-batch (file source + maxFilesPerTrigger=1). This reproduces the
reference's producer-driven test setup (`producers/OrderProducer.java:28-35`)
without a broker, so every streaming operator is testable hermetically.

The chunking is by event-time rank, so batch k contains strictly earlier
data than batch k+1 — the deterministic arrival order the reference's
manual tests assume, and the setup that makes watermark/late-data tests
meaningful (a late row can be planted by assigning it to a later chunk).
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_learning_spark.sources.batch import load_table

_STAGING_ROOT: str | None = None


def _run_root() -> str:
    global _STAGING_ROOT
    if _STAGING_ROOT is None:
        _STAGING_ROOT = tempfile.mkdtemp(prefix="ksl-run-")
        atexit.register(shutil.rmtree, _STAGING_ROOT, ignore_errors=True)
    return _STAGING_ROOT


def run_staging_dir(prefix: str = "stage") -> str:
    """Allocate a staging/checkpoint directory under one per-process root
    that is removed at interpreter exit, so replayed chunks and checkpoints
    never outlive the run (they used to leak one mkdtemp per query)."""
    return tempfile.mkdtemp(prefix=prefix + "-", dir=_run_root())


def run_named_dir(name: str) -> str:
    """Stable per-name directory under the run root: repeated calls with
    the same name return the same path. Callers manage the contents under
    that stable path — `materialized(tag=...)` writes `gen-NNNNN`
    subdirectories and deletes the previous generation only after the new
    write commits, so long sessions running the catalog many times stay
    disk-bounded with one live generation per tag. (A still-lazy DataFrame
    handle from an earlier call with the same tag fails loudly on its next
    action instead of silently reading newer data.)"""
    path = os.path.join(_run_root(), name)
    os.makedirs(path, exist_ok=True)
    return path


def staged_column_max(staging_dir: str, column: str):
    """Max of `column` across staged chunk files (or one fixture file),
    read from parquet footer statistics only — no Spark job, no data scan.
    This is the metadata-level answer a lakehouse table would serve from
    its stats; at 100 TB it reads O(files) footers instead of re-scanning
    the table (replaces the full-scan `agg(max).collect()` the s07 flush
    sentinel used to do). `staging_dir` may be a directory tree of chunk
    files or a single .parquet file path.

    Only numeric/temporal physical types are accepted: parquet
    BYTE_ARRAY (string/binary) stats may be TRUNCATED bounds, so their
    `max` can exceed every real row — the writer's pyarrow predates
    `is_max_value_exact`, so exactness is guaranteed by type instead.
    Nanosecond-timestamp columns surface as raw int64 stats in some
    pyarrow versions; those are normalized to (micros-truncated)
    datetimes so callers always see a comparable timestamp."""
    import datetime as _dt

    import pyarrow.parquet as pq

    if os.path.isfile(staging_dir):
        walk = [(os.path.dirname(staging_dir), (), (os.path.basename(staging_dir),))]
    else:
        walk = os.walk(staging_dir)
    best = None
    for dirpath, _dirs, files in walk:
        for fn in sorted(files):
            if not fn.endswith(".parquet"):
                continue
            pf = pq.ParquetFile(os.path.join(dirpath, fn))
            try:
                idx = pf.schema_arrow.names.index(column)
            except ValueError:
                continue
            for rg in range(pf.metadata.num_row_groups):
                stats = pf.metadata.row_group(rg).column(idx).statistics
                if stats is None or not stats.has_min_max:
                    continue
                if stats.physical_type in ("BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY"):
                    raise TypeError(
                        f"column {column!r} is {stats.physical_type}: parquet "
                        "string/binary stats may be truncated bounds, not exact "
                        "maxima — use a numeric/timestamp column"
                    )
                val = stats.max
                if isinstance(val, int):
                    # raw int64 stats for a timestamp column (ns fixtures)
                    unit = getattr(pf.schema_arrow.field(column).type, "unit", None)
                    div = {"ns": 1_000_000_000, "us": 1_000_000, "ms": 1_000}.get(unit)
                    if div is not None:
                        val = _dt.datetime(1970, 1, 1) + _dt.timedelta(
                            microseconds=val * 1_000_000 // div
                        )
                if best is None or val > best:
                    best = val
    if best is None:
        raise ValueError(f"no footer statistics for column {column!r} in {staging_dir}")
    return best


_ORDERABLE = {
    "string", "long", "integer", "short", "byte", "double", "float",
    "boolean", "date", "timestamp", "timestamp_ntz", "decimal",
}


def ranked_chunks(df: DataFrame, chunks: int, order_by: str) -> DataFrame:
    """`df` plus a `_chunk` column: event-time-ordered ntile, snapped so
    every equal-`order_by` run shares the run's minimum chunk, with rows
    sorted by (`_chunk`, ranking order) in the single partition the
    global windows leave.

    The snap window frames the current row's PEERS (rows equal on
    `order_by`): min(_chunk) over it is the run's first chunk. Its sort
    key is a prefix of the ntile window's, so Catalyst satisfies both
    Window operators with ONE global sort — a single Exchange, asserted
    by tests/test_plans.py (the earlier partitionBy(order_by) snap
    hash-shuffled the whole table a second time). The closing local sort
    is the one a write partitioned by `_chunk` needs anyway; keying it on
    the full ranking order keeps each chunk's rows in ranking order
    without relying on sort stability."""
    order = [F.col(order_by)] + [
        F.col(f.name)
        for f in df.schema.fields
        if f.name != order_by and f.dataType.typeName().split("(")[0] in _ORDERABLE
    ]
    snap = (
        Window.orderBy(F.col(order_by))
        .rangeBetween(Window.currentRow, Window.currentRow)
    )
    return (
        df.withColumn("_chunk", F.ntile(chunks).over(Window.orderBy(*order)))
        .withColumn("_chunk", F.min("_chunk").over(snap))
        .sortWithinPartitions("_chunk", *order)
    )


def stage_replay_chunks(
    df: DataFrame,
    staging_dir: str,
    chunks: int,
    order_by: str,
) -> str:
    """Materialize `df` into `chunks` single-file parquet chunks
    (`chunk=00001` ... under `staging_dir`) in event-time order. Returns
    the directory to stream from.

    The ntile ordering includes every remaining column as a tiebreaker:
    equal event times must land in a deterministic chunk, or order-
    sensitive operators (running counts, keyed-state buffers) replay
    nondeterministically versus their batch oracles.

    Chunk boundaries are then SNAPPED to event-time run boundaries: every
    row sharing an `order_by` value takes the run's minimum chunk, so an
    equal-event-time run never straddles a micro-batch boundary. ntile
    alone cuts on pure row counts, which could split a tie group across
    batches and make order-sensitive keyed-state operators (s06's
    symmetric tie counts, s09's strict as-of inequality) observe the run
    in fragments. Chunks stay near-equal-sized for high-resolution
    timestamps and may be uneven (or empty) when `order_by` is coarse —
    correctness of replay order is the contract, not balance. An empty
    chunk still gets one 0-row data file, so every chunk is one trigger.

    All chunks are written by ONE parquet write partitioned by `_chunk`
    (one Spark job; AQE runs the ranking's shuffle as a job of its own).
    The ranking is a single partition, so it writes one file per
    non-empty chunk. The file source replays files in modification-time
    order, so the data files get strictly increasing mtimes in chunk
    order, 1 s apart, the last no later than staging's return: a file
    appended afterwards (a `chunk=99999-extra` flush chunk) replays
    last."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    # `_`-prefixed: the file source skips it if a failed write leaves it
    written = os.path.join(staging_dir, "_ranked")
    # Spark's default parquet timestamp encoding is the deprecated INT96,
    # which carries NO footer min/max statistics — write INT64 micros so
    # staged chunks keep column stats (staged_column_max depends on them).
    # Scoped to the staging write: the session's prior setting (or its
    # absence) is restored, so unrelated writes keep their own encoding.
    conf = df.sparkSession.conf
    ts_key = "spark.sql.parquet.outputTimestampType"
    prior_ts = conf.get(ts_key, None)
    conf.set(ts_key, "TIMESTAMP_MICROS")
    try:
        ranked = ranked_chunks(df, chunks, order_by)
        ranked.write.partitionBy("_chunk").parquet(written)
    finally:
        if prior_ts is None:
            conf.unset(ts_key)
        else:
            conf.set(ts_key, prior_ts)
    data_files = []
    for i in range(1, chunks + 1):
        chunk_dir = os.path.join(staging_dir, f"chunk={i:05d}")
        try:
            os.rename(os.path.join(written, f"_chunk={i}"), chunk_dir)
        except FileNotFoundError:  # a chunk with no rows gets no directory
            os.makedirs(chunk_dir)
            name = f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"
            empty = to_arrow_schema(df.schema).empty_table()
            pq.write_table(empty, os.path.join(chunk_dir, name))
        data_files += sorted(glob.glob(os.path.join(chunk_dir, "part-*.parquet")))
    shutil.rmtree(written)
    # "now" as the filesystem's own clock reads it: a file written after
    # staging returns gets an mtime at or after this one
    now_ns = os.stat(staging_dir).st_mtime_ns
    for k, path in enumerate(data_files):
        mtime_ns = now_ns - (len(data_files) - 1 - k) * 1_000_000_000
        os.utime(path, ns=(mtime_ns, mtime_ns))
    return staging_dir


def stage_explicit_chunks(
    spark: SparkSession,
    rows_per_chunk: list[list],
    schema: str,
    staging_dir: str,
) -> str:
    """Test-oriented replay staging: each element of `rows_per_chunk`
    becomes one micro-batch verbatim — exact control over arrival order
    (for late/out-of-order scenarios)."""
    for i, rows in enumerate(rows_per_chunk, start=1):
        chunk_dir = os.path.join(staging_dir, f"chunk={i:05d}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(chunk_dir)
    return staging_dir


# files_per_trigger sentinel: replay every already-staged data file in one
# micro-batch, deriving the count from the staging on disk at open time.
ALL_STAGED_ONE_BATCH = -1


def staged_data_file_count(staging_dir: str) -> int:
    """Count the parquet data files under a staging directory — the unit
    `maxFilesPerTrigger` actually batches (one per chunk as staging
    writes them, more if a chunk ever splits into part files)."""
    n = 0
    for _root, _dirs, files in os.walk(staging_dir):
        n += sum(
            1
            for f in files
            if f.startswith("part-") and f.endswith(".parquet")
        )
    return n


def replay_stream(
    spark: SparkSession,
    staging_dir: str,
    schema,
    files_per_trigger: int = 1,
) -> DataFrame:
    """Open a staged replay directory as a streaming DataFrame, one staged
    chunk (= one data file) per micro-batch by default.

    `files_per_trigger` coalesces consecutive staged chunks into one
    micro-batch (the chunk-coalescing knob, VERDICT r11 item 2). Replay
    ORDER across triggers is unchanged — the file source still orders by
    modification time — only the batch-boundary placement moves, so it is
    safe exactly for order-insensitive operators (joins, commutative
    aggregations) whose result does not depend on which rows share a
    micro-batch. Order-SENSITIVE keyed-state operators (running counts,
    as-of buffers) and late-data tests that plant a row in a specific
    chunk must keep the default of 1.

    Pass `ALL_STAGED_ONE_BATCH` to derive the trigger size from the
    actual staged data-file count instead of hard-coding chunk
    arithmetic: a chunk that ever splits into multiple part files (or a
    staging that scales its chunk count with row volume, like the
    reorder replays do) would silently degrade a hard-coded value back
    to multi-batch replay — correct for order-insensitive rows, but the
    measured single-batch benefit quietly disappears (ADVICE r12)."""
    if files_per_trigger == ALL_STAGED_ONE_BATCH:
        files_per_trigger = max(1, staged_data_file_count(staging_dir))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(staging_dir)
    )


_SHARED_STAGED: dict[tuple, str] = {}


def shared_replay_staging(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    chunks: int = 4,
    order_by: str = "ts",
    columns: tuple[str, ...] | None = None,
) -> tuple[str, object]:
    """Stage a fixture table as event-time-ordered replay chunks, cached per
    (sf_dir, table, chunks, order_by, columns) for the life of the
    process; returns (staging_dir, schema).

    Staging is a global sort plus one parquet write partitioned by
    chunk — the most expensive part of replaying a small fixture — and
    the staged files are immutable once written (queries that append
    flush-sentinel rows stage a PRIVATE copy instead). Each query still
    gets its own checkpoint dir, so the file-source offsets never
    collide; only the input files are reused. A catalog/bench run that
    replays `events` for eight different streaming queries pays the sort
    once.

    `columns` projects the staged files to just those columns (must
    include `order_by`): a wide fact replayed by a query that reads four
    of sixteen columns should not sort and write the other twelve —
    column pruning applied at the staging boundary, the same reason a
    lakehouse scan prunes at the reader."""
    df = load_table(spark, sf_dir, name)
    if columns is not None:
        df = df.select(*columns)
    key = (os.path.abspath(sf_dir), name, chunks, order_by, columns)
    path = _SHARED_STAGED.get(key)
    if path is None or not os.path.isdir(path):
        path = run_staging_dir("replay")
        stage_replay_chunks(df, path, chunks, order_by)
        _SHARED_STAGED[key] = path
    return path, df.schema


def shared_replay_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    chunks: int = 4,
    order_by: str = "ts",
    columns: tuple[str, ...] | None = None,
    files_per_trigger: int = 1,
) -> DataFrame:
    """Fixture table → event-time-ordered replay stream over the shared
    staging (`shared_replay_staging`)."""
    path, schema = shared_replay_staging(
        spark, sf_dir, name, chunks, order_by, columns
    )
    return replay_stream(spark, path, schema, files_per_trigger=files_per_trigger)
