"""Streaming-mode catalog queries: the correctness gate run through the
*streaming* engine, not just batch expressions.

Each callable stages the fixture table as an event-time-ordered replay
stream (2 micro-batches — enough that every operator's state crosses a
batch boundary, which is the multi-batch contract; arrival-order edge
cases get dedicated explicit-chunk tests in tests/test_streaming.py),
runs the streaming operator to completion, and returns the final state —
which must hash-match the same DuckDB batch oracle as the batch form.
Streaming-vs-batch equivalence is exactly what the declared semantics
promise once all input is consumed (SURVEY §5.2-1). Stagings are shared
per (table, order, columns) across the catalog run (`_shared_replay`) —
the global sort is paid once, each query keeps its own checkpoint.

s01/s02 use `complete` output mode into a memory sink (final state = full
result, including still-open windows — matching the batch oracle).
s03 exercises the custom stateful operator (applyInPandasWithState): the
alert stream's append-mode emissions, concatenated across micro-batches,
must equal the batch running-count oracle.
"""

from __future__ import annotations

import functools
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_learning_spark.catalog import QuerySpec, shared_artifact
from kafka_streams_learning_spark.sources import replay
from kafka_streams_learning_spark.sources.replay import run_staging_dir
from kafka_streams_learning_spark.streaming import runner, stateful, windows
# the runner sizes every run; re-exported for callers that pass it
# explicitly (perfbench's keyed run)
from kafka_streams_learning_spark.streaming.runner import (  # noqa: F401
    STATE_SHARDS,
)

REPLAY_CHUNKS = 2
ALERT_VALUE_THRESHOLD = 100.0  # events.value gate for s03 (~20% qualify)
ALERT_AFTER = 3

# Admission control for the watermark-REORDER rows (s12/s20): fixed ROWS
# per micro-batch once the input outgrows the fixture scales. A
# fixed CHUNK count means batch size ∝ SF, and the reorder buffers hold
# one batch of pending rows at cold start (the initial watermark releases
# nothing) — at the 10M-event skew decade that put ~2.6M rows in one
# shard's state, which Spark's state transport re-sends per input chunk
# (BENCH_NOTES r12: the >1 GiB livelock). A real deployment's trigger
# cadence bounds rows-per-batch for free; the replay models it by scaling
# chunk count with row count. At the driver-gate scales (sf ≤ 0.1 =
# ≤100k events) this floor keeps the historical 2 chunks, so gate hashes
# and the multi-batch contract are unchanged; the reorder operators'
# results are chunk-count-invariant by construction (watermark releases
# in exact (ts, id) order; the ±6 h jitter stays inside the 13 h
# disorder bound at any chunking, so nothing can be late-dropped).
REORDER_ROWS_PER_BATCH = 1_000_000


def _reorder_chunks(sf: str, table: str = "events") -> int:
    import pyarrow.parquet as pq

    n = pq.read_metadata(f"{sf}/{table}.parquet").num_rows
    return max(REPLAY_CHUNKS, -(-n // REORDER_ROWS_PER_BATCH))


def _fresh_name(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:8]}"


_S04_ORDER_COLS = ("o_orderkey", "o_custkey", "o_orderdate")
_S04_ITEM_COLS = ("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
# staged-column signature for the s24 lineitem replay
S24_LINEITEM_COLS = (
    "l_suppkey", "l_partkey", "l_quantity",
    "l_extendedprice", "l_discount", "l_shipdate",
)


def _shared_replay(
    label: str, table: str, order_by: str, columns: tuple[str, ...] | None = None
):
    """Declare one SHARED replay staging — the fixture table sorted by
    `order_by` and written as REPLAY_CHUNKS chunks, projected to
    `columns` — and return the opener the s-rows stream it through.
    Staging is harness scaffolding (at production the stream already
    exists), so the bench builds every declared staging in its set-up;
    each query still gets its own checkpoint, only the input files are
    reused. The stagings sit in `replay.shared_replay_staging`'s cache,
    which perfbench's s04 stagings share."""
    stage = shared_artifact(label)(
        lambda spark, sf: replay.shared_replay_staging(
            spark, sf, table, REPLAY_CHUNKS, order_by, columns
        )
    )

    def open_stream(spark: SparkSession, sf: str, files_per_trigger: int = 1):
        path, schema = stage(spark, sf)
        return replay.replay_stream(
            spark, path, schema, files_per_trigger=files_per_trigger
        )

    return open_stream


_events_replay = _shared_replay("events_replay", "events", "ts")
_documents_replay = _shared_replay("documents_replay", "documents", "doc_id")
_orders_replay = _shared_replay("orders_replay", "orders", "o_orderdate")
_s04_orders_replay = _shared_replay(
    "s04_orders_replay", "orders", "o_orderdate", _S04_ORDER_COLS
)
_s04_items_replay = _shared_replay(
    "s04_lineitem_replay", "lineitem", "l_shipdate", _S04_ITEM_COLS
)
_s24_items_replay = _shared_replay(
    "s24_lineitem_replay", "lineitem", "l_shipdate", S24_LINEITEM_COLS
)


def _uncompressed_bytes(path: str, columns: tuple[str, ...]) -> int:
    """Sum of the named columns' uncompressed data bytes from the parquet
    footer — a metadata read, no scan (the staged_column_max precedent)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    total = 0
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            if col.path_in_schema in columns:
                total += col.total_uncompressed_size
    return total


# RocksDB join-state bytes per uncompressed input byte: each buffered row
# is stored once in keyWithIndexToValue (UnsafeRow: 8-byte slots + null
# bitmap) plus key bookkeeping in keyToNumValues, on BOTH join sides.
# Measured on the r15 sf1 probe via lastProgress stateOperators
# memoryUsedBytes: 1.204 GB live state over a 187 MB footer estimate at
# 8 shards → 6.4, rounded up (OPTIMIZATION_r15.md "STATE_SHARDS
# derivation"); the footer estimate times this factor approximates live
# state volume well enough for a shard-count decision (the derivation
# only needs order-of-magnitude).
IJ_STATE_EXPANSION = 6.5


@functools.cache
def _interval_join_state_bytes(sf: str) -> int:
    """Expected stream-stream join state volume for s04/s23: with the
    coalesced single-batch replay BOTH sides are fully buffered in the
    join state within the batch, so the state estimate is the projected
    columns' uncompressed bytes across both inputs (watermark eviction
    only reclaims them at batch end) times IJ_STATE_EXPANSION. Feeds
    `derive_state_shards` (VERDICT r14 item 4): shard count scales with
    state volume instead of staying pinned at the fixture-scale 8
    forever. A footer read, memoized per sf dir."""
    raw = _uncompressed_bytes(
        f"{sf}/orders.parquet", _S04_ORDER_COLS
    ) + _uncompressed_bytes(f"{sf}/lineitem.parquet", _S04_ITEM_COLS)
    return int(raw * IJ_STATE_EXPANSION)


def _interval_join_shards(sf: str) -> int:
    return runner.derive_state_shards(_interval_join_state_bytes(sf))


# s01 — running count per key, streamed (A1 via the streaming engine)


def _s01(spark: SparkSession, sf: str) -> DataFrame:
    stream = _events_replay(spark, sf)
    counted = windows.streaming_count_by_key(stream, "user_id", count_name="cnt")
    name = _fresh_name("s01_out")
    runner.run_to_memory(counted, name, "complete")
    return spark.table(name)


_S01_SQL = "SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1"

# s02 — tumbling-window count, streamed (A3 via the streaming engine)


def _s02(spark: SparkSession, sf: str) -> DataFrame:
    stream = _events_replay(spark, sf)
    counted = windows.streaming_tumbling_count(stream, "ts", "1 day", "user_id")
    name = _fresh_name("s02_out")
    runner.run_to_memory(counted, name, "complete")
    return spark.table(name)


_S02_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
       CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS window_end,
       user_id, COUNT(*) AS cnt
FROM events GROUP BY 1, 2, 3
"""

# s03 — stateful fraud alerts, streamed (A5 via applyInPandasWithState)


def _s03(spark: SparkSession, sf: str) -> DataFrame:
    stream = _events_replay(spark, sf).select(
        F.col("user_id").cast("string").alias("key"),
        F.col("event_id").alias("record_id"),
        F.col("value").alias("amount"),
        "ts",
    )
    # sharded arm since r13: fixture key cardinality grows with SF, and
    # the per-key arm pays one Arrow invocation per distinct key per
    # batch (sweep 9: 109.6 s vs 30.2 s at 1M events / 150k keys, rows
    # bit-identical); parity across arms pinned by
    # tests/test_streaming.py::test_sharded_fraud_arm_matches_per_key_arm
    alerts = stateful.fraud_alert_stream(
        stream, "key", ALERT_VALUE_THRESHOLD, ALERT_AFTER, impl="sharded"
    )
    name = _fresh_name("s03_out")
    runner.run_to_memory(alerts, name, "append")
    return spark.table(name).select("key", "record_id", "amount", "running_cnt")


_S03_SQL = f"""
SELECT CAST(user_id AS VARCHAR) AS key, event_id AS record_id,
       value AS amount, running_cnt
FROM (
  SELECT *, COUNT(*) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS UNBOUNDED PRECEDING) AS running_cnt
  FROM events WHERE value >= {ALERT_VALUE_THRESHOLD}
)
WHERE running_cnt > {ALERT_AFTER}
"""


# s04 — stream-stream interval join, streamed (J2 via the streaming engine).
# Same query as q06 (orders⋈lineitem, ship within 90 days of order) but both
# sides replayed as event-time-ordered streams; watermarked join state is
# purged as the streams advance.

# Chunk coalescing for the interval joins (VERDICT r11 item 2): the r12
# trigger-count probe (BENCH_NOTES "Round 12: interval-join trigger-count
# probe") showed s04+s23 at fpt=1 cost 20.97 s vs 15.18 s with all
# staged chunks in one data micro-batch — a 28% cut that is pure
# per-micro-batch machinery (trigger scheduling + one RocksDB state
# commit round per batch), with bit-identical results (probe asserts
# hash parity per variant). The
# interval joins are order-INSENSITIVE — batch-boundary placement can't
# change an inner/outer join's emitted set as long as no row is dropped,
# and with one data batch the watermark starts at -inf so nothing can
# be late — which is exactly when `files_per_trigger` is safe (see
# sources/replay.py). Order-sensitive rows (running counts, keyed-state
# buffers, update/complete-mode emission sequences) keep fpt=1.
# The trigger size is derived from the staged data-file count at stream
# open (replay.ALL_STAGED_ONE_BATCH), not hard-coded from REPLAY_CHUNKS:
# a chunk written with >1 part file or a staging that scales chunk count
# would silently degrade a fixed value to multi-batch replay (ADVICE r12).
COALESCED_REPLAY_FPT = replay.ALL_STAGED_ONE_BATCH


def _s04(spark: SparkSession, sf: str) -> DataFrame:
    # watermarks require TIMESTAMP (ltz); the fixture dates are NTZ — the
    # cast is interpretation-only under the UTC session timezone
    orders = _s04_orders_replay(
        spark, sf, files_per_trigger=COALESCED_REPLAY_FPT
    ).select(
        "o_orderkey", "o_custkey",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
    )
    items = _s04_items_replay(
        spark, sf, files_per_trigger=COALESCED_REPLAY_FPT
    ).select(
        "l_orderkey", "l_linenumber", "l_extendedprice",
        F.col("l_shipdate").cast("timestamp").alias("l_shipdate"),
    )
    j = windows.streaming_interval_join(
        orders, items,
        "o_orderkey", "l_orderkey", "o_orderdate", "l_shipdate",
        bound="90 days", lower="0 days", upper="90 days",
    )
    out = j.select(
        "o_orderkey", "o_custkey", "l_linenumber", "l_extendedprice", "l_shipdate"
    )
    name = _fresh_name("s04_out")
    runner.run_to_memory(
        out, name, "append", state_partitions=_interval_join_shards(sf)
    )
    return spark.table(name)


_S04_SQL = """
SELECT o.o_orderkey, o.o_custkey, l.l_linenumber, l.l_extendedprice, l.l_shipdate
FROM orders o JOIN lineitem l
  ON o.o_orderkey = l.l_orderkey
 AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 90 DAY
"""

# s05 — stream-table enrichment with a CHANGING dimension (J1+S3 via the
# streaming engine, SURVEY §7.4b). The customer dimension arrives as a
# 2-version changelog stream (stale rows first, then the real ones); a
# foreachBatch upsert maintains the latest-per-key snapshot (the KTable);
# the orders stream then enrich-joins the snapshot broadcast-static. The
# batch oracle joins against the final customer table — which IS the final
# snapshot, the deterministic semantic of `StreamTableJoinExample.java:85-88`.


# the 2-version changelog derives deterministically from the customer
# fixture, so its staging (sort + chunk writes) is shared per sf like the
# replays'; the KTable MATERIALIZATION still runs fresh per call —
# maintaining the snapshot is the behavior s05 measures


@shared_artifact("s05_changelog")
def _s05_changelog(spark: SparkSession, sf: str) -> tuple[str, object, int]:
    """Stage the 2-version customer changelog that s05 replays.

    Returns (staging_dir, schema, dim_rows): dim_rows is the customer
    count, computed once at staging time (a parquet-footer count, no
    scan) and threaded into `materialize_ktable(expected_rows=...)` —
    the chunked changelog's first batch is HALF the dimension, so the
    batch-1 adaptive bucket derivation would undershoot 2× at every
    scale (ADVICE r13; the hint sizes buckets for the full dimension)."""
    from kafka_streams_learning_spark.sources.batch import load_table
    from kafka_streams_learning_spark.sources.replay import stage_replay_chunks

    cust = load_table(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    dim_rows = cust.count()
    stale = cust.withColumn("c_name", F.lit("STALE")).withColumn(
        "_version", F.lit(0)
    )
    fresh = cust.withColumn("_version", F.lit(1))
    changelog_dir = run_staging_dir("chlog")
    stage_replay_chunks(
        stale.unionByName(fresh), changelog_dir, chunks=2, order_by="_version"
    )
    return changelog_dir, stale.schema, dim_rows


def _s05(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.operators.joins import enrich_join
    from kafka_streams_learning_spark.sources.batch import load_table
    from kafka_streams_learning_spark.sources.replay import replay_stream
    from kafka_streams_learning_spark.streaming import ktable

    staged, chlog_schema, dim_rows = _s05_changelog(spark, sf)
    snapshot_dir = run_staging_dir("snap")
    ktable.materialize_ktable(
        replay_stream(spark, staged, chlog_schema),
        snapshot_dir, key="c_custkey", version_col="_version",
        expected_rows=dim_rows,
    )
    dim = ktable.read_snapshot(spark, snapshot_dir).drop("_version")

    # coalesced replay (see COALESCED_REPLAY_FPT): the enrichment join is
    # stateless and the snapshot is fully materialized BEFORE the orders
    # replay opens, so batch-boundary placement cannot change the emitted
    # set — and each micro-batch re-scans + re-broadcasts the static
    # snapshot side, so one data batch pays that cost once (r13 probe:
    # join phase 4.32→2.75 s median, hash parity per rep — BENCH_NOTES r13)
    orders = _orders_replay(
        spark, sf, files_per_trigger=COALESCED_REPLAY_FPT
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    joined = enrich_join(
        orders.withColumn("c_custkey", F.col("o_custkey")), dim, on="c_custkey"
    ).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
        "c_name", "c_mktsegment", "c_acctbal",
    )
    name = _fresh_name("s05_out")
    runner.run_to_memory(joined, name, "append")
    return spark.table(name)


_S05_SQL = """
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, o.o_orderdate,
       c.c_name, c.c_mktsegment, c.c_acctbal
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
"""


# s06 — event-anchored sliding count, streamed (A4 via keyed state). The
# low-latency alternative to q05's range self-join: per-key timestamp
# buffers bounded by the lookback. Same oracle as q05.

SLIDE_LOOKBACK_MICROS = 24 * 3600 * 1_000_000


def _s06(spark: SparkSession, sf: str) -> DataFrame:
    stream = _events_replay(spark, sf).select(
        "user_id", "event_id", "ts"
    )
    counted = stateful.sliding_count_stream(stream, SLIDE_LOOKBACK_MICROS)
    name = _fresh_name("s06_out")
    # arrow_batch_rows: rows are 3-4 narrow columns; big chunks keep the
    # per-chunk state re-send bounded under hot-key skew (see runner)
    runner.run_to_memory(counted, name, "append", arrow_batch_rows=500_000)
    return spark.table(name)


_S06_SQL = """
SELECT e1.user_id, e1.event_id, e1.ts, COUNT(*) AS cnt
FROM events e1 JOIN events e2
  ON e1.user_id = e2.user_id
 AND e2.ts BETWEEN e1.ts - INTERVAL 24 HOUR AND e1.ts
GROUP BY 1, 2, 3
"""


# s07 — session-window count, streamed (§2.7 via the streaming engine).
# Append mode only emits a session once the watermark passes its end, so
# a flush sentinel (dummy key, far-future timestamp) rides the tail of
# the last replay chunk and advances the global watermark past every real
# session — the streaming analogue of "the topic kept moving". The
# sentinel's own session is filtered from the result; the oracle is q14's
# gaps-and-islands SQL.

SESSION_GAP_S07 = "12 hours"


# The flush-sentinel stagings (s07, s12/s20, s23) are row-PRIVATE — the
# sentinel must never reach the shared stagings — but still harness
# scaffolding, so they are shared artifacts too: built once per sf, in
# the bench's set-up, so the timed row measures the engine.


def _sentinel_row(spark: SparkSession, schema, *values) -> DataFrame:
    """A one-row frame of `values` typed and named by `schema`: a flush
    sentinel to union into a staging. It is a literal projection over
    `spark.range(1)`; a one-row `createDataFrame` is a parallelized
    Python RDD, which made each sentinel staging several times slower
    than a plain replay staging of the same table."""
    return spark.range(1).select(
        *(F.lit(v).cast(f.dataType).alias(f.name)
          for v, f in zip(values, schema.fields, strict=True))
    )


@shared_artifact("s07_staging")
def _s07_staging(spark: SparkSession, sf: str) -> tuple[str, object]:
    import datetime

    from kafka_streams_learning_spark.sources.batch import load_table
    from kafka_streams_learning_spark.sources.replay import (
        stage_replay_chunks,
        staged_column_max,
    )

    ev = load_table(spark, sf, "events").select("user_id", "ts")
    # sentinel timestamp from the SOURCE fixture's parquet footer stats —
    # a metadata read, not a second full scan. The sentinel is unioned in
    # BEFORE staging so it lands at the tail of the LAST data chunk: the
    # watermark advances past every real session at the final data batch,
    # and the engine's no-data micro-batch finalizes them — no trailing
    # sentinel-only batch (one fewer trigger, measured on the session op).
    max_ts = staged_column_max(f"{sf}/events.parquet", "ts")
    flush = _sentinel_row(
        spark, ev.schema, -1, max_ts + datetime.timedelta(hours=13)
    )
    staging = run_staging_dir("replay")
    stage_replay_chunks(
        ev.unionByName(flush), staging, REPLAY_CHUNKS, order_by="ts"
    )
    return staging, ev.schema


def _s07(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.sources.replay import replay_stream

    staging, schema = _s07_staging(spark, sf)
    stream = replay_stream(spark, staging, schema)
    counted = windows.streaming_session_count(stream, "ts", SESSION_GAP_S07, "user_id")
    name = _fresh_name("s07_out")
    runner.run_to_memory(counted, name, "append")
    return spark.table(name).filter(F.col("user_id") >= 0)


_S07_SQL = """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
               OR ts - LAG(ts) OVER w >= INTERVAL 12 HOUR THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
)
SELECT MIN(ts) AS window_start, MAX(ts) + INTERVAL 12 HOUR AS window_end,
       user_id, COUNT(*) AS cnt
FROM s GROUP BY user_id, sess
"""


# s08 — streaming exact dedup: the fingerprint→(keeper, dup-count) state
# of x04 maintained incrementally by the streaming engine. The winner is
# min(doc_id) — an order-insensitive aggregate, so the result is
# deterministic regardless of how rows interleave across micro-batches
# (dropDuplicates' "first arrival wins" is NOT: within-batch order is
# partition-dependent). Complete-mode memory sink = the final KTable.


def s08_dedup_groups(stream: DataFrame) -> DataFrame:
    """The s08 stateful plan over ANY documents stream — factored out so
    the kill-and-resume recovery test (tests/test_streaming.py) drives
    the exact catalog construction, not a test-local copy."""
    from kafka_streams_learning_spark.functions.text import fingerprint

    return (
        stream.select(F.col("doc_id"), fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _s08(spark: SparkSession, sf: str) -> DataFrame:
    stream = _documents_replay(spark, sf)
    groups = s08_dedup_groups(stream)
    name = _fresh_name("s08_out")
    runner.run_to_memory(groups, name, "complete")
    return spark.table(name)


_S08_SQL = r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM documents GROUP BY 1
"""


# s09 — streaming as-of (point-in-time) self-enrichment: x22's semantics
# through the streaming engine with O(1) keyed state instead of the batch
# union+window shuffle. Append-mode emissions concatenated across
# micro-batches must hash-match the SAME batch oracle as x22 — the
# strictly-prior, (ts DESC, id DESC)-tie-broken argmax per event.


def _s09(spark: SparkSession, sf: str) -> DataFrame:
    stream = _events_replay(spark, sf)
    enriched = stateful.asof_join_stream(
        stream.select("event_id", "user_id", "ts", "event_type")
    )
    name = _fresh_name("s09_out")
    # arrow_batch_rows: rows are 3-4 narrow columns; big chunks keep the
    # per-chunk state re-send bounded under hot-key skew (see runner)
    runner.run_to_memory(enriched, name, "append", arrow_batch_rows=500_000)
    return spark.table(name)


def _s09_sql() -> str:
    from kafka_streams_learning_spark.catalog_ext import _X22_SQL

    return _X22_SQL


# s10 — hopping-window count, streamed (§2.7 via the streaming engine):
# q13's overlapping windows maintained incrementally; complete-mode final
# state must hash-match the same batch oracle.


def _s10(spark: SparkSession, sf: str) -> DataFrame:
    stream = _events_replay(spark, sf)
    counted = windows.streaming_hopping_count(
        stream, "ts", "2 days", "1 day", "user_id"
    )
    name = _fresh_name("s10_out")
    runner.run_to_memory(counted, name, "complete")
    return spark.table(name)


def _s10_sql() -> str:
    from kafka_streams_learning_spark.catalog import _Q13_SQL

    return _Q13_SQL


# s11 — per-key quantile stats, streamed: x24's exact distribution
# surface maintained by the streaming engine. The complete-mode final
# state buffers each key's values in the aggregation state (exact
# percentiles are inherently value-buffering — same trade-off as the
# batch form, bounded-cardinality keys only) and must BITWISE hash-match
# x24's batch oracle: linear-interpolated percentiles on identical sorted
# inputs are engine-portable (measured 25/25 vs DuckDB quantile_cont).
# The fixed-memory GK-sketch variant rides the same streaming API and is
# bounds-tested against this exact form in tests (not oracle-hashed —
# estimator internals, the x24/HLL policy).


def _s11(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.catalog_ext import QUANTILES
    from kafka_streams_learning_spark.operators import core

    stream = _orders_replay(spark, sf)
    stats = core.quantile_stats(
        stream, "o_totalprice", QUANTILES, "o_orderpriority"
    )
    name = _fresh_name("s11_out")
    runner.run_to_memory(stats, name, "complete")
    return spark.table(name)


def _s11_sql() -> str:
    from kafka_streams_learning_spark.catalog_ext import _x24_sql

    return _x24_sql()


# s13 — global token top-k, streamed: x05's heavy-hitters surface with
# the per-token counts maintained incrementally by the streaming engine
# (explode happens pre-shuffle, so partial aggregation still collapses
# per token map-side; complete-mode state is one row per distinct
# token). The top-k cut is a batch TakeOrdered over the final state —
# exactly what a dashboard query against the state table does — and must
# hash-match x05's batch oracle including the (cnt DESC, token) tie-break.


def _s13(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.catalog_ext import TOPK_TOKENS
    from kafka_streams_learning_spark.functions import text as T

    stream = _documents_replay(spark, sf)
    tok = stream.select(
        F.explode(T.tokens(T.normalized_text(F.col("text")))).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    name = _fresh_name("s13_out")
    runner.run_to_memory(counts, name, "complete")
    return (
        spark.table(name)
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(TOPK_TOKENS)
    )


def _s13_sql() -> str:
    from kafka_streams_learning_spark.catalog_ext import _X05_SQL

    return _X05_SQL


# s14 — stateless map through the streaming engine: q01's mapValues
# topology (the reference's simplest app, `basics/WordCountApp.java`
# shape before aggregation) as a pure per-record streaming transform —
# no state store, no watermark, append mode. Completes the streaming
# coverage matrix: every other s-query is stateful/windowed; the
# stateless row-transform class was only batch-verified before.


def _s14(spark: SparkSession, sf: str) -> DataFrame:
    stream = _events_replay(spark, sf)
    mapped = stream.select(
        "event_id", "user_id",
        F.upper(F.col("event_type")).alias("event_type_upper"),
    )
    name = _fresh_name("s14_out")
    runner.run_to_memory(mapped, name, "append")
    return spark.table(name)


def _s14_sql() -> str:
    from kafka_streams_learning_spark.catalog import _Q01_SQL

    return _Q01_SQL


# s12 — s09's as-of join under REAL disorder: the events fixture arrives
# shuffled (each row's replay position displaced by a deterministic ±6 h
# hash jitter of its event time), and `stateful.asof_join_stream` with
# `disorder="13 hours"` must still hash-match x22's batch as-of oracle
# exactly. This is the production story for the keyed-state operators: a
# Kafka-partition-ordered source is NOT assumed — the 13 h watermark bounds
# the disorder and the reorder buffer restores per-key (ts, id) order
# before the same as-of release step s09 runs.


@shared_artifact("s12_s20_staging")
def _jittered_events_staging(spark: SparkSession, sf: str) -> tuple[str, object]:
    """The shuffled-arrival events replay s12 and s20 both read (s20
    selects its three columns from s12's four)."""
    import datetime

    from kafka_streams_learning_spark.sources.batch import load_table
    from kafka_streams_learning_spark.sources.replay import (
        stage_replay_chunks,
        staged_column_max,
    )

    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    # deterministic bounded shuffle: displace each row's ARRIVAL position
    # by a ±6 h jitter keyed on event_id; event time `ts` is untouched
    jittered = ev.withColumn(
        "_arrival",
        F.expr(
            "timestampadd(SECOND, "
            "CAST(crc32(cast(event_id AS string)) % 43200 - 21600 AS INT), ts)"
        ),
    )
    # one flush sentinel (event_id = -1, dropped by the reorder operators
    # before their cores run), riding the tail of the LAST replay chunk
    # (its `_arrival` exceeds any real arrival, which is bounded by
    # ts+6h): the final data batch pushes the watermark past every real
    # row, and the engine's no-data micro-batch then fires the event-time
    # timeouts that drain the reorder buffers — no trailing sentinel-only
    # batches (sentinel ts from the source fixture's footer stats, not a
    # rescan)
    max_ts = staged_column_max(f"{sf}/events.parquet", "ts")
    sent = _sentinel_row(
        spark, jittered.schema, -1, -1,
        max_ts + datetime.timedelta(hours=14), "view",
        max_ts + datetime.timedelta(hours=7),
    )
    staging = run_staging_dir("replay")
    stage_replay_chunks(
        jittered.unionByName(sent), staging, _reorder_chunks(sf),
        order_by="_arrival",
    )
    return staging, jittered.schema


def _s12(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.sources.replay import replay_stream

    staging, schema = _jittered_events_staging(spark, sf)
    stream = replay_stream(spark, staging, schema).select(
        "event_id", "user_id", "ts", "event_type"
    )
    enriched = stateful.asof_join_stream(stream, disorder="13 hours")
    name = _fresh_name("s12_out")
    # arrow_batch_rows: rows are 3-4 narrow columns; big chunks keep the
    # per-chunk state re-send bounded under hot-key skew (see runner)
    runner.run_to_memory(enriched, name, "append", arrow_batch_rows=500_000)
    return spark.table(name)




# s15 — streaming near-dup filter: per-record MinHash signature computed
# as a pure expression (no per-doc aggregation — chaining two stateful
# aggs is unsupported in one streaming query), single-band LSH bucket =
# md5 of the full signature, then ONE stateful groupBy(bucket) keeping
# (first doc id, member count). The streaming twin of the x06/x11 sketch
# family: near-duplicate groups emerge incrementally as the corpus
# streams in; complete-mode final state hash-matches the batch oracle
# regardless of arrival order (min/count are order-free).


def s15_neardup_groups(stream: DataFrame) -> DataFrame:
    """The s15 stateful plan over ANY documents stream — factored out so
    the kill-and-resume recovery test (tests/test_streaming.py) drives
    the exact catalog construction (the r10 star-pair/zero-norm changes
    touched this signature family, VERDICT r10 item 7)."""
    from kafka_streams_learning_spark.catalog_ext import JACCARD_K, MINHASH_PERMS
    from kafka_streams_learning_spark.functions.hashing import hash32, perm_hash
    from kafka_streams_learning_spark.functions.text import word_shingles

    harr = F.transform(
        word_shingles(F.col("text"), JACCARD_K), lambda s: hash32(s)
    )
    mins = [
        F.array_min(F.transform(harr, lambda h: perm_hash(h, i))).cast("string")
        for i in range(MINHASH_PERMS)
    ]
    bucket = F.md5(F.concat_ws("_", *mins))
    return (
        stream.select(F.col("doc_id"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_members"))
    )


def _s15(spark: SparkSession, sf: str) -> DataFrame:
    stream = _documents_replay(spark, sf)
    groups = s15_neardup_groups(stream)
    name = _fresh_name("s15_out")
    runner.run_to_memory(groups, name, "complete")
    return spark.table(name)


def _s15_sql() -> str:
    from kafka_streams_learning_spark.catalog_ext import (
        MINHASH_PERMS,
        _SHINGLES,
        _TOKS_NORM,
    )
    from kafka_streams_learning_spark.functions.hashing import (
        hash32_sql,
        perm_hash_sql,
    )

    mins = ",\n       ".join(
        f"MIN({perm_hash_sql('h', i)}) AS mh{i}" for i in range(MINHASH_PERMS)
    )
    sig_cast = ", ".join(f"CAST(mh{i} AS VARCHAR)" for i in range(MINHASH_PERMS))
    return rf"""
WITH t AS (SELECT doc_id, {_TOKS_NORM} AS toks FROM documents),
s AS (SELECT doc_id, {_SHINGLES} AS shingles FROM t),
u AS (SELECT doc_id, {hash32_sql('unnest(shingles)')} AS h FROM s),
sig AS (SELECT doc_id,
       {mins}
FROM u GROUP BY doc_id),
b AS (SELECT doc_id, md5(concat_ws('_', {sig_cast})) AS bucket FROM sig)
SELECT bucket, MIN(doc_id) AS keep_id, COUNT(*) AS n_members
FROM b GROUP BY 1
"""


# s16 — STREAM-STATIC join: score a document stream against a
# pretrained unigram LM (x43's model tables, trained in batch). The
# static ≤V-row vocab broadcasts into every micro-batch's join — the
# "enrich a stream against a trained model / slowly-changing reference
# table" pattern, distinct from s05's foreachBatch KTable (the static
# side here is a plain DataFrame the engine re-binds per batch). The
# per-doc integer score aggregates in complete mode; because the scores
# are exact integer sums, the final state hash-matches x43's batch
# oracle regardless of micro-batch boundaries or arrival order.


def _s16(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.catalog_ext import LM_VOCAB_SIZE
    from kafka_streams_learning_spark.functions import text as T
    from kafka_streams_learning_spark.operators.textops import (
        score_tokens,
        unigram_model,
    )
    from kafka_streams_learning_spark.sources.batch import load_table

    vocab_q, unk_q = unigram_model(load_table(spark, sf, "documents"), LM_VOCAB_SIZE)
    # the UNK logprob is one integer — ferry it through the driver as a
    # literal (the 1-row-collect precedent of the sampler rate table; a
    # stream cannot cross-join the 1-row static frame the batch path uses)
    unk = unk_q.collect()[0][0]

    stream = _documents_replay(spark, sf)
    tok = stream.select(
        "doc_id",
        F.explode(T.tokens(T.normalized_text(F.col("text")))).alias("token"),
    )
    # the aggregate/projection expressions are textops.score_tokens — the
    # SAME definition the batch scorer uses, which is what keeps this
    # stream's final state hash-equal to x43's oracle
    scored = score_tokens(tok, vocab_q, F.lit(unk))
    name = _fresh_name("s16_out")
    runner.run_to_memory(scored, name, "complete")
    return spark.table(name)


def _s16_sql() -> str:
    from kafka_streams_learning_spark.catalog_ext import _X43_SQL

    return _X43_SQL


def _s17(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming HyperLogLog maintenance (x54's sketch arm as a live
    stream): the register table is a streaming groupBy-MAX — the sketch
    merge IS the aggregation, so each micro-batch folds its tokens into
    the (source, bucket) registers with map-side partial MAX and the
    state store holds exactly 64 integers per source forever, no matter
    how many tokens stream through. The estimate is then read off the
    FINAL register state (the IQ1 interactive-query precedent) with the
    same batch collapse x54 uses, so the result hash-matches the batch
    oracle's estimate column."""
    from kafka_streams_learning_spark.functions import text as T
    from kafka_streams_learning_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    stream = _documents_replay(spark, sf)
    tok = stream.select(
        "source",
        F.explode(T.tokens(T.normalized_text(F.col("text")))).alias("token"),
    )
    regs = hll_registers(tok, "token", ["source"])
    name = _fresh_name("s17_out")
    runner.run_to_memory(regs, name, "complete")
    return hll_estimate(spark.table(name), ["source"])


def _s17_sql() -> str:
    from kafka_streams_learning_spark.catalog_ext import _x54_sql

    return f"WITH x54 AS ({_x54_sql()})\nSELECT source, hll_estimate FROM x54"


def _s18(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming Count-Min maintenance (x58's sketch arm live): the
    counter table is a streaming groupBy-COUNT over (row_i, bucket) —
    the SUM-merge IS the aggregation, so state is ≤ d×w integers no
    matter how many tokens stream through. Estimates for the exact
    top-k tokens then read off the FINAL counter state with x58's batch
    collapse, hash-matching the batch oracle."""
    from kafka_streams_learning_spark.catalog_ext import CMS_TOPK
    from kafka_streams_learning_spark.functions import text as T
    from kafka_streams_learning_spark.operators.sketches import (
        _cms_probe_array,
        cms_estimate,
    )
    from kafka_streams_learning_spark.functions.hashing import hash32
    from kafka_streams_learning_spark.sources.batch import load_table

    stream = _documents_replay(spark, sf)
    tok = stream.select(
        F.explode(T.tokens(T.normalized_text(F.col("text")))).alias("token")
    )
    counters = (
        tok.select(F.explode(_cms_probe_array(hash32(F.col("token")))).alias("p"))
        .select("p.row_i", "p.bucket")
        .groupBy("row_i", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    name = _fresh_name("s18_out")
    runner.run_to_memory(counters, name, "complete")

    # the query set (exact top-k with counts) comes from the BATCH table —
    # the x58 calibration contract; estimates probe the final stream state
    btok = load_table(spark, sf, "documents").select(
        F.explode(T.tokens(T.normalized_text(F.col("text")))).alias("token")
    )
    exact = (
        btok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("token"))
        .limit(CMS_TOPK)
    )
    est = cms_estimate(spark.table(name), exact.select("token"), "token")
    return exact.join(est, "token").select(
        "token",
        "n_exact",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("n_exact")).alias("overestimate"),
    )


def _s18_sql() -> str:
    from kafka_streams_learning_spark.catalog_ext import _x58_sql

    return _x58_sql()


def _s19(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming histogram-quantile maintenance (x60's sketch arm live):
    the per-group min/max GRID is fit in batch (the s16 batch-fit /
    stream-score precedent — a production pipeline freezes the grid when
    the sketch is deployed), the (group, bucket) counts are a streaming
    groupBy-COUNT in complete mode (state ≤ groups × HISTQ_BUCKETS
    integers forever), and the quantile estimates + exact calibration
    read off the final state with x60's batch collapse — hash-matching
    the batch oracle."""
    from kafka_streams_learning_spark.catalog_ext import HISTQ_QS
    from kafka_streams_learning_spark.operators.sketches import HISTQ_BUCKETS
    from kafka_streams_learning_spark.sources.batch import load_table

    nb = HISTQ_BUCKETS
    # same NULL exclusion as histogram_quantiles (engine-portable arms)
    batch = load_table(spark, sf, "events").filter(F.col("value").isNotNull())
    stats = batch.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )

    stream = (
        _events_replay(spark, sf)
        .select("event_type", "value")
        .filter(F.col("value").isNotNull())
    )
    v = F.col("value").cast("double")
    bucket = F.when(F.col("vmax") == F.col("vmin"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (v - F.col("vmin")) / (F.col("vmax") - F.col("vmin"))
                * F.lit(float(nb))
            ),
            F.lit(nb - 1),
        )
    )
    hist = (
        stream.join(F.broadcast(stats), "event_type")
        .select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    name = _fresh_name("s19_out")
    runner.run_to_memory(hist, name, "complete")

    # collapse the FINAL counter state exactly as x60 does (shared code)
    from kafka_streams_learning_spark.operators.sketches import (
        histogram_quantile_collapse,
    )

    exact = batch.groupBy("event_type").agg(
        *[F.percentile("value", disp).alias(f"e_{num}") for num, disp in HISTQ_QS]
    )
    return histogram_quantile_collapse(
        spark.table(name), stats, exact, HISTQ_QS, "event_type"
    )


def _s19_sql() -> str:
    from kafka_streams_learning_spark.catalog_ext import _x60_sql

    return _x60_sql()


# s20 — s06's sliding count under REAL disorder (the r5/r6 carry-item):
# the events fixture arrives shuffled (s12's jittered staging: each row's
# replay position displaced by a deterministic ±6 h hash jitter of its
# event time), and `stateful.sliding_count_stream` with
# `disorder="13 hours"` buffers rows until the watermark restores per-key
# (ts, event_id) order, then runs s06's sliding release step — emissions
# still hash-match q05's batch range-self-join oracle exactly. This
# closes the ordered-arrival caveat on the keyed-state sliding count: a
# Kafka-partition-ordered source is NOT assumed; a 13 h watermark bounds
# the disorder, state is O(pending + window) per key.


def _s20(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.sources.replay import replay_stream

    staging, schema = _jittered_events_staging(spark, sf)
    stream = replay_stream(spark, staging, schema).select(
        "user_id", "event_id", "ts"
    )
    counted = stateful.sliding_count_stream(
        stream, SLIDE_LOOKBACK_MICROS, disorder="13 hours"
    )
    name = _fresh_name("s20_out")
    # arrow_batch_rows: rows are 3-4 narrow columns; big chunks keep the
    # per-chunk state re-send bounded under hot-key skew (see runner)
    runner.run_to_memory(counted, name, "append", arrow_batch_rows=500_000)
    return spark.table(name)


# s21 — streaming decontamination (x59's semantics live): the Bloom
# filter over the benchmark shingle set is built in BATCH and frozen
# (the production shape — an eval suite changes rarely; its ~2 KB word
# array ships to executors as literals), then the corpus arrives as a
# stream and every micro-batch probes the bloom as pure per-row
# expressions — zero joins and zero shuffles on the streamed side for
# the sketch arm. The exact arm rides along as a stream-static
# broadcast join (ground truth for the false-positive delta). Per-doc
# counters aggregate in complete mode; exact integer sums make the
# final state hash-equal to x59's batch oracle regardless of
# micro-batch boundaries. This is the "screen a live ingestion feed
# against a frozen eval suite" pattern — the ingest-side twin of x59.


def _s21(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.catalog_ext import BENCH_MOD, JACCARD_K
    from kafka_streams_learning_spark.functions.text import word_shingles
    from kafka_streams_learning_spark.operators.materialize import materialized
    from kafka_streams_learning_spark.operators.sketches import (
        bloom_build,
        bloom_probe_score,
        bloom_words_dense,
    )
    from kafka_streams_learning_spark.sources.batch import load_table

    batch = load_table(spark, sf, "documents")
    # materialize the benchmark shingle set: it feeds the bloom build
    # (driver collect) AND the exact-arm broadcast join, and a
    # stream-static join's static side is re-planned EVERY micro-batch
    # — without this the tokenize+shingle pass would rerun per trigger
    bench = materialized(
        batch.filter((F.col("doc_id") % BENCH_MOD) == 0)
        .select(
            F.explode(
                F.array_distinct(word_shingles(F.col("text"), JACCARD_K))
            ).alias("shingle")
        )
        .distinct(),
        tag="s21-bench",
    )
    words = bloom_words_dense(bloom_build(bench, "shingle"))

    stream = _documents_replay(spark, sf)
    posts = (
        stream.filter((F.col("doc_id") % BENCH_MOD) != 0)
        .select(
            F.col("doc_id").alias("id"),
            F.array_distinct(word_shingles(F.col("text"), JACCARD_K)).alias("_sh"),
        )
        .select(
            "id",
            F.size("_sh").alias("n_shingles"),
            F.explode("_sh").alias("shingle"),
        )
    )
    # the probe + per-doc rollup is bloom_probe_score — the SAME code
    # x59 runs in batch, which is what keeps both rows pinned to the
    # shared _x59_sql oracle
    out = bloom_probe_score(posts, bench, words, id_col="doc_id")
    name = _fresh_name("s21_out")
    runner.run_to_memory(out, name, "complete")
    return spark.table(name)


def _s21_sql() -> str:
    from kafka_streams_learning_spark.catalog_ext import _x59_sql

    return _x59_sql()


# s22 — streaming model-based quality gate (x67's classifier live):
# the hashed-NB model is trained in BATCH and frozen (the production
# shape — the curated reference slice changes rarely), then the corpus
# arrives as a stream and every micro-batch scores through the SAME
# nb_score expressions x67 uses: the ≤ CLS_BUCKETS-row weight table
# broadcasts into a stream-static join, the two model scalars ship as
# collected literals (s16's UNK precedent), and the per-doc integer
# score sums aggregate in complete mode — so the final state is
# hash-equal to x67's batch oracle regardless of micro-batch boundaries
# or arrival order. Distinct from s16: that scores against a ≤V-row
# vocabulary LM; this one is a trained CLASSIFIER gate whose state per
# doc is two ints, the "filter a live ingestion feed through the
# quality model" pattern.


def _s22(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.catalog_ext import nb_model
    from kafka_streams_learning_spark.operators.textops import (
        CLS_BUCKETS,
        nb_bucketize,
        nb_score,
    )

    _tok, weights, scalars = nb_model(spark, sf)  # batch-frozen model
    w0, prior = scalars.collect()[0]
    # nb_train now raises on a one-class corpus, but the frozen-model
    # handoff keeps its own guard (an explicit raise, not an assert —
    # `python -O` strips asserts and the failure mode this prevents is
    # SILENT NULL scores)
    if w0 is None or prior is None:
        raise ValueError("NB model scalars are NULL — both classes required")

    stream = _documents_replay(spark, sf)
    # the SAME tokenize+bucket stage nb_train uses (op-for-op identity is
    # what keeps this stream's final state hash-equal to x67's oracle)
    tok = nb_bucketize(stream, [F.col("doc_id")], CLS_BUCKETS)
    scored = nb_score(tok, weights, F.lit(w0), F.lit(prior), "doc_id")
    name = _fresh_name("s22_out")
    runner.run_to_memory(scored, name, "complete")
    return spark.table(name)


def _s22_sql() -> str:
    from kafka_streams_learning_spark.catalog_ext import _x67_sql

    return _x67_sql()


# s23 — LEFT-OUTER watermarked interval join (the Kafka Streams DSL's
# windowed leftJoin, the outer sibling of s04's inner J2): an order with
# no lineitem shipped inside [o_orderdate, +90d] must still emit, with
# NULLs on the item side. Outer emission is watermark-gated — the engine
# holds an unmatched left row in state until the GLOBAL watermark (min
# across both inputs) passes its join window, then emits the NULL row —
# so a finite replay needs the s07 flush sentinel on BOTH streams: one
# far-future row per side rides the tail of the last data chunk,
# advancing both watermarks past every real order's window; the engine's
# trailing no-data micro-batch then flushes the NULL emissions. The
# sentinels join nothing (distinct negative keys) and are filtered from
# the result; the oracle is the batch LEFT JOIN with the same interval
# predicate.


@shared_artifact("s23_staging")
def _s23_staging(spark: SparkSession, sf: str) -> tuple[str, str, object, object]:
    """The orders/lineitem replay inputs of s23's interval join, each
    carrying its flush sentinel."""
    import datetime

    from kafka_streams_learning_spark.sources.batch import load_table
    from kafka_streams_learning_spark.sources.replay import (
        stage_replay_chunks,
        staged_column_max,
    )

    # sentinel ts from parquet footer stats (metadata reads, no scans);
    # 200d > upper bound (90d) + watermark delay (90d) past every event
    flush_ts = max(
        staged_column_max(f"{sf}/orders.parquet", "o_orderdate"),
        staged_column_max(f"{sf}/lineitem.parquet", "l_shipdate"),
    ) + datetime.timedelta(days=200)

    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
    )
    o_stage = run_staging_dir("replay")
    stage_replay_chunks(
        o.unionByName(_sentinel_row(spark, o.schema, -1, -1, flush_ts)),
        o_stage, REPLAY_CHUNKS, order_by="o_orderdate",
    )
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice",
        F.col("l_shipdate").cast("timestamp").alias("l_shipdate"),
    )
    l_stage = run_staging_dir("replay")
    stage_replay_chunks(
        li.unionByName(_sentinel_row(spark, li.schema, -2, -1, 0.0, flush_ts)),
        l_stage, REPLAY_CHUNKS, order_by="l_shipdate",
    )
    return o_stage, l_stage, o.schema, li.schema


def _s23(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.sources.replay import replay_stream

    o_stage, l_stage, o_schema, l_schema = _s23_staging(spark, sf)
    # coalesced replay (see COALESCED_REPLAY_FPT): the flush sentinels
    # ride the single data batch, the watermark advances at its end, and
    # the engine's trailing no-data batch still flushes the NULL
    # emissions — probe-verified hash parity with per-chunk replay
    j = windows.streaming_interval_join(
        replay_stream(spark, o_stage, o_schema,
                      files_per_trigger=COALESCED_REPLAY_FPT),
        replay_stream(spark, l_stage, l_schema,
                      files_per_trigger=COALESCED_REPLAY_FPT),
        "o_orderkey", "l_orderkey", "o_orderdate", "l_shipdate",
        bound="90 days", lower="0 days", upper="90 days", how="left_outer",
    )
    out = j.select(
        "o_orderkey", "o_custkey", "l_linenumber", "l_extendedprice", "l_shipdate"
    )
    name = _fresh_name("s23_out")
    runner.run_to_memory(
        out, name, "append", state_partitions=_interval_join_shards(sf)
    )
    return spark.table(name).filter(F.col("o_orderkey") >= 0)


_S23_SQL = """
SELECT o.o_orderkey, o.o_custkey, l.l_linenumber, l.l_extendedprice, l.l_shipdate
FROM orders o LEFT JOIN lineitem l
  ON o.o_orderkey = l.l_orderkey
 AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 90 DAY
"""


# s24 — streaming star-schema rollup (x69 live): the classic streaming-
# enrichment dashboard — the lineitem FACT arrives as a stream and flows
# through the SAME four chained broadcast dimension joins x69 uses
# (`joins/stream_ktable/StreamTableJoinExample.java:151-155` is the
# reference's stream⋈table enrichment pattern, here at dimension count
# 4), into a complete-mode (region, nation, brand) rollup. Stream-static
# inner joins are STATELESS — each micro-batch's facts join the
# broadcast dims and die — so the only state is the ≤|region×nation×
# brand|-row aggregate, and the exact-integer cents/qty sums make the
# final state hash-equal to x69's batch oracle regardless of micro-batch
# boundaries. One shared `star_rollup` definition keeps the two sides
# op-for-op identical (the nb_bucketize/nb_score precedent).

def _s24(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.catalog_ext import (
        star_rollup,
        star_rollup_dims,
    )

    stream = _s24_items_replay(spark, sf)
    rolled = star_rollup(stream, *star_rollup_dims(spark, sf))
    name = _fresh_name("s24_out")
    runner.run_to_memory(rolled, name, "complete")
    return spark.table(name)


def _s24_sql() -> str:
    from kafka_streams_learning_spark.catalog_ext import _X69_SQL

    return _X69_SQL


STREAMING_QUERIES: list[QuerySpec] = [
    QuerySpec("s01_stream_count_by_key", _s01, _S01_SQL,
              "running count per key through the streaming engine (A1)"),
    QuerySpec("s02_stream_tumbling_count", _s02, _S02_SQL,
              "tumbling-window count through the streaming engine (A3)"),
    QuerySpec("s03_stream_fraud_alerts", _s03, _S03_SQL,
              "stateful alert operator through the streaming engine (A5)"),
    QuerySpec("s04_stream_interval_join", _s04, _S04_SQL,
              "watermarked stream-stream interval join (J2)"),
    QuerySpec("s05_stream_ktable_enrich", _s05, _S05_SQL,
              "changing-dimension KTable enrichment (J1+S3, §7.4b)"),
    QuerySpec("s06_stream_sliding_count", _s06, _S06_SQL,
              "event-anchored sliding count via keyed state (A4, §7.5ii)"),
    QuerySpec("s07_stream_session_count", _s07, _S07_SQL,
              "session-window count with watermark finalization (§2.7)"),
    QuerySpec("s08_stream_exact_dedup", _s08, _S08_SQL,
              "streaming exact-dedup state (x04 maintained incrementally)"),
    QuerySpec("s09_stream_asof_enrich", _s09, _s09_sql(),
              "streaming as-of self-enrichment via O(1) keyed state (x22 twin)"),
    QuerySpec("s10_stream_hopping_count", _s10, _s10_sql(),
              "hopping-window count through the streaming engine (§2.7)"),
    QuerySpec("s11_stream_quantile_stats", _s11, _s11_sql(),
              "per-key exact quantile stats through the streaming engine "
              "(x24 twin; GK-sketch variant bounds-tested)"),
    QuerySpec("s12_stream_asof_unordered", _s12, _s09_sql(),
              "as-of enrichment under shuffled arrival via the watermark "
              "reorder buffer (ordered-arrival contract as code)"),
    QuerySpec("s13_stream_token_topk", _s13, _s13_sql(),
              "global token top-k over incrementally maintained counts "
              "(x05 twin through the streaming engine)"),
    QuerySpec("s14_stream_stateless_map", _s14, _s14_sql(),
              "stateless per-record map through the streaming engine "
              "(q01/P1 twin — append mode, no state store)"),
    QuerySpec("s15_stream_neardup_filter", _s15, _s15_sql(),
              "streaming MinHash-LSH near-dup groups: expression-only "
              "signature, one stateful bucket aggregation (x06/x11 twin)"),
    QuerySpec("s16_stream_quality_score", _s16, _s16_sql(),
              "stream-static join: document stream scored against the "
              "batch-trained unigram LM (x43 twin)"),
    QuerySpec("s17_stream_hll_cardinality", _s17, _s17_sql(),
              "streaming HyperLogLog register maintenance, estimate "
              "read from final state (x54 twin)"),
    QuerySpec("s18_stream_cms_frequencies", _s18, _s18_sql(),
              "streaming Count-Min counter maintenance, estimates "
              "probed from final state (x58 twin)"),
    QuerySpec("s19_stream_histogram_quantiles", _s19, _s19_sql(),
              "streaming histogram-quantile maintenance on a "
              "batch-frozen grid (x60 twin)"),
    QuerySpec("s20_stream_sliding_unordered", _s20, _S06_SQL,
              "sliding count under shuffled arrival via the watermark "
              "reorder buffer (s06 without the ordered-arrival caveat)"),
    QuerySpec("s21_stream_decontamination", _s21, _s21_sql(),
              "streaming decontamination: batch-frozen Bloom probed as "
              "pure expressions on the document stream (x59 twin)"),
    QuerySpec("s22_stream_nb_classifier", _s22, _s22_sql(),
              "streaming quality gate: batch-frozen hashed-NB classifier "
              "scoring the document stream (x67 twin)"),
    QuerySpec("s23_stream_outer_interval_join", _s23, _S23_SQL,
              "left-outer watermarked interval join with NULL emission "
              "flushed by the watermark (windowed leftJoin, s04's outer "
              "sibling)"),
    QuerySpec("s24_stream_star_rollup", _s24, _s24_sql(),
              "streaming star-schema rollup: the lineitem fact stream "
              "through four broadcast dims into a complete-mode rollup "
              "(x69 twin)"),
]
