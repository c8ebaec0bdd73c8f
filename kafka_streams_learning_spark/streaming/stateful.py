"""Custom stateful streaming operators (SURVEY §2.6 A5, §2.10, §7.5).

`fraud_alert_stream` re-expresses the reference's Processor-API fraud
detector (`processor/FraudProcessor.java:36-84`) Spark-natively: keyed
state holds one counter per customer (the explicit KeyValueStore,
`:51-53`); each qualifying record increments it and, once the counter
*exceeds* `alert_after`, an alert row is emitted per record
(`context.forward`, `:61-83`). State is partitioned by key across
executors and checkpointed (the changelog-topic equivalent,
`FraudProcessor.java:22`); each micro-batch touches only the keys present
in the batch, Arrow-batched — no per-row Python round-trips.

Implementation: `applyInPandasWithState` (stable since Spark 3.4). Three
builders, one per semantic: `fraud_alert_stream`, `sliding_count_stream`
and `asof_join_stream`. Every shard-keyed form — the fraud alerts'
`impl="sharded"` arm, and the sliding count and as-of join with or
without a `disorder=` bound — is one call to `_shard_keyed_state`, which
owns the `_shard` column, the optional watermark + EventTimeTimeout, the
state-budget default and the shard-count tag. The sliding count and the
as-of join share one reorder-buffer loop (`_reorder_buffer_fn`).

Operational contracts (apply to every shard-keyed operator):

- **Shard count is part of the checkpoint format.** The state key is
  the label of shard `hash(user_id) % n_shards` (`shard_labels`);
  restarting an existing checkpoint with a different `n_shards` re-hashes
  users onto other shards and silently orphans their state.
  `pin_shard_count(checkpoint_dir, n_shards)` persists the count and its
  labels next to the checkpoint and fails fast on a mismatch;
  `runner.run_to_memory` calls it from the operator's output tag.
- **Checkpoint format breaks (r11, r12, r16).** The r11 shard re-keying
  changed the grouping key (user_id → _shard) and both state schemas;
  r12 re-typed the shard state columns from array<long>/array<string>
  to packed binary blobs (see the note at `_SLIDING_STATE_SCHEMA`:
  list-typed state made the JVM-side pickle decode quadratic in buffer
  length under key skew);
  r16 replaced the plain shard ids 0..n-1 with hash-placed labels and
  the default count 32 with `STATE_SHARDS` (see `shard_labels`), and
  `pin_shard_count` refuses a marker without the new labels.
  Checkpoints written by earlier versions cannot restart on this code —
  restarts need fresh checkpoints. (Catalog/bench runs always create
  fresh checkpoints.)
- **Negative `event_id` is reserved.** Rows with `event_id < 0` are
  replay flush sentinels (watermark carriers) and are DROPPED by every
  operator in this module before processing — a caller with legitimate
  negative ids must remap them first.
- **`_max_composite` is diagnostics-only.** It is the int64-overflow
  threshold at which the composite-key release math falls back to the
  exact user-split recursion; tests and the skew probe LOWER it to force
  the split path on ordinary data and pin its parity against the
  unsplit result. Production callers never set it.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import lru_cache, partial

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState

from kafka_streams_learning_spark.streaming.runner import STATE_SHARDS

ALERT_OUTPUT_SCHEMA = (
    "key string, record_id long, amount double, running_cnt long, alert string"
)
_STATE_SCHEMA = "cnt long"


def _alert_fn(threshold: float, alert_after: int):
    """Per-key alert walk. A key's micro-batch is sorted by ts/id — the
    streaming analogue of the batch oracle's ORDER BY. The counter is a
    pure running count over qualifying rows, so the walk vectorizes:
    threshold filter, then cumsum offset by the checkpointed count — no
    per-row Python."""

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        key_val = key[0]
        cnt = state.get[0] if state.exists else 0
        # concat chunks BEFORE sorting — a key's micro-batch may span
        # multiple Arrow chunks (per-chunk sorts would interleave)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["ts", "record_id"])
        amounts = pdf["amount"].to_numpy(dtype="float64")
        qual = pdf[amounts >= threshold]  # below-gate records don't count (:41-43)
        running = cnt + np.arange(1, len(qual) + 1, dtype="int64")
        state.update((cnt + len(qual),))
        fire = running > alert_after  # strictly >, fires from the 4th (:61)
        if not fire.any():
            return
        rc = running[fire]
        yield pd.DataFrame(
            {
                "key": key_val,
                "record_id": qual["record_id"].to_numpy(dtype="int64")[fire],
                "amount": qual["amount"].to_numpy(dtype="float64")[fire],
                "running_cnt": rc,
                "alert": (
                    f"High-value order streak for {key_val}: "
                    + pd.Series(rc).astype(str)
                    + f" orders >= {threshold:.0f}"
                ).to_numpy(),
            }
        )

    return fn


def fraud_alert_stream(
    df: DataFrame,
    key_col: str,
    threshold: float,
    alert_after: int = 3,
    impl: str = "apply",
    n_shards: int = STATE_SHARDS,
    _max_state_bytes: int | None = None,
) -> DataFrame:
    """Streaming fraud alerts over a stream with columns
    (key_col, record_id, amount, ts). Emits one alert row per qualifying
    record from the (alert_after+1)-th onward, exactly once per record.
    Null-keyed records are DROPPED at entry in both arms — the Kafka
    Streams groupByKey semantics (ref processor/FraudDetectionApp.java:104
    groups by user id; Kafka Streams discards null-key records at
    repartition/groupBy) — so the impl choice can never change emitted
    rows, on dirty input too (ADVICE r13). Each micro-batch is walked in
    (ts, record_id) order per key; cross-batch order is arrival order.

    `impl` selects the state keying: "apply" (default) = one
    `applyInPandasWithState` group per key, the reference the sharded
    arm's parity tests compare against; "sharded" = the key re-keyed
    onto `n_shards` bounded shards (`_sharded_alert_fn`) — the
    high-key-cardinality arm: r13 sweep 9 measured the per-key arm at
    ~200 µs per distinct key per batch (170 s at 1M events over 150k
    keys), where the sharded arm's invocation count is shard-bound. The
    per-key arm ignores `n_shards` and `_max_state_bytes`; its state key
    is the user key itself.

    RESTART INVARIANT (sharded arm): `n_shards` is part of the
    checkpoint format (`pin_shard_count` — auto-pinned via the output
    tag)."""
    from pyspark.sql import functions as F

    if impl not in ("apply", "sharded"):
        raise ValueError(f"impl must be apply|sharded, got {impl!r}")
    df = df.where(F.col(key_col).isNotNull())
    if impl == "apply":
        return df.groupBy(key_col).applyInPandasWithState(
            _alert_fn(threshold, alert_after),
            outputStructType=ALERT_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    return _shard_keyed_state(
        df.select(
            F.col(key_col).cast("string").alias("key"),
            "record_id", "amount", "ts",
        ),
        "key", n_shards,
        partial(_sharded_alert_fn, threshold, alert_after),
        ALERT_OUTPUT_SCHEMA, _SHARDED_ALERT_STATE_SCHEMA,
        max_state_bytes=_max_state_bytes,
    )


# Shard labels. Re-keying onto a bounded shard count makes group
# invocations O(shards × batches), independent of key cardinality (the
# r10 probe, BENCH_NOTES sweep 6, measured ~200 µs per per-user group
# invocation). The shard count defaults to `runner.STATE_SHARDS`, so a
# state partition holds STATE_SHARDS / partitions groups, whatever the
# host. The `_shard` VALUES are chosen so Spark's hash partitioning
# spreads them evenly: a stateful operator's group lands on state
# partition pmod(murmur3(_shard, 42), P), and the plain ids 0..31 that
# earlier versions used put 14/7/6/5 groups on the 4 partitions of a
# 4-core host (6/3/3/2/8/4/3/3 on 8), so one task of every trigger
# carried ~44% of the rows and finished last. Label i is the smallest
# non-negative long that hashes to i mod n, so for any P dividing n
# every partition holds exactly n/P groups. Like the count, the labels
# are part of the checkpoint format (`pin_shard_count`).
_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _murmur3_mix(h1: int, k1: int) -> int:
    k1 = _rotl32((k1 * 0xCC9E2D51) & _M32, 15) * 0x1B873593 & _M32
    return (_rotl32(h1 ^ k1, 13) * 5 + 0xE6546B64) & _M32


def _murmur3_long(value: int, seed: int = 42) -> int:
    """Spark's `Murmur3_x86_32.hashLong(value, seed)`: the hash that
    `HashPartitioning` and SQL `hash()` apply to a bigint, as a signed
    32-bit int."""
    v = value & 0xFFFFFFFFFFFFFFFF
    h = _murmur3_mix(_murmur3_mix(seed, v & _M32), v >> 32) ^ 8
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


@lru_cache(maxsize=None)
def shard_labels(n_shards: int) -> tuple[int, ...]:
    """The `_shard` value of each of `n_shards` shards: label i is the
    smallest non-negative long with pmod(murmur3(label, 42), n) == i."""
    labels: list[int | None] = [None] * n_shards
    missing, x = n_shards, 0
    while missing:
        i = _murmur3_long(x) % n_shards
        if labels[i] is None:
            labels[i] = x
            missing -= 1
        x += 1
    return tuple(labels)


_SHARDED_ALERT_STATE_SCHEMA = "keys binary, cnts binary"


def _sharded_alert_fn(threshold: float, alert_after: int,
                      max_state_bytes: int):
    """Shard-group walk for `fraud_alert_stream(impl="sharded")`: the whole
    shard's micro-batch in ONE vectorized pass (sort by (key, ts,
    record_id), segmented cumsum of qualifying rows offset by each key's
    checkpointed count), so invocations are O(shards × batches) instead
    of O(distinct keys × batches). Emitted rows are bit-identical to
    `_alert_fn`'s per-key output: the per-key row order inside a
    (key, ts, record_id) sort IS _alert_fn's (ts, record_id) sort, and
    counts are per-key affairs — keys can't interact."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        import numpy as np

        if state.exists:
            k_blob, c_blob = state.get
            keys0 = _unpack_str(k_blob)
            cnts0 = _unpack_i64(c_blob)
        else:
            keys0 = np.empty(0, object)
            cnts0 = np.empty(0, "int64")
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts,
                                                         ignore_index=True)
        qual = pdf[pdf["amount"].to_numpy(dtype="float64") >= threshold]
        qual = qual.sort_values(["key", "ts", "record_id"])
        qk = qual["key"].to_numpy(dtype=object)
        if len(qk):
            # segment ids over the key-sorted qualifying rows
            brk = qk[1:] != qk[:-1]
            seg_id = np.cumsum(np.concatenate(([0], brk.astype("int64"))))
            seg_start = np.flatnonzero(
                np.concatenate(([True], brk))
            )
            seg_keys = qk[seg_start]
            # checkpointed base count per segment key (0 when unseen)
            if len(keys0):
                idx = np.minimum(
                    np.searchsorted(keys0, seg_keys), len(keys0) - 1
                )
                base = np.where(keys0[idx] == seg_keys, cnts0[idx], 0)
            else:
                base = np.zeros(len(seg_keys), "int64")
            pos = np.arange(len(qk), dtype="int64")
            within = pos - seg_start[seg_id] + 1
            running = base[seg_id] + within
            # new per-key totals, merged into the shard's key set
            seg_end = np.concatenate((seg_start[1:], [len(qk)]))
            new_cnts = base + (seg_end - seg_start)
            merged_keys = np.concatenate((keys0, seg_keys))
            merged_cnts = np.concatenate((cnts0, new_cnts))
            order = np.argsort(merged_keys, kind="stable")
            mk, mc = merged_keys[order], merged_cnts[order]
            # stable sort puts the UPDATED entry after the stale one for
            # a duplicate key — keep the LAST occurrence
            keep_last = np.concatenate((mk[1:] != mk[:-1], [True]))
            keys0, cnts0 = mk[keep_last], mc[keep_last]

            fire = running > alert_after
            if fire.any():
                rc = running[fire]
                fk = qk[fire]
                alert = (
                    "High-value order streak for "
                    + pd.Series(fk, dtype=object)
                    + ": "
                    + pd.Series(rc).astype(str)
                    + f" orders >= {threshold:.0f}"
                ).to_numpy(dtype=object)
                out = pd.DataFrame(
                    {
                        "key": fk,
                        "record_id": qual["record_id"].to_numpy("int64")[fire],
                        "amount": qual["amount"].to_numpy("float64")[fire],
                        "running_cnt": rc,
                        "alert": alert,
                    }
                )
            else:
                out = None
        else:
            out = None
        blobs = (_pack_str(keys0), _pack_i64(cnts0))
        _check_state_budget(blobs, max_state_bytes)
        state.update(blobs)
        if out is not None:
            yield out

    return fn


def _shard_keyed_state(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    make_fn,
    output_schema: str,
    state_schema: str,
    disorder: str | None = None,
    max_state_bytes: int | None = None,
) -> DataFrame:
    """The one builder behind every shard-keyed operator: re-key `df`
    onto shard label `shard_labels(n_shards)[pmod(xxhash64(key_col),
    n_shards)]`, run the group fn
    `make_fn(max_state_bytes=...)` per shard through
    `applyInPandasWithState`, and tag the result with `n_shards`.

    With a `disorder` (a time-interval string) the stream is watermarked
    on `ts` by that delay and shards time out on event time, so buffered
    rows flush as the watermark advances even when a shard receives no
    new data; without one the operator is ordered-arrival and needs no
    timeout. `max_state_bytes` defaults to `MAX_STATE_BYTES_PER_SHARD`.

    The tag is a plain Python attribute that `runner.run_to_memory`
    reads to pin the checkpoint's shard count (ADVICE r12: callers that
    had to thread the count through by hand forgot to). Any further
    transformation creates a NEW DataFrame object and drops it, which is
    the safe direction: an untagged stateful plan triggers the runner's
    warning instead of a possibly-wrong auto-pin."""
    from pyspark.sql import functions as F

    labels = F.array(*map(F.lit, shard_labels(n_shards))).cast("array<bigint>")
    sharded = df.withColumn(
        "_shard",
        F.element_at(
            labels, (F.pmod(F.xxhash64(key_col), F.lit(n_shards)) + 1).cast("int")
        ),
    )
    if disorder is not None:
        sharded = sharded.withWatermark("ts", disorder)
    out = sharded.groupBy("_shard").applyInPandasWithState(
        make_fn(max_state_bytes=max_state_bytes or MAX_STATE_BYTES_PER_SHARD),
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout" if disorder is None else "EventTimeTimeout",
    )
    out._ksl_shard_count = n_shards
    return out


def pin_shard_count(checkpoint_dir: str, n_shards: int) -> None:
    """Persist the shard count and its labels alongside a checkpoint and
    fail fast on mismatch (ADVICE r11): both are part of the checkpoint
    FORMAT for the shard-keyed operators — the state key is the label of
    shard `hash(user_id) % n_shards`, so restarting an existing
    checkpoint with a different count or labelling silently re-hashes
    users onto other shards and orphans their state, producing wrong
    counts/matches with no error.

    Writes `ksl-shard-count.json` into `checkpoint_dir` on first use and
    raises ValueError if a later start supplies a different count, or if
    the marker's labels differ from `shard_labels(n_shards)` or are
    missing (a marker written before r16 keyed shards on the plain ids
    0..n-1) — the same pin-at-first-checkpoint discipline Spark applies
    to `spark.sql.shuffle.partitions` for stateful queries. A checkpoint
    that already has offsets but no marker predates the pin: the count
    cannot be verified, so a warning is logged and the marker is written
    with the supplied value."""
    import json
    import logging
    import os

    labels = list(shard_labels(n_shards))
    marker = os.path.join(checkpoint_dir, "ksl-shard-count.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            pinned = json.load(fh)
        if pinned["n_shards"] != n_shards:
            raise ValueError(
                f"checkpoint {checkpoint_dir} was written with "
                f"n_shards={pinned['n_shards']}; restarting with "
                f"n_shards={n_shards} would orphan existing shard state — "
                "use the pinned count or start a fresh checkpoint"
            )
        if pinned.get("labels") != labels:
            raise ValueError(
                f"checkpoint {checkpoint_dir} was written with shard labels "
                f"{pinned.get('labels')} (None: before r16, shards were "
                f"keyed on their ids); this code keys n_shards={n_shards} "
                f"on {labels}, which would orphan existing shard state — "
                "start a fresh checkpoint"
            )
        return
    if os.path.isdir(os.path.join(checkpoint_dir, "offsets")):
        logging.getLogger(__name__).warning(
            "checkpoint %s predates the shard-count pin; assuming "
            "n_shards=%d and writing the marker", checkpoint_dir, n_shards,
        )
    os.makedirs(checkpoint_dir, exist_ok=True)
    with open(marker, "w") as fh:
        json.dump({"n_shards": n_shards, "labels": labels}, fh)


SLIDING_OUTPUT_SCHEMA = "user_id long, event_id long, ts timestamp, cnt long"


def sliding_count_stream(
    df: DataFrame,
    lookback_micros: int,
    disorder: str | None = None,
    n_shards: int = STATE_SHARDS,
    _max_composite: int = 2**62,
    _max_state_bytes: int | None = None,
) -> DataFrame:
    """Streaming event-anchored sliding count (SURVEY §2.6 A4, §7.5ii):
    the Kafka `SlidingWindows` semantic (`CreditCardTransactions.java:
    117-120`) as a custom stateful operator — for each event, the count of
    same-key events in `[ts - lookback, ts]`. The batch equivalent is the
    range self-join (`operators/sliding.py`, q05); this variant keeps a
    per-key timestamp buffer bounded by the lookback (state size =
    events-in-window per key, evicted as event time advances), trading the
    self-join's shuffle for O(window) keyed state — the low-latency path.

    `disorder` is the stream's arrival contract:
    - None (catalog row s06): per-key event-time-ordered arrival, the
      replay source's contract. Every row processes in its arrival batch
      (no watermark, no pending buffer, no timeout); only the per-user
      lookback windows are carried. Equal-timestamp events are counted
      symmetrically (each sees the whole tie group, matching the batch
      oracle) when they arrive in the same micro-batch; a tie split
      across micro-batches counts asymmetrically — inherent to
      append-only emission.
    - a time-interval string, e.g. "1 hour" (catalog row s20, a ±6 h
      hash-jittered replay of the events fixture): rows may arrive up to
      `disorder` later than the maximum event time already seen. `ts` is
      watermarked by that delay; rows are buffered in shard state and
      processed in exact (ts, event_id) order once the watermark passes
      them. Emissions are delayed by up to `disorder` + one micro-batch
      but are bit-identical to ordered arrival (and to the batch oracle)
      for any arrival order within the bound; later rows are dropped by
      Spark's standard late-data filtering — the same grace contract as
      the windowed aggregations.

    State is keyed by `hash(user_id) % n_shards`, NOT per user: the
    second-decade probe (BENCH_NOTES sweep 6) measured per-user keying at
    ~200 µs of invocation overhead per (key × micro-batch), which at 150k
    users dominated end-to-end cost 10:1. Per-user semantics are preserved
    inside the shard by segmented binary search (composite keys). Shard
    state stays bounded: pending ≈ disorder × shard arrival rate, window
    buffers ≈ lookback × shard rate. Negative event_ids are reserved for
    replay flush sentinels and are dropped.

    RESTART INVARIANT: `n_shards` is part of the checkpoint format — it
    must not change across restarts of one checkpoint (see module
    docstring / `pin_shard_count`).

    Input columns: (user_id, event_id, ts)."""
    return _shard_keyed_state(
        df, "user_id", n_shards,
        partial(_sliding_shard_fn, lookback_micros,
                release_all=disorder is None, max_composite=_max_composite),
        SLIDING_OUTPUT_SCHEMA, _SLIDING_STATE_SCHEMA,
        disorder=disorder, max_state_bytes=_max_state_bytes,
    )


ASOF_OUTPUT_SCHEMA = (
    "event_id long, user_id long, ts timestamp, event_type string, "
    "last_purchase_ts timestamp, last_purchase_id long, "
    "micros_since_purchase long"
)


def asof_join_stream(
    df: DataFrame,
    match_type: str = "purchase",
    disorder: str | None = None,
    n_shards: int = STATE_SHARDS,
    _max_composite: int = 2**62,
    _max_state_bytes: int | None = None,
) -> DataFrame:
    """Streaming point-in-time (as-of) self-enrichment — the streaming
    twin of the batch as-of join (`operators/joins.asof_join`, x22): each
    event is tagged with the key's latest STRICTLY-earlier `match_type`
    event. Carried state is one (ts, id) pair per key that has matched —
    versus the batch form's union+window shuffle; this is the
    feature-store lookup shape at serving latency. Emissions concatenated
    across micro-batches equal the batch result (append-mode streaming ≡
    batch once input is exhausted), which is what the oracle hashes.

    `disorder` is the arrival contract, as in `sliding_count_stream`:
    - None (catalog row s09): per-key event-time-ordered arrival
      (`stage_replay_chunks` never splits an equal-event-time run across
      chunks); every row processes in its arrival batch. Same-timestamp
      runs that DO straddle a micro-batch boundary are still handled
      exactly: enrichment is guarded strictly (state pts < run ts) and a
      tie fold MERGES max ids instead of replacing state.
    - a time-interval string (catalog row s12): the watermark-driven
      reorder buffer releases rows in exact (ts, event_id) order once the
      watermark proves their run complete; emissions are bit-identical to
      ordered arrival and the batch x22 oracle for any arrival order
      within the bound, and later rows are dropped by Spark's late-data
      filtering.

    Sharded like `sliding_count_stream`: per-user as-of matching runs as
    one segmented binary search across the shard. Negative event_ids are
    reserved for replay flush sentinels and are dropped.

    RESTART INVARIANT: `n_shards` is part of the checkpoint format — it
    must not change across restarts of one checkpoint (see module
    docstring / `pin_shard_count`).

    Input columns: (event_id, user_id, ts, event_type)."""
    return _shard_keyed_state(
        df, "user_id", n_shards,
        partial(_asof_shard_fn, match_type, release_all=disorder is None,
                max_composite=_max_composite),
        ASOF_OUTPUT_SCHEMA, _ASOF_STATE_SCHEMA,
        disorder=disorder, max_state_bytes=_max_state_bytes,
    )


# --- shard-keyed stateful machinery: sliding windows + as-of, ordered and
# --- reordered arrival ---------------------------------------------------
#
# One reorder-buffer loop (`_reorder_buffer_fn`) serves both semantics in
# both arrival modes. Without a `disorder` bound the builders run it with
# release_all=True: every row processes in its arrival batch — the
# per-key ordering guarantee the reference gets for free from Kafka topic
# partitioning (`joins/StreamStreamJoinExample.java:131-141`: one key, one
# partition, offset order = append order). With one they run it under a
# watermark: incoming rows are buffered in shard state and
# only released — (user, ts, id)-sorted, in complete equal-timestamp
# runs — once the watermark proves no earlier row can still arrive. Spark
# drops rows older than the watermark before the operator (standard
# late-data filtering), so releasing strictly-below-watermark runs is
# exact: the released prefix is bit-identical to what ordered arrival
# would have fed. EventTimeTimeout re-invokes buffering shards as the
# watermark advances, so pending rows flush even in batches where a shard
# receives no new data.
#
# State is O(pending) = rows within one disorder bound — the same bound a
# watermarked stream-stream join holds — plus the per-user carries
# (lookback windows / latest-match pairs), all held per SHARD: group
# invocations are O(shards × batches), never O(users × batches), and the
# per-user semantics are preserved inside the shard by segmented binary
# search over composite keys (BENCH_NOTES r11 sweep 6 for the measured
# why).


# Shard state is stored as PACKED BINARY blobs, not array<long> columns
# (r12). The state round-trip for applyInPandasWithState moves values as
# pickle: a large list-typed column makes the JVM-side unpickle QUADRATIC
# in list length (net.razorvine.pickle Unpickler.load_appends calls
# ArrayList.trimToSize — a full array copy — once per ~1000-item APPENDS
# frame; the r12 skew probe measured one executor thread burning minutes
# of CPU there once a hot key pushed a shard's buffers into the 10^5-10^6
# range). A binary column unpickles as ONE byte[] copy, so the packed
# encoding keeps the state round-trip linear no matter how skewed the
# keys are: int64 arrays pack to raw little-endian bytes
# (np.ndarray.tobytes / np.frombuffer), string arrays to a pickled list
# the JVM never parses. CHECKPOINT FORMAT BREAK (r12): checkpoints
# written by the array<long>-typed r11 state cannot restart on this
# code (see module docstring).
_SLIDING_STATE_SCHEMA = (
    "buf_u binary, buf_t binary, "
    "pend_u binary, pend_t binary, pend_id binary"
)
_ASOF_STATE_SCHEMA = (
    "pu_u binary, pu_t binary, pu_id binary, "
    "pend_u binary, pend_t binary, pend_id binary, "
    "pend_type binary"
)


def _pack_i64(a) -> bytes:
    """int64 numpy array -> raw little-endian bytes (linear, no pickle
    list framing)."""
    import numpy as np

    return np.ascontiguousarray(a, dtype="<i8").tobytes()


def _unpack_i64(b) -> "np.ndarray":
    """Inverse of _pack_i64. Returns a read-only view over the state
    bytes — every downstream op here (mask-index, concatenate, lexsort)
    allocates fresh arrays, nothing mutates in place."""
    import numpy as np

    if not b:
        return np.empty(0, "int64")
    return np.frombuffer(b, dtype="<i8")


def _pack_str(a) -> bytes:
    """object/str numpy array -> dictionary-encoded blob. Event-type
    columns have tiny vocabularies, so (vocab, uint16 codes) is ~8x
    smaller than a pickled string list — and state SIZE matters more
    than usual here: applyInPandasWithState re-serializes the full
    state value into every input chunk's state-info row, so each state
    byte is re-sent rows/chunk times per micro-batch. Falls back to a
    raw pickled list when a shard's pending vocabulary exceeds uint16
    (tag "r"). The JVM stores the blob opaquely either way."""
    import pickle

    import numpy as np
    import pandas as pd

    if not len(a):
        return b""
    arr = np.asarray(a, dtype=object)
    codes, vocab = pd.factorize(arr)
    if (codes == -1).any():
        # factorize encodes null/NaN as code -1; astype('<u2') would wrap
        # it to 65535 and _unpack_str would index past the vocab AFTER the
        # corrupt blob is checkpointed. The raw fallback would instead
        # stringify None, silently diverging from this path. Fail at pack
        # time, before anything reaches the state store.
        raise ValueError(
            "null value in a string state column reaching _pack_str; "
            "string state (e.g. event_type) must be non-null — filter or "
            "coalesce upstream before the stateful operator."
        )
    if len(vocab) < 65535:
        return pickle.dumps(
            ("d", [str(x) for x in vocab], codes.astype("<u2").tobytes()),
            protocol=4,
        )
    return pickle.dumps(("r", [str(x) for x in arr]), protocol=4)


def _unpack_str(b) -> "np.ndarray":
    import pickle

    import numpy as np

    if not b:
        return np.empty(0, object)
    obj = pickle.loads(b)
    if obj[0] == "r":
        return np.asarray(obj[1], dtype=object)
    _tag, vocab, codes = obj
    return np.asarray(vocab, dtype=object)[np.frombuffer(codes, "<u2")]


# Hard budget on one shard's packed state (512 MiB). Spark's
# applyInPandasWithState transport re-serializes a group's FULL state
# into every input Arrow chunk's state-info row, and its single-buffer
# input writer degrades to copy-per-write past ~1 GiB of buffered input
# (DirectByteBufferOutputStream's doubling overflows Int32) — in
# practice an unbounded livelock, not an error. A shard whose packed
# state crosses this budget is therefore guaranteed to be heading for
# that cliff on its next big batch; failing LOUDLY with sizing guidance
# beats hanging a cluster. The r12 skew probe hit exactly this with a
# 50%-hot-key decade before the budget existed (BENCH_NOTES r12).
MAX_STATE_BYTES_PER_SHARD = 512 << 20


def _check_state_budget(blobs, max_state_bytes: int) -> None:
    total = sum(len(b) for b in blobs)
    if total > max_state_bytes:
        raise RuntimeError(
            f"shard state is {total >> 20} MiB packed, over the "
            f"{max_state_bytes >> 20} MiB per-shard budget: Spark's "
            "state transport re-sends the full state per input chunk "
            "and livelocks past ~1 GiB of buffered input. Reduce rows "
            "per micro-batch (trigger cadence), raise n_shards, or "
            "raise arrow_batch_rows so chunks-per-group stays small."
        )


def _collect_chunks(pdfs: Iterator[pd.DataFrame], cols: list[str]):
    """Gather a shard-group's micro-batch chunks into per-column numpy
    arrays, dropping flush sentinels (event_id < 0 — watermark carriers
    only). `ts` is delivered as datetime64[ns] and converted to
    event-time micros."""
    parts: list[pd.DataFrame] = []
    for p in pdfs:
        if len(p):
            keep = p[p["event_id"] >= 0]
            if len(keep):
                parts.append(keep)
    if not parts:
        return None
    pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
    out = []
    for c in cols:
        if c == "ts":
            out.append(pdf["ts"].to_numpy("datetime64[ns]").astype("int64") // 1000)
        elif c == "event_type":
            out.append(pdf[c].to_numpy(object))
        else:
            out.append(pdf[c].to_numpy("int64"))
    return out


def _composite(u_rank, t, base: int, span: int):
    """Segmented-array key: rank(user) * span + (t - base). With
    span > (t_max - base) + lookback + 2, per-user time windows never
    cross segment boundaries, so ONE global `searchsorted` answers every
    per-user range query at once. int64 overflow is guarded by the
    caller (ranks × span bounded before use)."""
    return u_rank * span + (t - base)


def _sliding_release(ru, rt, tb_u, tb_t, lookback_micros: int,
                     max_composite: int = 2**62):
    """Pure release-step math for the sliding count: given released rows
    (`ru`, `rt`) lexsorted by (user, ts, id) and the touched users'
    carried window buffers (`tb_u`, `tb_t`) sorted by (user, ts), return
    (cnt aligned to the released rows, new buffer users, new buffer
    times — (user, ts)-sorted).

    The count for a released row at time t is #{x : t-Δ ≤ x ≤ t} over
    that user's buffer + this release — two binary searches on the
    composite array ('right' makes equal-ts runs symmetric, 'left' keeps
    the window inclusive at both ends, matching the batch oracle). If
    rank × span would overflow int64 (pathological time ranges), the
    user set splits in half and recurses — per-user results are
    independent, so the split is exact and always terminates (a single
    user needs a >73,000-year time range to overflow)."""
    import numpy as np

    users = np.unique(ru)  # sorted
    lo = int(min(rt.min(), tb_t.min()) if len(tb_t) else rt.min())
    hi = int(max(rt.max(), tb_t.max()) if len(tb_t) else rt.max())
    span = hi - lo + lookback_micros + 2
    if (len(users) + 1) * span > max_composite:
        if len(users) == 1:
            raise OverflowError(
                f"single-user composite span {span} overflows int64"
            )
        s = int(np.searchsorted(ru, users[len(users) // 2]))
        b = int(np.searchsorted(tb_u, users[len(users) // 2]))
        cl, nul, ntl = _sliding_release(
            ru[:s], rt[:s], tb_u[:b], tb_t[:b], lookback_micros, max_composite
        )
        cr, nur, ntr = _sliding_release(
            ru[s:], rt[s:], tb_u[b:], tb_t[b:], lookback_micros, max_composite
        )
        # user ranges are disjoint and ordered, so concatenation
        # preserves the global (user, ts) sort
        return (
            np.concatenate([cl, cr]),
            np.concatenate([nul, nur]),
            np.concatenate([ntl, ntr]),
        )
    rel_c = _composite(np.searchsorted(users, ru), rt, lo, span)
    tb_c = _composite(np.searchsorted(users, tb_u), tb_t, lo, span)
    comb_c = np.sort(np.concatenate([tb_c, rel_c]))
    cnt = np.searchsorted(comb_c, rel_c, "right") - np.searchsorted(
        comb_c, rel_c - lookback_micros, "left"
    )
    # new buffer per touched user: entries within the lookback of that
    # user's NEWEST released time
    last_idx = np.searchsorted(ru, users, "right") - 1
    thr_c = _composite(
        np.arange(len(users), dtype="int64"),
        rt[last_idx] - lookback_micros,
        lo,
        span,
    )
    keep = comb_c >= thr_c[comb_c // span]
    kept_c = comb_c[keep]
    return cnt, users[kept_c // span], kept_c % span + lo


def _asof_release(ru, rt, ri, is_p, su_u, su_t, su_id,
                  max_composite: int = 2**62):
    """Pure release-step math for the as-of enrichment: released rows
    (`ru`, `rt`, `ri`) lexsorted by (user, ts, id) with purchase mask
    `is_p`, plus the carried latest purchase per touched user (`su_*`,
    user-sorted). Returns (lp_t, lp_id, vis — aligned to released rows;
    nu, nt, nid — the new latest purchase per user that has one,
    user-sorted).

    Candidate purchases per user = carried latest + this release's
    purchase rows, (u, ts, id)-lexsorted; each event's match is
    `searchsorted(candidates, event, 'left') - 1` on composite keys —
    the last purchase STRICTLY before the event (the oracle's
    p.pts < e.ts: a purchase never enriches a same-timestamp event,
    including itself; equal-(u, ts) purchase runs resolve to max id via
    the lexsort). Times rebase to a batch-local origin (carried
    purchases can be OLDER than anything released); if rank × span
    would still overflow int64, the user set splits in half and
    recurses — per-user independence makes the split exact."""
    import numpy as np

    users = np.unique(ru)
    have_su = len(su_t) > 0
    lo = int(min(rt.min(), su_t.min())) if have_su else int(rt.min())
    hi = int(max(rt.max(), su_t.max())) if have_su else int(rt.max())
    span = hi - lo + 2
    if (len(users) + 1) * span > max_composite:
        if len(users) == 1:
            raise OverflowError(
                f"single-user composite span {span} overflows int64"
            )
        s = int(np.searchsorted(ru, users[len(users) // 2]))
        b = int(np.searchsorted(su_u, users[len(users) // 2]))
        left = _asof_release(
            ru[:s], rt[:s], ri[:s], is_p[:s], su_u[:b], su_t[:b], su_id[:b],
            max_composite,
        )
        right = _asof_release(
            ru[s:], rt[s:], ri[s:], is_p[s:], su_u[b:], su_t[b:], su_id[b:],
            max_composite,
        )
        return tuple(
            np.concatenate([a, c]) for a, c in zip(left, right)
        )
    rel_rank = np.searchsorted(users, ru)
    p_u = np.concatenate([su_u, ru[is_p]])
    p_t = np.concatenate([su_t, rt[is_p]])
    p_id = np.concatenate([su_id, ri[is_p]])
    p_order = np.lexsort((p_id, p_t, p_u))
    p_u, p_t, p_id = p_u[p_order], p_t[p_order], p_id[p_order]
    p_c = _composite(np.searchsorted(users, p_u), p_t, lo, span)
    # new latest purchase per user = last element of that user's segment
    seg_end = np.searchsorted(p_u, users, "right") - 1
    has_p = seg_end >= np.searchsorted(p_u, users, "left")
    nu = users[has_p]
    nt = p_t[seg_end[has_p]]
    nid = p_id[seg_end[has_p]]
    if not len(p_c):
        # no purchases anywhere: one sentinel below every segment
        # (rank -1) keeps the searchsorted/vis algebra branch-free
        p_c = np.full(1, -1, "int64")
        p_t = np.zeros(1, "int64")
        p_id = np.zeros(1, "int64")
    rel_c = _composite(rel_rank, rt, lo, span)
    idx = np.searchsorted(p_c, rel_c, "left") - 1
    safe = np.where(idx >= 0, idx, 0)
    vis = (idx >= 0) & (p_c[safe] // span == rel_rank)
    return p_t[safe], p_id[safe], vis, nu, nt, nid




def _reorder_buffer_fn(release, n_carry: int, extra_cols: list[str],
                       max_state_bytes: int, release_all: bool):
    """The shard group fn both reorder-buffered semantics run. Shard state
    is `n_carry` per-user carry columns, (user, ts)-sorted, then the
    pending rows' (user_id, ts, event_id, *extra_cols): int64 columns as
    `_pack_i64` blobs, `extra_cols` (event_type) as `_pack_str` blobs.

    Each call appends the new rows to the pending buffer and releases the
    rows below the watermark frontier (every row with `release_all`),
    (user, ts, id)-lexsorted, to `release(rel_cols, touched_carry) ->
    (output frame, new carry)` together with the carry of the users they
    touch; the new carry replaces those users' carry."""
    import numpy as np

    cols = ["user_id", "ts", "event_id", *extra_cols]
    n_i64 = n_carry + 3
    packs = [_pack_i64] * n_i64 + [_pack_str] * len(extra_cols)
    unpacks = [_unpack_i64] * n_i64 + [_unpack_str] * len(extra_cols)
    empty = [np.empty(0, "int64")] * n_i64 + [np.empty(0, object)] * len(
        extra_cols
    )

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            arrays = [unpack(b) for unpack, b in zip(unpacks, state.get)]
        else:
            arrays = empty
        carry, pend = arrays[:n_carry], arrays[n_carry:]
        new = _collect_chunks(pdfs, cols)
        if new is not None:
            pend = [np.concatenate([p, n]) for p, n in zip(pend, new)]
        if release_all:
            wm_ms, frontier = 0, 2**62  # ordered arrival: process the batch now
        else:
            wm_ms = state.getCurrentWatermarkMs()
            frontier = wm_ms * 1000  # watermark ms → event-time micros
        # Release rows strictly below the watermark frontier: late
        # filtering guarantees no more members of those (user, ts) runs,
        # and a run never straddles the frontier (all-or-nothing per ts).
        rel_mask = pend[1] < frontier
        out = None
        if rel_mask.any():
            rel = [p[rel_mask] for p in pend]
            order = np.lexsort((rel[2], rel[1], rel[0]))
            rel = [r[order] for r in rel]
            # split the carry into touched / untouched users
            touched = np.isin(carry[0], np.unique(rel[0]))
            out, new_carry = release(rel, [c[touched] for c in carry])
            # merge back with the untouched carry, restoring (u, t) order
            carry = [np.concatenate([c[~touched], nc])
                     for c, nc in zip(carry, new_carry)]
            order = np.lexsort((carry[1], carry[0]))
            carry = [c[order] for c in carry]
            pend = [p[~rel_mask] for p in pend]
        blobs = tuple(pack(a) for pack, a in zip(packs, carry + pend))
        _check_state_budget(blobs, max_state_bytes)
        state.update(blobs)
        if len(pend[1]) and not release_all:
            # wake this shard only once the watermark passes its oldest
            # pending row — not on every watermark tick
            state.setTimeoutTimestamp(
                max(wm_ms + 1, int(pend[1].min()) // 1000 + 1)
            )
        if out is not None:
            yield out

    return fn


def _sliding_shard_fn(lookback_micros: int, max_composite: int,
                      max_state_bytes: int, release_all: bool = False):
    """Sliding count on the reorder-buffer loop; the carry is each
    user's lookback window (buf_u, buf_t)."""

    def release(rel, carry):
        ru, rt, ri = rel
        cnt, nb_u, nb_t = _sliding_release(
            ru, rt, *carry, lookback_micros, max_composite
        )
        out = pd.DataFrame(
            {
                "user_id": ru,
                "event_id": ri,
                "ts": pd.to_datetime(rt * 1000),
                "cnt": cnt,
            }
        )
        return out, (nb_u, nb_t)

    return _reorder_buffer_fn(release, 2, [], max_state_bytes, release_all)


def _asof_shard_fn(match_type: str, max_composite: int,
                   max_state_bytes: int, release_all: bool = False):
    """As-of join on the reorder-buffer loop; the carry is each user's
    latest match (pu_u, pu_t, pu_id), and pending rows keep their
    event_type."""

    def release(rel, carry):
        ru, rt, ri, types = rel
        lp_t, lp_id, vis, *new_carry = _asof_release(
            ru, rt, ri, types == match_type, *carry, max_composite
        )
        vis_s = pd.Series(vis)
        out = pd.DataFrame(
            {
                "event_id": ri,
                "user_id": ru,
                "ts": pd.to_datetime(rt * 1000),
                "event_type": types.astype(str),
                "last_purchase_ts": pd.Series(
                    pd.to_datetime(lp_t * 1000)
                ).where(vis_s, pd.NaT),
                # None-bearing int columns must stay nullable Int64,
                # not drift to float64 (lossy for large ids)
                "last_purchase_id": pd.Series(
                    lp_id, dtype="Int64"
                ).where(vis_s, pd.NA),
                "micros_since_purchase": pd.Series(
                    rt - lp_t, dtype="Int64"
                ).where(vis_s, pd.NA),
            }
        )
        return out, new_carry

    return _reorder_buffer_fn(
        release, 3, ["event_type"], max_state_bytes, release_all
    )
