"""Streaming-semantics tests (SURVEY §5.2-2/3/5): incremental emission
sequences, grace-0 late-data drops, stream-stream join, stateful alerts,
and checkpoint recovery — on hermetic staged-replay sources."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafka_streams_learning_spark.sources.replay import (
    replay_stream,
    stage_explicit_chunks,
)
from kafka_streams_learning_spark.streaming import runner, stateful, windows


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="ksl-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


EVENTS_SCHEMA = "key string, record_id long, amount double, ts timestamp"


def checkpoint_partitions(ckpt: str) -> str:
    """The shuffle (state) partition count Spark recorded in the first
    batch's offset metadata — the count every restart reuses."""
    import json
    import os

    with open(os.path.join(ckpt, "offsets", "0")) as fh:
        meta = json.loads(fh.read().splitlines()[1])
    return meta["conf"]["spark.sql.shuffle.partitions"]


def test_update_mode_emission_sequence(spark, tmpdir):
    """A1: running count per key emits an updated row per input batch
    (KTable changelog semantics, `StreamsOrderCount.java:130-134`)."""
    base = ts("2024-01-01T00:00:00")
    chunks = [
        [("a", 1, 10.0, base), ("b", 2, 10.0, base)],
        [("a", 3, 10.0, base + dt.timedelta(minutes=1))],
        [("a", 4, 10.0, base + dt.timedelta(minutes=2))],
    ]
    stage_explicit_chunks(spark, chunks, EVENTS_SCHEMA, tmpdir)
    stream = replay_stream(spark, tmpdir, EVENTS_SCHEMA)
    counted = windows.streaming_count_by_key(stream, "key")
    batches = runner.run_collect_batches(counted, "update")
    seq = [sorted((r.key, r.cnt) for r in b) for b in batches if b]
    # batch 1: both keys at 1; batch 2: a→2; batch 3: a→3 (b unchanged, not re-emitted)
    assert seq == [[("a", 1), ("b", 1)], [("a", 2)], [("a", 3)]]


def test_tumbling_append_and_late_drop(spark, tmpdir):
    """A3 + grace-0: append mode finalizes a window when the watermark
    passes; a record older than the watermark is dropped, not applied
    (`StreamsOrderCount.java:50-53`)."""
    base = ts("2024-01-01T00:00:00")
    chunks = [
        [("k", 1, 1.0, base), ("k", 2, 1.0, base + dt.timedelta(seconds=30))],
        # advance event time well past the first window
        [("k", 3, 1.0, base + dt.timedelta(minutes=5))],
        # watermark (updated after the previous batch) now closes + evicts
        # the first window during this batch
        [("k", 9, 1.0, base + dt.timedelta(minutes=5, seconds=10))],
        # late record for the first (closed, evicted) window → dropped.
        # NB Spark micro-batch granularity: a late row arriving in the
        # *same* batch that evicts its window still counts (state is
        # merged before eviction); one batch later it is dropped — that is
        # the grace-0 contract at micro-batch resolution.
        [("k", 4, 1.0, base + dt.timedelta(seconds=45))],
        # more progress so a re-created window (if the drop failed) would
        # also be evicted and become visible in the sink
        [("k", 5, 1.0, base + dt.timedelta(minutes=6))],
    ]
    stage_explicit_chunks(spark, chunks, EVENTS_SCHEMA, tmpdir)
    stream = replay_stream(spark, tmpdir, EVENTS_SCHEMA)
    counted = windows.streaming_tumbling_count(stream, "ts", "1 minute", "key")
    runner.run_to_memory(counted, "tumbling_out", "append")
    rows = [
        (r.window_start, r.cnt)
        for r in spark.table("tumbling_out").collect()
        if r.window_start == base
    ]
    # first window emitted exactly once, with exactly 2 (late record
    # neither counted nor re-opened the window)
    assert rows == [(base, 2)]


def test_streaming_interval_join(spark, tmpdir):
    """J2: orders⋈payments within ±5 minutes on the key; outside-window
    and unmatched records never emit (`StreamStreamJoinExample.java:48-78`)."""
    base = ts("2024-01-01T00:00:00")
    orders_dir = tmpdir + "/orders"
    pays_dir = tmpdir + "/pays"
    o_schema = "o_key string, o_id long, o_ts timestamp"
    p_schema = "p_key string, p_amount double, p_ts timestamp"
    stage_explicit_chunks(
        spark,
        [[("1", 10, base), ("2", 20, base)]],
        o_schema,
        orders_dir,
    )
    stage_explicit_chunks(
        spark,
        [
            [
                ("1", 99.0, base + dt.timedelta(minutes=3)),   # in window → joins
                ("2", 77.0, base + dt.timedelta(minutes=30)),  # outside → never
                ("3", 55.0, base),                             # unmatched key
            ]
        ],
        p_schema,
        pays_dir,
    )
    j = windows.streaming_interval_join(
        replay_stream(spark, orders_dir, o_schema),
        replay_stream(spark, pays_dir, p_schema),
        "o_key", "p_key", "o_ts", "p_ts", "5 minutes",
    )
    runner.run_to_memory(j, "join_out", "append")
    got = [(r.o_key, r.p_amount) for r in spark.table("join_out").collect()]
    assert got == [("1", 99.0)]


def test_stateful_fraud_alerts_across_batches(spark, tmpdir):
    """A5: counter state persists across micro-batches; alerts fire from
    the 4th qualifying record onward, once per record
    (`FraudProcessor.java:51-83`)."""
    base = ts("2024-01-01T00:00:00")
    mk = lambda i, amt: ("c1", i, amt, base + dt.timedelta(minutes=i))
    chunks = [
        [mk(1, 600.0), mk(2, 700.0)],          # count 2 — no alert
        [mk(3, 100.0), mk(4, 800.0)],          # low-value skipped; count 3
        [mk(5, 900.0), mk(6, 950.0)],          # counts 4, 5 → two alerts
    ]
    stage_explicit_chunks(spark, chunks, EVENTS_SCHEMA, tmpdir)
    stream = replay_stream(spark, tmpdir, EVENTS_SCHEMA)
    alerts = stateful.fraud_alert_stream(stream, "key", threshold=500.0)
    batches = runner.run_collect_batches(alerts, "append")
    flat = [(r.record_id, r.running_cnt) for b in batches for r in b]
    assert flat == [(5, 4), (6, 5)]
    assert all("High-value order streak" in r.alert for b in batches for r in b)


def test_sharded_fraud_arm_matches_per_key_arm(spark, tmpdir):
    """`fraud_alert_stream_sharded` (r13, the high-key-cardinality arm)
    must emit exactly the per-key arm's rows: multi-key batches, a key's
    counter carried across micro-batches, below-threshold rows skipped,
    several keys colliding into one shard, and keys unseen by the state
    yet. Deterministic small replay + a randomized 60-key replay."""
    import random

    base = ts("2024-01-01T00:00:00")

    def run(chunks, tag, n_shards):
        d = f"{tmpdir}/{tag}"
        stage_explicit_chunks(spark, chunks, EVENTS_SCHEMA, d)
        per_key = stateful.fraud_alert_stream(
            replay_stream(spark, d, EVENTS_SCHEMA), "key",
            threshold=500.0, impl="apply",
        )
        runner.run_to_memory(per_key, f"pk_{tag}", "append")
        sharded = stateful.fraud_alert_stream_sharded(
            replay_stream(spark, d, EVENTS_SCHEMA), "key",
            threshold=500.0, n_shards=n_shards,
        )
        runner.run_to_memory(sharded, f"sh_{tag}", "append")
        a = sorted(map(tuple, spark.table(f"pk_{tag}").collect()))
        b = sorted(map(tuple, spark.table(f"sh_{tag}").collect()))
        assert a == b and a, f"{tag}: sharded arm diverged (or emitted nothing)"
        return a

    mk = lambda k, i, amt: (k, i, amt, base + dt.timedelta(minutes=i))
    got = run(
        [
            [mk("a", 1, 600.0), mk("b", 2, 700.0), mk("a", 3, 800.0)],
            [mk("a", 4, 100.0), mk("b", 5, 900.0), mk("a", 6, 950.0)],
            [mk("a", 7, 990.0), mk("b", 8, 980.0), mk("b", 9, 975.0),
             mk("b", 10, 970.0)],
        ],
        "det", n_shards=2,  # 2 shards × many keys → forced collisions
    )
    # spot-pin the semantic, not just arm parity: a's 4th qualifying
    # record is id 7; b qualifies at 2,5,8,9,10 so fires at 9 and 10
    assert {(r[0], r[1], r[3]) for r in got} == {
        ("a", 7, 4), ("b", 9, 4), ("b", 10, 5),
    }

    rng = random.Random(13)
    chunks = [
        [
            mk(f"k{rng.randrange(60)}", i * 100 + j,
               float(rng.randrange(0, 1000)))
            for j in range(80)
        ]
        for i in range(4)
    ]
    run(chunks, "rand", n_shards=4)


def test_fraud_alert_null_keys_dropped_in_every_arm(spark, tmpdir):
    """ADVICE r13: the apply/tws arms used to process a null key as an
    ordinary group while the sharded arm raised from _pack_str mid-batch
    — impl choice changed behavior on null keys. All arms now DROP
    null-keyed records at entry (Kafka Streams groupByKey semantics), so
    the arms stay bit-identical on dirty input too."""
    base = ts("2024-01-01T00:00:00")
    mk = lambda k, i, amt: (k, i, amt, base + dt.timedelta(minutes=i))
    chunks = [
        [mk("a", 1, 600.0), mk(None, 2, 700.0), mk("a", 3, 800.0),
         mk(None, 4, 900.0)],
        [mk("a", 5, 950.0), mk(None, 6, 990.0), mk("a", 7, 990.0)],
    ]
    results = {}
    for impl, n_shards in (("apply", None), ("sharded", 2)):
        d = f"{tmpdir}/null_{impl}"
        stage_explicit_chunks(spark, chunks, EVENTS_SCHEMA, d)
        out = stateful.fraud_alert_stream(
            replay_stream(spark, d, EVENTS_SCHEMA), "key",
            threshold=500.0, impl=impl, n_shards=n_shards,
        )
        runner.run_to_memory(out, f"null_{impl}", "append")
        results[impl] = sorted(map(tuple, spark.table(f"null_{impl}").collect()))
    # a qualifies at 1,3,5,7 → fires at id 7 (4th); the null key would
    # have qualified at 2,4,6 — had it formed a group, the apply arm
    # would emit nothing extra here, so ALSO pin that no null key ever
    # appears and that the sharded arm no longer raises
    assert results["apply"] == results["sharded"]
    assert {(r[0], r[1], r[3]) for r in results["apply"]} == {("a", 7, 4)}
    assert all(r[0] is not None for r in results["apply"])


def test_fraud_alert_stream_threads_n_shards(spark, tmpdir):
    """ADVICE r13: fraud_alert_stream(impl="sharded") must forward
    n_shards to the sharded arm (callers used to have to bypass the impl
    switch). Pin via the shard-count tag the runner consumes. The impl
    switch itself: unknown values are rejected loudly, and the default
    is the per-key `applyInPandasWithState` arm grouped on the key."""
    d = f"{tmpdir}/nshards"
    base = ts("2024-01-01T00:00:00")
    stage_explicit_chunks(
        spark, [[("a", 1, 600.0, base)]], EVENTS_SCHEMA, d
    )
    stream = replay_stream(spark, d, EVENTS_SCHEMA)
    out = stateful.fraud_alert_stream(
        stream, "key", threshold=500.0, impl="sharded", n_shards=7,
    )
    assert out._ksl_shard_count == 7

    for bad in ("auto", "tws", "rocksdb"):
        with pytest.raises(ValueError, match="impl"):
            stateful.fraud_alert_stream(stream, "key", 500.0, impl=bad)

    def plan(df):
        return df._jdf.queryExecution().analyzed().toString()

    for per_key in (
        stateful.fraud_alert_stream(stream, "key", 500.0, impl="apply"),
        stateful.fraud_alert_stream(stream, "key", 500.0),
    ):
        p = plan(per_key)
        assert "FlatMapGroupsInPandasWithState" in p, p
        assert "_shard" not in p and not hasattr(per_key, "_ksl_shard_count")


ASOF_SCHEMA = "event_id long, user_id long, ts timestamp, event_type string"


def test_streaming_asof_enrich_strict_and_cross_batch(spark, tmpdir):
    """s09 semantics: an event sees only STRICTLY-earlier purchases (a
    purchase never enriches itself or a same-timestamp event), the latest
    prior purchase carries across micro-batches as keyed state, and
    equal-timestamp purchases tie-break to the max id — matching the
    batch as-of oracle's (ts DESC, id DESC) argmax."""
    base = ts("2024-01-01T00:00:00")
    m = lambda i: base + dt.timedelta(minutes=i)
    chunks = [
        # batch 1: view before any purchase → NULL; purchase at t1;
        # same-ts view at t1 must NOT see it (strict)
        [(1, 7, m(0), "view"), (2, 7, m(1), "purchase"), (3, 7, m(1), "view")],
        # batch 2: state carried across batches → view sees purchase 2;
        # two equal-ts purchases → later events see max id (5)
        [(4, 7, m(2), "view"), (5, 7, m(3), "purchase"), (6, 7, m(3), "purchase")],
        [(7, 7, m(4), "view")],
    ]
    stage_explicit_chunks(spark, chunks, ASOF_SCHEMA, tmpdir)
    stream = replay_stream(spark, tmpdir, ASOF_SCHEMA)
    out = stateful.asof_join_stream(stream)
    batches = runner.run_collect_batches(out, "append")
    got = {
        r.event_id: (r.last_purchase_id, r.micros_since_purchase)
        for b in batches
        for r in b
    }
    assert got[1] == (None, None)  # nothing prior
    assert got[2] == (None, None)  # a purchase doesn't see itself
    assert got[3] == (None, None)  # strict: same-ts purchase invisible
    assert got[4] == (2, 60_000_000)  # state crossed the batch boundary
    assert got[7] == (6, 60_000_000)  # equal-ts tie → max purchase id
    # max-id tie-break also applies within the emitting batch's later rows
    assert got[5] == (2, 120_000_000) and got[6] == (2, 120_000_000)


def test_streaming_asof_straddled_tie_run(spark, tmpdir):
    """A same-timestamp run split ACROSS micro-batches must still match
    the batch oracle: a purchase folded into state in an earlier batch
    never enriches a same-timestamp event arriving later (strict
    inequality), and a tie fold merges max ids instead of dropping the
    higher already-folded purchase id."""
    base = ts("2024-01-01T00:00:00")
    m = lambda i: base + dt.timedelta(minutes=i)
    chunks = [
        # batch 1: the tie run's FIRST fragment — purchase id=5 at t0
        [(5, 7, m(0), "purchase")],
        # batch 2: the run's SECOND fragment — a lower-id purchase and a
        # view at the SAME t0, plus a later view
        [(3, 7, m(0), "purchase"), (7, 7, m(0), "view"), (8, 7, m(1), "view")],
    ]
    stage_explicit_chunks(spark, chunks, ASOF_SCHEMA, tmpdir)
    stream = replay_stream(spark, tmpdir, ASOF_SCHEMA)
    out = stateful.asof_join_stream(stream)
    batches = runner.run_collect_batches(out, "append")
    got = {
        r.event_id: (r.last_purchase_id, r.micros_since_purchase)
        for b in batches
        for r in b
    }
    # strict: nothing at t0 sees the t0 purchases — including across the
    # batch boundary (state pts == run ts must stay invisible)
    assert got[5] == (None, None)
    assert got[3] == (None, None)
    assert got[7] == (None, None)
    # tie merge: the t1 view sees max(5, 3) = 5, not the later-arriving 3
    assert got[8] == (5, 60_000_000)


def test_ordered_asof_out_of_order_arrival(spark, tmpdir):
    """The watermark-driven reorder buffer: the SAME scenario as
    test_streaming_asof_enrich_strict_and_cross_batch, but rows arrive
    SHUFFLED across micro-batches — results must be identical to ordered
    arrival. The final flush happens in a batch where user 7 has no data
    at all (only the sentinel key does), so it also proves the
    EventTimeTimeout wakeup path."""
    base = ts("2024-01-01T00:00:00")
    m = lambda i: base + dt.timedelta(minutes=i)
    chunks = [
        # latest event first, then fragments of earlier runs, interleaved
        [(7, 7, m(4), "view"), (2, 7, m(1), "purchase")],
        [(5, 7, m(3), "purchase"), (1, 7, m(0), "view"), (6, 7, m(3), "purchase")],
        [(3, 7, m(1), "view"), (4, 7, m(2), "view")],
        # two flush sentinels: the first advances the watermark past every
        # real row; the second's batch then runs WITH that watermark
        [(-1, -1, m(30), "view")],
        [(-2, -1, m(40), "view")],
    ]
    stage_explicit_chunks(spark, chunks, ASOF_SCHEMA, tmpdir)
    stream = replay_stream(spark, tmpdir, ASOF_SCHEMA)
    out = stateful.ordered_asof_join_stream(stream, disorder="10 minutes")
    batches = runner.run_collect_batches(out, "append")
    got = {
        r.event_id: (r.last_purchase_id, r.micros_since_purchase)
        for b in batches
        for r in b
    }
    assert len(got) == 7  # every real event exactly once; no sentinel rows
    assert got[1] == (None, None)
    assert got[2] == (None, None)  # a purchase doesn't see itself
    assert got[3] == (None, None)  # strict: same-ts purchase invisible
    assert got[4] == (2, 60_000_000)
    assert got[5] == (2, 120_000_000) and got[6] == (2, 120_000_000)
    assert got[7] == (6, 60_000_000)  # equal-ts tie → max purchase id


def test_ordered_sliding_out_of_order_arrival(spark, tmpdir):
    """Reorder buffer for the sliding count: shuffled arrival (latest
    event first, the equal-timestamp tie pair last) produces the exact
    ordered-arrival counts, including the symmetric tie group."""
    base = ts("2024-01-01T00:00:00")
    m = lambda i: base + dt.timedelta(minutes=i)
    schema = "user_id long, event_id long, ts timestamp"
    chunks = [
        [(1, 10, m(3))],
        [(1, 11, m(0)), (1, 12, m(0))],  # the m0 tie arrives late
        [(1, 13, m(2))],
        [(-1, -1, m(30))],
        [(-1, -2, m(40))],
    ]
    stage_explicit_chunks(spark, chunks, schema, tmpdir)
    stream = replay_stream(spark, tmpdir, schema)
    out = stateful.ordered_sliding_count_stream(
        stream, lookback_micros=2 * 60 * 1_000_000, disorder="5 minutes"
    )
    batches = runner.run_collect_batches(out, "append")
    got = {r.event_id: r.cnt for b in batches for r in b}
    # ordered semantics: m0 tie sees both (2,2); m2 sees m0,m0,m2 (3);
    # m3 evicts the m0 pair outside [m1,m3] → sees m2,m3 (2)
    assert got == {11: 2, 12: 2, 13: 3, 10: 2}


def test_reorder_shard_count_invariance(spark, tmpdir):
    """The shard re-keying (hash(user) % n_shards) is a physical layout
    choice — results must be IDENTICAL at any shard count, including all
    users collapsing into one shard (the hardest case for the segmented
    searchsorted: every per-user window lives in one composite array).
    Three users with interleaved shuffled arrival, equal-ts ties, and a
    cross-user equal-timestamp collision; sliding + as-of both pinned."""
    base = ts("2024-01-01T00:00:00")
    m = lambda i: base + dt.timedelta(minutes=i)
    chunks = [
        [(7, 1, m(4), "view"), (8, 2, m(1), "purchase"), (9, 3, m(4), "view")],
        [(7, 4, m(1), "purchase"), (9, 5, m(1), "purchase"), (7, 6, m(3), "view")],
        [(8, 7, m(2), "view"), (9, 8, m(2), "view"), (8, 9, m(2), "purchase")],
        [(-1, -1, m(30), "view")],
        [(-1, -2, m(40), "view")],
    ]
    # (user_id, event_id, ts, event_type) column order for ASOF_SCHEMA
    asof_chunks = [
        [(e, u, t, et) for (u, e, t, et) in ch] for ch in chunks
    ]

    def run_asof(n):
        d = tempfile.mkdtemp(prefix="ksl-shardinv-")
        try:
            stage_explicit_chunks(spark, asof_chunks, ASOF_SCHEMA, d)
            stream = replay_stream(spark, d, ASOF_SCHEMA)
            out = stateful.ordered_asof_join_stream(
                stream, disorder="10 minutes", n_shards=n
            )
            batches = runner.run_collect_batches(out, "append")
            return sorted(
                (r.event_id, r.last_purchase_id, r.micros_since_purchase)
                for b in batches
                for r in b
            )
        finally:
            shutil.rmtree(d, ignore_errors=True)

    def run_sliding(n):
        d = tempfile.mkdtemp(prefix="ksl-shardinv-")
        schema = "user_id long, event_id long, ts timestamp"
        try:
            stage_explicit_chunks(
                spark,
                [[(u, e, t) for (u, e, t, _) in ch] for ch in chunks],
                schema,
                d,
            )
            stream = replay_stream(spark, d, schema)
            out = stateful.ordered_sliding_count_stream(
                stream,
                lookback_micros=2 * 60 * 1_000_000,
                disorder="5 minutes",
                n_shards=n,
            )
            batches = runner.run_collect_batches(out, "append")
            return sorted((r.event_id, r.cnt) for b in batches for r in b)
        finally:
            shutil.rmtree(d, ignore_errors=True)

    asof_1 = run_asof(1)
    assert asof_1 == run_asof(5)
    assert len(asof_1) == 9
    sliding_1 = run_sliding(1)
    assert sliding_1 == run_sliding(5)
    assert len(sliding_1) == 9


def test_checkpoint_recovery(spark, tmpdir):
    """§5.2-5: kill the query mid-stream, restart from the same
    checkpoint over a source that has grown — final counts identical to a
    single uninterrupted run (changelog-restore semantics,
    `ProductCountApp.java:31-36`)."""
    base = ts("2024-01-01T00:00:00")
    data_dir = tmpdir + "/data"
    ckpt = tmpdir + "/ckpt"
    stage_explicit_chunks(
        spark,
        [[("a", 1, 1.0, base)], [("a", 2, 1.0, base), ("b", 3, 1.0, base)]],
        EVENTS_SCHEMA,
        data_dir,
    )
    stream = replay_stream(spark, data_dir, EVENTS_SCHEMA)
    counted = windows.streaming_count_by_key(stream, "key")
    # foreachBatch sink: the memory sink cannot recover from a checkpoint
    run1 = runner.run_collect_batches(counted, "update", checkpoint=ckpt)
    assert run1  # first run emitted something

    # more data arrives while the query is down
    stage_explicit_chunks(
        spark,
        [[("a", 4, 1.0, base), ("b", 5, 1.0, base)]],
        EVENTS_SCHEMA,
        data_dir + "/chunk=99999-extra",
    )
    stream2 = replay_stream(spark, data_dir, EVENTS_SCHEMA)
    counted2 = windows.streaming_count_by_key(stream2, "key")
    run2 = runner.run_collect_batches(counted2, "update", checkpoint=ckpt)

    # fold the full update-mode changelog (run1 then run2): latest value
    # per key must equal the uninterrupted totals — and run2 must resume,
    # not reprocess (no count regression)
    final: dict[str, int] = {}
    for batch in run1 + run2:
        for r in batch:
            assert r.cnt > final.get(r.key, 0), "count regressed after restart"
            final[r.key] = r.cnt
    assert final == {"a": 3, "b": 2}


def test_ktable_changelog_snapshot(spark, tmpdir):
    """S3/§7.4b: a changelog stream materializes as latest-value-per-key —
    later versions overwrite, untouched keys survive
    (`StreamTableJoinExample.java:114-140`)."""
    from kafka_streams_learning_spark.streaming import ktable

    schema = "k string, name string, v long"
    data_dir = tmpdir + "/chlog"
    snap_dir = tmpdir + "/snap"
    stage_explicit_chunks(
        spark,
        [
            [("c1", "old-1", 0), ("c2", "old-2", 0)],
            [("c1", "new-1", 1), ("c3", "only-3", 1)],
        ],
        schema,
        data_dir,
    )
    ktable.materialize_ktable(
        replay_stream(spark, data_dir, schema), snap_dir, key="k", version_col="v"
    )
    snap = ktable.read_snapshot(spark, snap_dir)
    got = {r.k: r.name for r in snap.collect()}
    # c1 upserted, c2 untouched from v0, c3 inserted at v1
    assert got == {"c1": "new-1", "c2": "old-2", "c3": "only-3"}


def test_ktable_expected_rows_sizes_buckets_for_full_dimension(spark, tmpdir):
    """ADVICE r13: batch-1-only adaptive derivation undershoots when the
    changelog arrives chunk-per-batch (a tiny first batch would pin 1
    bucket forever). `expected_rows` must size the manifest's pinned
    bucket count for the FULL dimension, not the first chunk."""
    from kafka_streams_learning_spark.streaming import ktable

    schema = "k string, name string, v long"
    seed = spark.createDataFrame([("k1", "a", 0), ("k2", "b", 0)], schema)

    # without the hint: 2 rows → 1 bucket, pinned forever
    ktable.upsert_snapshot(
        seed, tmpdir + "/snap_nohint", key="k", version_col="v"
    )
    assert ktable._read_manifest(tmpdir + "/snap_nohint")["num_buckets"] == 1

    # with the hint: sized for the eventual dimension (ceil(3M / 256k) = 12)
    ktable.upsert_snapshot(
        seed, tmpdir + "/snap_hint", key="k", version_col="v",
        expected_rows=3_000_000,
    )
    m = ktable._read_manifest(tmpdir + "/snap_hint")
    assert m["num_buckets"] == ktable._derive_num_buckets(3_000_000) == 12
    # later batches honor the pinned count, as before
    ktable.upsert_snapshot(
        spark.createDataFrame([("k1", "new", 1)], schema),
        tmpdir + "/snap_hint", key="k", version_col="v",
    )
    assert ktable._read_manifest(tmpdir + "/snap_hint")["num_buckets"] == 12
    got = {r.k: r.name
           for r in ktable.read_snapshot(spark, tmpdir + "/snap_hint").collect()}
    assert got == {"k1": "new", "k2": "b"}


def test_ktable_upsert_is_incremental_by_bucket(spark, tmpdir):
    """The MERGE contract: a micro-batch rewrites ONLY the key buckets it
    touches — every file of every untouched bucket survives the upsert
    byte-identical (same path, same inode, same mtime), proving per-batch
    I/O is O(changed buckets), not O(snapshot)."""
    import os

    from kafka_streams_learning_spark.streaming import ktable

    schema = "k string, name string, v long"
    snap_dir = tmpdir + "/snap"
    keys = [f"k{i}" for i in range(12)]
    seed = spark.createDataFrame([(k, f"old-{k}", 0) for k in keys], schema)
    ktable.upsert_snapshot(seed, snap_dir, key="k", version_col="v", num_buckets=8)

    # pick one key and find a key hashing to a DIFFERENT bucket
    buckets = {
        r.k: r.b
        for r in seed.select(
            "k", F.pmod(F.hash("k"), F.lit(8)).cast("int").alias("b")
        ).collect()
    }
    touched_key = keys[0]
    untouched = [k for k in keys if buckets[k] != buckets[touched_key]]
    assert untouched, "test fixture needs keys in >1 bucket"

    def file_stats(bucket: int) -> dict[str, tuple]:
        out = {}
        for dirpath, _dirs, files in os.walk(snap_dir):
            if dirpath.endswith(f"ksl_bucket={bucket}"):
                for f in files:
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
        return out

    untouched_buckets = sorted({buckets[k] for k in untouched})
    before = {b: file_stats(b) for b in untouched_buckets}
    batch2 = spark.createDataFrame([(touched_key, "new", 1)], schema)
    ktable.upsert_snapshot(batch2, snap_dir, key="k", version_col="v")
    for b in untouched_buckets:
        after = file_stats(b)
        assert after == before[b] and before[b], (
            f"bucket {b} was rewritten by an upsert that didn't touch it"
        )
    got = {r.k: r.name for r in ktable.read_snapshot(spark, snap_dir).collect()}
    assert got[touched_key] == "new"
    assert all(got[k] == f"old-{k}" for k in untouched)


def test_stateful_checkpoint_recovery(spark, tmpdir):
    """§5.2-5 for the custom stateful operator: the per-key counter in
    applyInPandasWithState state survives a restart — alerts continue
    from the persisted count, without re-emitting or double-counting."""
    base = ts("2024-01-01T00:00:00")
    data_dir = tmpdir + "/data"
    ckpt = tmpdir + "/ckpt"
    mk = lambda i, amt: ("c1", i, amt, base + dt.timedelta(minutes=i))
    # run 1: three qualifying records — state cnt=3, no alerts yet
    stage_explicit_chunks(
        spark, [[mk(1, 600.0), mk(2, 700.0)], [mk(3, 800.0)]], EVENTS_SCHEMA, data_dir
    )
    stream = replay_stream(spark, data_dir, EVENTS_SCHEMA)
    alerts = stateful.fraud_alert_stream(stream, "key", threshold=500.0)
    run1 = runner.run_collect_batches(alerts, "append", checkpoint=ckpt)
    assert [r for b in run1 for r in b] == []

    # the query dies; two more qualifying records arrive
    stage_explicit_chunks(
        spark, [[mk(4, 900.0), mk(5, 950.0)]], EVENTS_SCHEMA, data_dir + "/chunk=99999-extra"
    )
    stream2 = replay_stream(spark, data_dir, EVENTS_SCHEMA)
    alerts2 = stateful.fraud_alert_stream(stream2, "key", threshold=500.0)
    run2 = runner.run_collect_batches(alerts2, "append", checkpoint=ckpt)
    flat = [(r.record_id, r.running_cnt) for b in run2 for r in b]
    # counts resume at 4 and 5 — state restored, records 1-3 not replayed
    assert flat == [(4, 4), (5, 5)]


def test_sharded_fraud_checkpoint_recovery(spark, tmpdir):
    """Kill-and-resume for the SHARDED fraud arm (r13): its packed
    (keys, cnts) binary state must survive a restart — counters resume
    across MULTIPLE keys in one shard, records from run 1 are not
    replayed, and a pinned checkpoint refuses a mismatched shard count."""
    base = ts("2024-01-01T00:00:00")
    data_dir = tmpdir + "/data"
    ckpt = tmpdir + "/ckpt"
    mk = lambda k, i, amt: (k, i, amt, base + dt.timedelta(minutes=i))
    # run 1: a=2 qualifying, b=3 qualifying — no alerts yet (threshold 3)
    stage_explicit_chunks(
        spark,
        [[mk("a", 1, 600.0), mk("b", 2, 700.0), mk("b", 3, 800.0)],
         [mk("a", 4, 900.0), mk("b", 5, 950.0)]],
        EVENTS_SCHEMA, data_dir,
    )
    alerts = stateful.fraud_alert_stream_sharded(
        replay_stream(spark, data_dir, EVENTS_SCHEMA), "key",
        threshold=500.0, n_shards=2,
    )
    # the memory sink can't recover a checkpoint — use the foreachBatch
    # runner (as the per-key recovery test does) and pin manually, as a
    # direct writeStream user would
    run1 = runner.run_collect_batches(alerts, "append", checkpoint=ckpt)
    assert [r for b in run1 for r in b] == []
    stateful.pin_shard_count(ckpt, 2)

    # the query dies; more records arrive (one per key + a low-value)
    stage_explicit_chunks(
        spark,
        [[mk("a", 6, 100.0), mk("a", 7, 960.0), mk("b", 8, 970.0)]],
        EVENTS_SCHEMA, data_dir + "/chunk=99999-extra",
    )
    alerts2 = stateful.fraud_alert_stream_sharded(
        replay_stream(spark, data_dir, EVENTS_SCHEMA), "key",
        threshold=500.0, n_shards=2,
    )
    run2 = runner.run_collect_batches(alerts2, "append", checkpoint=ckpt)
    got = sorted(
        (r.key, r.record_id, r.running_cnt) for b in run2 for r in b
    )
    # a resumes at 3 (no alert: 3 is not > 3); b resumes at 4 → alert
    assert got == [("b", 8, 4)]

    # restarting the same checkpoint with a different shard count is the
    # orphaned-state hazard — the pin must refuse it
    with pytest.raises(ValueError, match="n_shards=2"):
        stateful.pin_shard_count(ckpt, 4)


def test_interactive_state_store_fetch(spark, tmpdir):
    """IQ1 (`OrderCountTumblingWindow.java:130-145`): fetch one key's
    windowed counts for a window-start range directly from the LIVE state
    store of a running query's checkpoint — no sink table involved."""
    from kafka_streams_learning_spark.streaming import interactive

    base = ts("2024-01-01T00:00:00")
    data_dir = tmpdir + "/data"
    ckpt = tmpdir + "/ckpt"
    rows = [
        ("107", 1, 1.0, base),
        ("107", 2, 1.0, base + dt.timedelta(seconds=30)),
        ("107", 3, 1.0, base + dt.timedelta(minutes=1)),
        ("200", 4, 1.0, base),
    ]
    stage_explicit_chunks(spark, [rows], EVENTS_SCHEMA, data_dir)
    # grace plays Kafka's window-retention role here: with grace 0 the
    # watermark evicts a window's state the moment it closes (only open
    # windows remain queryable — closed ones live in the sink, q11); a
    # 1-day grace retains them in the store like the reference's RocksDB
    counted = windows.streaming_tumbling_count(
        replay_stream(spark, data_dir, EVENTS_SCHEMA), "ts", "1 minute", "key",
        grace="1 day",
    )
    runner.run_to_memory(counted, "iq_out", "update", checkpoint=ckpt)

    got = sorted(
        (r.window_start, r.cnt)
        for r in interactive.fetch_window_counts(
            spark, ckpt, "107", "2024-01-01 00:00:00", "2024-01-01 00:05:00"
        ).collect()
    )
    assert got == [(base, 2), (base + dt.timedelta(minutes=1), 1)]


def test_state_partitions_opt_out_conf_pins_value(spark, tmpdir):
    """`ksl.state.partitions` is the only override of a stateful run's
    partition count (a deployment that needs more state shards than
    cores): it is consulted first and always wins — over the caller's
    `state_partitions` too, uncapped — and is the partition count the
    stateful query runs with, recorded in its checkpoint."""
    shuffle = "spark.sql.shuffle.partitions"
    base = ts("2024-01-01T00:00:00")
    stage_explicit_chunks(
        spark, [[("a", 1, 10.0, base)]], EVENTS_SCHEMA, f"{tmpdir}/in"
    )
    stream = replay_stream(spark, f"{tmpdir}/in", EVENTS_SCHEMA)
    prev = spark.conf.get(shuffle)
    try:
        spark.conf.set("ksl.state.partitions", "7")
        ckpt = f"{tmpdir}/ckpt"
        runner.run_to_memory(
            stream.groupBy("key").count(), "opt_out_pin", "complete",
            checkpoint=ckpt, state_partitions=4,
        )
        assert checkpoint_partitions(ckpt) == "7"
        assert spark.conf.get(shuffle) == prev
    finally:
        spark.conf.unset("ksl.state.partitions")
        spark.conf.set(shuffle, prev)


def test_caller_state_partitions_capped_at_cores(spark, tmpdir):
    """A caller's volume-sized `state_partitions` is capped at
    defaultParallelism: on the local[4] session, 8 asked-for partitions
    run (and are recorded in the checkpoint) as 4 — whatever the
    session's own shuffle setting — while a `ksl.state.partitions` pin
    is never capped. The session conf is the same before and after
    every run."""
    shuffle = "spark.sql.shuffle.partitions"
    assert spark.sparkContext.defaultParallelism == 4
    base = ts("2024-01-01T00:00:00")
    stage_explicit_chunks(
        spark, [[("a", 1, 10.0, base), ("b", 2, 10.0, base)]],
        EVENTS_SCHEMA, f"{tmpdir}/in",
    )

    def session_conf():
        return tuple(
            spark.conf.get(k, None) for k in (shuffle, "ksl.state.partitions")
        )

    def run(tag):
        stream = replay_stream(spark, f"{tmpdir}/in", EVENTS_SCHEMA)
        ckpt = f"{tmpdir}/ckpt-{tag}"
        before = session_conf()
        runner.run_to_memory(
            stream.groupBy("key").count(), f"capped_{tag}", "complete",
            checkpoint=ckpt, state_partitions=8,
        )
        assert session_conf() == before
        got = spark.table(f"capped_{tag}").collect()
        assert sorted(map(tuple, got)) == [("a", 1), ("b", 1)]
        return checkpoint_partitions(ckpt)

    prev = spark.conf.get(shuffle)
    try:
        assert run("session") == "4"
        # the caller's sizing replaces the session's count, then is capped
        spark.conf.set(shuffle, "3")
        assert run("session3") == "4"
        spark.conf.set("ksl.state.partitions", "7")
        assert run("pinned") == "7"
    finally:
        spark.conf.unset("ksl.state.partitions")
        spark.conf.set(shuffle, prev)


def test_collect_batches_sized_by_runner_not_session(spark, tmpdir):
    """`run_collect_batches` follows `run_to_memory`'s rule: with no
    count it runs `STATE_SHARDS` capped at defaultParallelism — 4 on the
    local[4] session — whatever the session's runtime
    `spark.sql.shuffle.partitions`, and leaves that conf as it was."""
    shuffle = "spark.sql.shuffle.partitions"
    assert spark.sparkContext.defaultParallelism == 4
    base = ts("2024-01-01T00:00:00")
    stage_explicit_chunks(
        spark, [[("a", 1, 10.0, base), ("b", 2, 10.0, base)]],
        EVENTS_SCHEMA, f"{tmpdir}/in",
    )
    stream = replay_stream(spark, f"{tmpdir}/in", EVENTS_SCHEMA)
    prev = spark.conf.get(shuffle)
    try:
        spark.conf.set(shuffle, "3")
        ckpt = f"{tmpdir}/ckpt"
        batches = runner.run_collect_batches(
            stream.groupBy("key").count(), "complete", checkpoint=ckpt
        )
        assert spark.conf.get(shuffle) == "3"
        assert checkpoint_partitions(ckpt) == "4"
        assert sorted(tuple(r) for r in batches[-1]) == [("a", 1), ("b", 1)]
    finally:
        spark.conf.set(shuffle, prev)


def test_state_partitions_cap_never_raises_a_count():
    """Spark-free: the count is min(caller's count, defaultParallelism),
    and a run that passes none is sized at `STATE_SHARDS` (8) by the
    same rule. A 32-core host keeps 8; a count above the cores drops to
    them; a `ksl.state.partitions` pin passes through as it is. The rule
    reads no session conf but the pin."""
    from types import SimpleNamespace

    def session(cores, pin=None):
        conf = {} if pin is None else {"ksl.state.partitions": pin}
        return SimpleNamespace(
            conf=SimpleNamespace(get=lambda k, d=None: conf.get(k, d)),
            sparkContext=SimpleNamespace(defaultParallelism=cores),
        )

    assert runner._state_partitions(session(32), 8) == "8"
    assert runner._state_partitions(session(4), 8) == "4"
    assert runner._state_partitions(session(4, pin="64"), 8) == "64"
    assert runner._state_partitions(session(32)) == "8"
    assert runner._state_partitions(session(4)) == "4"
    assert runner._state_partitions(session(4, pin="64")) == "64"
    for cores in (1, 4, 32):
        for asked in range(1, 40):
            assert runner._state_partitions(session(cores), asked) == str(
                min(asked, cores)
            )


def test_arrow_batch_override_unsets_when_previously_unset(spark, tmpdir):
    """run_to_memory's per-query arrow.maxRecordsPerBatch override must
    not leak session-wide when the session never set the key (ADVICE
    r12): after the run the key is unset again, not pinned to the
    override."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        base = ts("2024-01-01T00:00:00")
        rows = [[("a", 1, 10.0, base)]]
        stage_explicit_chunks(spark, rows, EVENTS_SCHEMA, f"{tmpdir}/a")
        stream = replay_stream(spark, f"{tmpdir}/a", EVENTS_SCHEMA)
        runner.run_to_memory(
            stream.groupBy("key").count(), "arrow_unset_out", "complete",
            arrow_batch_rows=12345,
        )
        assert spark.conf.get(key, None) is None
    finally:
        if prior is not None:
            spark.conf.set(key, prior)


def test_run_conf_is_scoped_and_pinned_in_checkpoint(spark, tmpdir):
    """run_to_memory and run_collect_batches apply their shuffle-partition,
    Arrow batch-size and checkpoint-manager settings for one run only
    (ADVICE r15): the session conf is the same before and after every
    run — a failing run included, and a key the session never set is
    unset again — while the checkpoint's offset metadata records the
    partition count the stateful query ran with (`ksl.state.partitions`,
    which beats every other sizing), so a restart keeps it."""
    shuffle = "spark.sql.shuffle.partitions"
    arrow = "spark.sql.execution.arrow.maxRecordsPerBatch"
    manager = "spark.sql.streaming.checkpointFileManagerClass"
    file_context = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    )
    base = ts("2024-01-01T00:00:00")
    stage_explicit_chunks(
        spark, [[("a", 1, 10.0, base), ("b", 2, 10.0, base)]],
        EVENTS_SCHEMA, f"{tmpdir}/in",
    )

    def counted():
        stream = replay_stream(spark, f"{tmpdir}/in", EVENTS_SCHEMA)
        return stream.groupBy("key").count()

    def failing():
        stream = replay_stream(spark, f"{tmpdir}/in", EVENTS_SCHEMA)
        return stream.select(F.expr("assert_true(amount < 0)").alias("x"))

    def session_conf():
        return tuple(spark.conf.get(k, None) for k in (shuffle, arrow, manager))

    prior_arrow = spark.conf.get(arrow, None)
    assert spark.conf.get(manager, None) is None
    spark.conf.set("ksl.state.partitions", "7")
    try:
        # the Arrow and manager keys unset (the overrides must be unset
        # again), then set
        for arrow_prior, manager_prior in ((None, None), ("777", file_context)):
            for k, v in ((arrow, arrow_prior), (manager, manager_prior)):
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            before = session_conf()
            assert before[1:] == (arrow_prior, manager_prior)
            assert before[0] != "7"

            ckpt = f"{tmpdir}/mem-{arrow_prior}"
            runner.run_to_memory(
                counted(), f"scoped_mem_{arrow_prior}", "complete",
                checkpoint=ckpt, arrow_batch_rows=12345,
            )
            assert session_conf() == before
            assert checkpoint_partitions(ckpt) == "7"
            got = spark.table(f"scoped_mem_{arrow_prior}").collect()
            assert sorted(map(tuple, got)) == [("a", 1), ("b", 1)]

            ckpt = f"{tmpdir}/batches-{arrow_prior}"
            batches = runner.run_collect_batches(
                counted(), "complete", checkpoint=ckpt
            )
            assert session_conf() == before
            assert checkpoint_partitions(ckpt) == "7"
            assert sorted(tuple(r) for b in batches for r in b) == [
                ("a", 1), ("b", 1)
            ]

            with pytest.raises(Exception, match="amount < 0"):
                runner.run_to_memory(
                    failing(), f"scoped_fail_{arrow_prior}", "append",
                    arrow_batch_rows=12345,
                )
            assert session_conf() == before
            with pytest.raises(Exception, match="amount < 0"):
                runner.run_collect_batches(failing(), "append")
            assert session_conf() == before
    finally:
        spark.conf.unset("ksl.state.partitions")
        spark.conf.unset(manager)
        if prior_arrow is None:
            spark.conf.unset(arrow)
        else:
            spark.conf.set(arrow, prior_arrow)


def test_local_checkpoints_use_filesystem_manager(spark, tmpdir):
    """`_run_to_completion` attaches the checkpoint and, for a local one
    (a plain path, a `file:` URI, a scheme-less path under the default
    local `fs.defaultFS`), sets the FileSystem-based checkpoint manager
    for the run; an `hdfs://` URI, or a scheme-less path when the
    default filesystem is not local, sees the session's value. The
    session conf is restored after every run."""
    key = "spark.sql.streaming.checkpointFileManagerClass"
    local = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    seen = []

    class FakeQuery:
        def processAllAvailable(self):
            pass

        def stop(self):
            pass

        def awaitTermination(self):
            pass

    class FakeWriter:
        def option(self, k, v):
            self.opts = {k: v}
            return self

        def start(self):
            seen.append((self.opts, spark.conf.get(key, None)))
            return FakeQuery()

    def manager_at_start(ckpt):
        seen.clear()
        runner._run_to_completion(spark, FakeWriter(), ckpt, {})
        ((opts, manager),) = seen
        assert opts == {"checkpointLocation": ckpt}
        return manager

    assert spark.conf.get(key, None) is None
    assert manager_at_start(f"{tmpdir}/ckpt") == local
    assert manager_at_start(f"file://{tmpdir}/ckpt") == local
    assert manager_at_start("hdfs://namenode:8020/ckpt") is None
    assert spark.conf.get(key, None) is None
    try:
        spark.conf.set(key, "session.Manager")
        assert manager_at_start("hdfs://namenode:8020/ckpt") == "session.Manager"
        assert manager_at_start(f"{tmpdir}/ckpt") == local
        assert spark.conf.get(key) == "session.Manager"
        spark.conf.set("fs.defaultFS", "hdfs://namenode:8020")
        assert manager_at_start("/ckpt") == "session.Manager"
        assert manager_at_start(f"file://{tmpdir}/ckpt") == local
    finally:
        spark.conf.unset(key)
        spark.conf.unset("fs.defaultFS")


def test_local_checkpoint_keeps_integrity_files_and_restarts(spark, tmpdir):
    """A stateful run on a local checkpoint commits through the
    FileSystem-based manager and still leaves every integrity file: the
    RocksDB changelog, Spark's checksum file beside it, Hadoop's `.crc`
    sidecars of both, `.crc` sidecars on the offset and commit logs, and
    no temp file. A restart from that checkpoint reaches the same result
    as one uninterrupted run."""
    import os

    base = ts("2024-01-01T00:00:00")
    data_dir = f"{tmpdir}/data"
    ckpt = f"{tmpdir}/ckpt"
    stage_explicit_chunks(
        spark,
        [[("a", 1, 10.0, base), ("b", 2, 10.0, base)], [("a", 3, 10.0, base)]],
        EVENTS_SCHEMA, data_dir,
    )

    def counted():
        return replay_stream(spark, data_dir, EVENTS_SCHEMA).groupBy("key").count()

    runner.run_collect_batches(counted(), "complete", checkpoint=ckpt)
    files = {
        os.path.relpath(os.path.join(root, f), ckpt)
        for root, _dirs, names in os.walk(ckpt)
        for f in names
    }
    assert not [f for f in files if f.endswith(".tmp") or ".tmp." in f]
    for log in ("offsets", "commits"):
        assert {f"{log}/0", f"{log}/.0.crc", f"{log}/1", f"{log}/.1.crc"} <= files
    store_dirs = {os.path.dirname(f) for f in files if f.endswith(".changelog")}
    assert store_dirs
    for d in store_dirs:
        for v in (1, 2):
            assert {
                f"{d}/{v}.changelog",
                f"{d}/{v}.changelog.crc",
                f"{d}/.{v}.changelog.crc",
                f"{d}/.{v}.changelog.crc.crc",
            } <= files, d

    stage_explicit_chunks(
        spark, [[("b", 4, 10.0, base), ("c", 5, 10.0, base)]],
        EVENTS_SCHEMA, data_dir + "/chunk=99999-extra",
    )
    resumed = runner.run_collect_batches(counted(), "complete", checkpoint=ckpt)
    control = runner.run_collect_batches(counted(), "complete")
    assert len(resumed) == 1  # only the appended chunk was replayed
    assert sorted(map(tuple, resumed[-1])) == sorted(map(tuple, control[-1]))
    assert sorted(map(tuple, control[-1])) == [("a", 2), ("b", 2), ("c", 1)]


def test_hopping_append_and_late_drop(spark, tmpdir):
    """§2.7 hopping + grace-0, append mode: a record landing in TWO
    overlapping windows is finalized into both exactly once; a record
    older than the watermark is dropped from BOTH its windows, neither
    re-counting nor re-opening them (mirror of the tumbling A3 contract
    at overlapping-window fan-out)."""
    base = ts("2024-01-01T00:01:00")
    m = dt.timedelta(minutes=1)
    chunks = [
        # land in [00:00,00:02) and [00:01,00:03)
        [("k", 1, 1.0, base), ("k", 2, 1.0, base + dt.timedelta(seconds=30))],
        [("k", 3, 1.0, base + 9 * m)],       # advance event time
        [("k", 9, 1.0, base + 9 * m + dt.timedelta(seconds=10))],  # close+evict
        [("k", 4, 1.0, base + dt.timedelta(seconds=45))],  # late → dropped
        [("k", 5, 1.0, base + 11 * m)],      # surface any wrongly re-opened window
    ]
    stage_explicit_chunks(spark, chunks, EVENTS_SCHEMA, tmpdir)
    stream = replay_stream(spark, tmpdir, EVENTS_SCHEMA)
    counted = windows.streaming_hopping_count(stream, "ts", "2 minutes", "1 minute", "key")
    runner.run_to_memory(counted, "hopping_out", "append")
    early = sorted(
        (r.window_start, r.cnt)
        for r in spark.table("hopping_out").collect()
        if r.window_start <= base
    )
    # each overlapping early window emitted exactly once with exactly 2
    assert early == [(base - m, 2), (base, 2)]


def test_streaming_gk_quantiles_track_exact(spark, tmpdir):
    """s11's fixed-memory arm: GK-sketch percentiles maintained by the
    streaming engine (complete mode) track the exact batch form within
    the x24 tolerance — the scale path for streaming percentile
    dashboards (exact streaming percentiles buffer values per key)."""
    from kafka_streams_learning_spark.operators import core
    from kafka_streams_learning_spark.sources.batch import load_table
    from kafka_streams_learning_spark.sources.replay import replay_table

    from .conftest import SF_DIR

    qs = [0.25, 0.5, 0.9]
    orders = load_table(spark, SF_DIR, "orders")
    exact = {
        r.o_orderpriority: r
        for r in core.quantile_stats(
            orders, "o_totalprice", qs, "o_orderpriority"
        ).collect()
    }
    stream = replay_table(spark, SF_DIR, "orders", tmpdir, 4, order_by="o_orderdate")
    approx = core.approx_quantile_stats(stream, "o_totalprice", qs, "o_orderpriority")
    runner.run_to_memory(approx, "s11_gk_out", "complete")
    got = {r.o_orderpriority: r for r in spark.table("s11_gk_out").collect()}
    assert set(got) == set(exact)
    for k, e in exact.items():
        assert got[k]["n"] == e["n"]
        for col in ("p25", "p50", "p90"):
            assert abs(got[k][col] - e[col]) <= 0.02 * abs(e[col]) + 1e-9, (
                k, col, e[col], got[k][col],
            )


def test_checkpoint_recovery_quantile_state(spark, tmpdir):
    """s11's state class through kill/restart: exact percentiles buffer a
    key's VALUES in aggregation state (TypedImperativeAggregate), so
    recovery must restore the whole buffer, not just a counter — restart
    from checkpoint over a grown source must equal one uninterrupted run
    (including the interpolated percentile over pre- and post-restart
    values together)."""
    from kafka_streams_learning_spark.operators import core

    base = ts("2024-01-01T00:00:00")
    data_dir = tmpdir + "/data"
    ckpt = tmpdir + "/ckpt"
    stage_explicit_chunks(
        spark,
        [[("a", 1, 10.0, base)], [("a", 2, 20.0, base), ("b", 3, 5.0, base)]],
        EVENTS_SCHEMA,
        data_dir,
    )
    stats = core.quantile_stats(
        replay_stream(spark, data_dir, EVENTS_SCHEMA), "amount", [0.5], "key"
    )
    run1 = runner.run_collect_batches(stats, "complete", checkpoint=ckpt)
    assert run1

    stage_explicit_chunks(
        spark,
        [[("a", 4, 30.0, base), ("a", 5, 40.0, base)]],
        EVENTS_SCHEMA,
        data_dir + "/chunk=99999-extra",
    )
    stats2 = core.quantile_stats(
        replay_stream(spark, data_dir, EVENTS_SCHEMA), "amount", [0.5], "key"
    )
    run2 = runner.run_collect_batches(stats2, "complete", checkpoint=ckpt)
    final = {r.key: (r.n, r.vmin, r.vmax, r.p50) for r in run2[-1]}
    # a: values {10,20,30,40} -> median 25.0 interpolated ACROSS the restart
    # boundary (possible only if the pre-restart value buffer was restored)
    assert final == {
        "a": (4, 10.0, 40.0, 25.0),
        "b": (1, 5.0, 5.0, 5.0),
    }


def test_ordered_asof_checkpoint_recovery(spark, tmpdir):
    """§5.2-5 for the reorder-buffer as-of operator: BOTH state pieces —
    the (pts, pid) last-purchase state and the pending reorder buffer of
    not-yet-released rows — survive a restart from checkpoint. Rows
    buffered before the crash are released and enriched after it,
    without re-emitting the pre-crash output."""
    base = ts("2024-01-01T00:00:00")
    data_dir = tmpdir + "/data"
    ckpt = tmpdir + "/ckpt"
    m = lambda mins: base + dt.timedelta(minutes=mins)
    # run 1: purchase at t0 arrives AFTER a later view (disorder), then a
    # watermark-advancing row. wm after batch 2 = 12m - 10m = 2m, so only
    # the purchase (t=0) is released; the views stay in the buffer.
    stage_explicit_chunks(
        spark,
        [
            [(2, 1, m(5), "view"), (1, 1, m(0), "purchase")],
            [(3, 1, m(12), "view")],
        ],
        ASOF_SCHEMA,
        data_dir,
    )
    enr = stateful.ordered_asof_join_stream(
        replay_stream(spark, data_dir, ASOF_SCHEMA), disorder="10 minutes"
    )
    run1 = [r for b in runner.run_collect_batches(enr, "append", checkpoint=ckpt) for r in b]
    assert [(r.event_id, r.last_purchase_id) for r in run1] == [(1, None)]

    # the query dies; later data arrives and advances the watermark far
    # enough to release the buffered views — they must enrich from the
    # RESTORED purchase state, and event 1 must not re-emit
    stage_explicit_chunks(
        spark,
        [[(4, 1, m(40), "view")], [(5, 1, m(60), "view")]],
        ASOF_SCHEMA,
        data_dir + "/chunk=99999-extra",
    )
    enr2 = stateful.ordered_asof_join_stream(
        replay_stream(spark, data_dir, ASOF_SCHEMA), disorder="10 minutes"
    )
    run2 = [r for b in runner.run_collect_batches(enr2, "append", checkpoint=ckpt) for r in b]
    got = [(r.event_id, r.last_purchase_id, r.micros_since_purchase) for r in run2]
    assert got == [
        (2, 1, 5 * 60 * 1_000_000),
        (3, 1, 12 * 60 * 1_000_000),
        (4, 1, 40 * 60 * 1_000_000),
    ]


def test_ordered_sliding_checkpoint_recovery(spark, tmpdir):
    """§5.2-5 for the reorder-buffer sliding count: BOTH state pieces —
    the per-user lookback window buffer and the pending reorder buffer —
    survive a restart from checkpoint. The pre-crash released event (t0)
    must still be IN the restored window buffer so the post-crash release
    of t5 counts it; rows buffered before the crash release after it
    without re-emitting the pre-crash output."""
    base = ts("2024-01-01T00:00:00")
    data_dir = tmpdir + "/data"
    ckpt = tmpdir + "/ckpt"
    m = lambda mins: base + dt.timedelta(minutes=mins)
    schema = "user_id long, event_id long, ts timestamp"
    lookback = 10 * 60 * 1_000_000
    stage_explicit_chunks(
        spark,
        [[(1, 10, m(0)), (1, 11, m(5))], [(1, 12, m(12))]],
        schema,
        data_dir,
    )
    out = stateful.ordered_sliding_count_stream(
        replay_stream(spark, data_dir, schema), lookback, disorder="10 minutes"
    )
    run1 = [
        r
        for b in runner.run_collect_batches(out, "append", checkpoint=ckpt)
        for r in b
    ]
    assert [(r.event_id, r.cnt) for r in run1] == [(10, 1)]

    # the query dies; later data advances the watermark enough to release
    # the buffered t5/t12 rows — t5's count must include the RESTORED t0
    # window-buffer entry, and event 10 must not re-emit
    stage_explicit_chunks(
        spark,
        [[(1, 13, m(40))], [(1, 14, m(60))]],
        schema,
        data_dir + "/chunk=99999-extra",
    )
    out2 = stateful.ordered_sliding_count_stream(
        replay_stream(spark, data_dir, schema), lookback, disorder="10 minutes"
    )
    run2 = [
        r
        for b in runner.run_collect_batches(out2, "append", checkpoint=ckpt)
        for r in b
    ]
    assert [(r.event_id, r.cnt) for r in run2] == [(11, 2), (12, 2), (13, 1)]


def test_streaming_neardup_merges_across_batches(spark, tmpdir):
    """s15: a batch-2 document whose MinHash bucket collides with a
    batch-1 document merges into the SAME group (keep_id = first arrival
    by doc_id); a distinct doc forms its own bucket."""
    from kafka_streams_learning_spark.catalog_ext import JACCARD_K, MINHASH_PERMS
    from kafka_streams_learning_spark.functions.hashing import hash32, perm_hash
    from kafka_streams_learning_spark.functions.text import word_shingles

    schema = "doc_id long, text string"
    same = "the quick brown fox jumps over the lazy dog"
    chunks = [
        [(1, same), (2, "completely different text about spark streaming")],
        [(3, same)],  # near-dup of doc 1, arrives a batch later
    ]
    stage_explicit_chunks(spark, chunks, schema, tmpdir)
    stream = replay_stream(spark, tmpdir, schema)
    harr = F.transform(word_shingles(F.col("text"), JACCARD_K), lambda s: hash32(s))
    mins = [
        F.array_min(F.transform(harr, lambda h: perm_hash(h, i))).cast("string")
        for i in range(MINHASH_PERMS)
    ]
    groups = (
        stream.select("doc_id", F.md5(F.concat_ws("_", *mins)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_members"))
    )
    name = "s15_test_out"
    runner.run_to_memory(groups, name, "complete", state_partitions=2)
    rows = sorted(spark.table(name).collect(), key=lambda r: r["keep_id"])
    assert [(r["keep_id"], r["n_members"]) for r in rows] == [(1, 2), (2, 1)]


def test_streaming_interval_join_left_outer(spark, tmpdir):
    """J2's outer sibling (the windowed leftJoin): an unmatched left row
    emits with NULLs on the right — but only after the GLOBAL watermark
    passes its join window, so the replay carries a far-future flush row
    on BOTH streams (the s07 sentinel pattern, as s23 stages it)."""
    base = ts("2024-01-01T00:00:00")
    flush = base + dt.timedelta(days=1)
    o_schema = "o_key string, o_id long, o_ts timestamp"
    p_schema = "p_key string, p_amount double, p_ts timestamp"
    stage_explicit_chunks(
        spark,
        [[("1", 10, base), ("2", 20, base)], [("F", -1, flush)]],
        o_schema,
        tmpdir + "/orders",
    )
    stage_explicit_chunks(
        spark,
        [[("1", 99.0, base + dt.timedelta(minutes=3))], [("Fp", 0.0, flush)]],
        p_schema,
        tmpdir + "/pays",
    )
    j = windows.streaming_interval_join(
        replay_stream(spark, tmpdir + "/orders", o_schema),
        replay_stream(spark, tmpdir + "/pays", p_schema),
        "o_key", "p_key", "o_ts", "p_ts", "5 minutes", how="left_outer",
    )
    batches = runner.run_collect_batches(j, "append")
    rows = [(r.o_key, r.p_amount) for b in batches for r in b if r.o_key != "F"]
    assert sorted(rows) == [("1", 99.0), ("2", None)]
    # the NULL emission is watermark-gated: it cannot be in the first
    # batch, before the flush rows advanced the watermark
    assert ("2", None) not in [(r.o_key, r.p_amount) for r in batches[0]]


def test_outer_interval_join_checkpoint_recovery(spark, tmpdir):
    """§5.2-5 for stream-stream OUTER join state: kill the query while a
    left row's join window is still open, deliver the flush sentinels
    while it is down, restart from the same checkpoint — the NULL
    emission must fire after recovery, from RESTORED two-sided join
    state, and nothing may emit twice."""
    base = ts("2024-01-01T00:00:00")
    flush = base + dt.timedelta(days=1)
    o_schema = "o_key string, o_id long, o_ts timestamp"
    p_schema = "p_key string, p_amount double, p_ts timestamp"
    o_dir, p_dir, ckpt = tmpdir + "/o", tmpdir + "/p", tmpdir + "/ckpt"
    stage_explicit_chunks(
        spark, [[("1", 10, base), ("2", 20, base)]], o_schema, o_dir
    )
    stage_explicit_chunks(
        spark, [[("1", 99.0, base + dt.timedelta(minutes=3))]], p_schema, p_dir
    )

    def q():
        return windows.streaming_interval_join(
            replay_stream(spark, o_dir, o_schema),
            replay_stream(spark, p_dir, p_schema),
            "o_key", "p_key", "o_ts", "p_ts", "5 minutes", how="left_outer",
        )

    run1 = runner.run_collect_batches(q(), "append", checkpoint=ckpt)
    got1 = [(r.o_key, r.p_amount) for b in run1 for r in b]
    assert ("2", None) not in got1  # the window was still open at the kill

    # the flush sentinels arrive while the query is down
    stage_explicit_chunks(
        spark, [[("F", -1, flush)]], o_schema, o_dir + "/chunk=99999-extra"
    )
    stage_explicit_chunks(
        spark, [[("Fp", 0.0, flush)]], p_schema, p_dir + "/chunk=99999-extra"
    )
    run2 = runner.run_collect_batches(q(), "append", checkpoint=ckpt)
    got2 = [(r.o_key, r.p_amount) for b in run2 for r in b]
    assert ("2", None) in got2  # restored state emitted the NULL row

    all_rows = [t for t in got1 + got2 if t[0] != "F"]
    assert sorted(all_rows) == [("1", 99.0), ("2", None)]


def test_streaming_star_rollup_aggregates_across_batches(spark, tmpdir):
    """s24: facts arriving in different micro-batches fold into ONE
    rollup row per (region, nation, brand) — the complete-mode final
    state equals the batch star_rollup over the concatenated input, and
    the integer cents/qty sums are exact across the batch boundary."""
    from kafka_streams_learning_spark.catalog_ext import star_rollup

    li_schema = (
        "l_suppkey long, l_partkey long, l_quantity double, "
        "l_extendedprice double, l_discount double, l_shipdate timestamp"
    )
    base = ts("2024-01-01T00:00:00")
    chunks = [
        [(1, 1, 2.0, 100.0, 0.1, base), (2, 1, 1.0, 50.0, 0.0, base)],
        # same (region, nation, brand) as row 1 — must merge across batches
        [(1, 1, 3.0, 10.0, 0.5, base + dt.timedelta(days=1))],
    ]
    stage_explicit_chunks(spark, chunks, li_schema, tmpdir)
    sup = spark.createDataFrame(
        [(1, 10), (2, 20)], "s_suppkey long, s_nationkey long"
    )
    nat = spark.createDataFrame(
        [(10, "FRANCE", 100), (20, "KENYA", 200)],
        "n_nationkey long, n_name string, n_regionkey long",
    )
    reg = spark.createDataFrame(
        [(100, "EUROPE"), (200, "AFRICA")], "r_regionkey long, r_name string"
    )
    prt = spark.createDataFrame([(1, "B#1")], "p_partkey long, p_brand string")

    rolled = star_rollup(
        replay_stream(spark, tmpdir, li_schema), sup, nat, reg, prt
    )
    runner.run_to_memory(rolled, "s24_test_out", "complete", state_partitions=2)
    got = {
        (r.region, r.nation, r.brand): (r.n_items, r.sum_qty, r.revenue_cents)
        for r in spark.table("s24_test_out").collect()
    }
    # EUROPE row: batches 1+2 merged; cents = round(100*0.9*100) + round(10*0.5*100)
    assert got == {
        ("EUROPE", "FRANCE", "B#1"): (2, 5, 9000 + 500),
        ("AFRICA", "KENYA", "B#1"): (1, 1, 5000),
    }


def test_statestore_read_matches_sink_table(spark, tmpdir):
    """IQ1 both access paths on one checkpoint (s02's shape): the
    `statestore` reader over the query's live checkpoint must return
    exactly the rows the complete-mode sink table holds — the store IS
    the result, the sink is just its published snapshot."""
    from kafka_streams_learning_spark.streaming import interactive

    base = ts("2024-01-01T00:00:00")
    data_dir = tmpdir + "/data"
    ckpt = tmpdir + "/ckpt"
    rows = [
        [("107", 1, 1.0, base), ("200", 2, 1.0, base + dt.timedelta(seconds=40))],
        [("107", 3, 1.0, base + dt.timedelta(minutes=2))],
    ]
    stage_explicit_chunks(spark, rows, EVENTS_SCHEMA, data_dir)
    counted = windows.streaming_tumbling_count(
        replay_stream(spark, data_dir, EVENTS_SCHEMA), "ts", "1 minute", "key"
    )
    runner.run_to_memory(counted, "iq_paths_out", "complete", checkpoint=ckpt)

    sink = {
        (r.key, r.window_start, r.window_end, r.cnt)
        for r in spark.table("iq_paths_out").collect()
    }
    store = {
        (r.key, r.window_start, r.window_end, r.cnt)
        for r in interactive.read_state(spark, ckpt)
        .select(
            F.col("key.key").alias("key"),
            F.col("key.window.start").alias("window_start"),
            F.col("key.window.end").alias("window_end"),
            # the store's value struct holds the raw agg buffer field
            # (`count`), not the post-agg projection alias (`cnt`)
            F.col("value.count").alias("cnt"),
        )
        .collect()
    }
    assert store == sink and len(sink) == 3


def test_star_rollup_checkpoint_recovery(spark, tmpdir):
    """§5.2-5 for s24's shape: kill the streaming star rollup after the
    first fact chunk, let more facts arrive, restart from the same
    checkpoint — the folded update-mode changelog equals the
    uninterrupted totals and never regresses (the stream-static
    broadcast joins are stateless; all recovered state is the rollup
    aggregate)."""
    from kafka_streams_learning_spark.catalog_ext import star_rollup

    li_schema = (
        "l_suppkey long, l_partkey long, l_quantity double, "
        "l_extendedprice double, l_discount double, l_shipdate timestamp"
    )
    base = ts("2024-01-01T00:00:00")
    data_dir = tmpdir + "/facts"
    ckpt = tmpdir + "/ckpt"
    sup = spark.createDataFrame([(1, 10)], "s_suppkey long, s_nationkey long")
    nat = spark.createDataFrame(
        [(10, "FRANCE", 100)], "n_nationkey long, n_name string, n_regionkey long"
    )
    reg = spark.createDataFrame([(100, "EUROPE")], "r_regionkey long, r_name string")
    prt = spark.createDataFrame([(1, "B#1")], "p_partkey long, p_brand string")

    stage_explicit_chunks(
        spark, [[(1, 1, 2.0, 100.0, 0.0, base)]], li_schema, data_dir
    )
    r1 = runner.run_collect_batches(
        star_rollup(replay_stream(spark, data_dir, li_schema), sup, nat, reg, prt),
        "update", checkpoint=ckpt,
    )
    assert r1

    stage_explicit_chunks(
        spark, [[(1, 1, 3.0, 50.0, 0.0, base + dt.timedelta(days=1))]],
        li_schema, data_dir + "/chunk=99999-extra",
    )
    r2 = runner.run_collect_batches(
        star_rollup(replay_stream(spark, data_dir, li_schema), sup, nat, reg, prt),
        "update", checkpoint=ckpt,
    )

    final = {}
    for batch in r1 + r2:
        for r in batch:
            key = (r.region, r.nation, r.brand)
            prev = final.get(key, (0, 0, 0))
            assert r.n_items > prev[0], "rollup regressed after restart"
            final[key] = (r.n_items, r.sum_qty, r.revenue_cents)
    assert final == {("EUROPE", "FRANCE", "B#1"): (2, 5, 10000 + 5000)}


DOCS_SCHEMA = "doc_id long, text string"


def test_dedup_state_kill_and_resume_matches_uninterrupted(spark, tmpdir):
    """VERDICT r10 item 7: the r10 LSH changes touched the signature
    family s15 shares, so drive BOTH streaming-dedup state machines —
    s08's fingerprint groups and s15's MinHash-bucket groups, via the
    exact catalog constructions — through a kill mid-replay and a
    resume-from-checkpoint over a grown source. Final complete-mode
    state must be hash-equal to one uninterrupted run."""
    from kafka_streams_learning_spark.catalog_streaming import (
        s08_dedup_groups,
        s15_neardup_groups,
    )

    # duplicates across the kill boundary: doc 20 repeats doc 0's text
    # exactly (s08 group) and doc 21 is a same-signature near-dup of
    # doc 1 under the single-band full-signature bucket (identical text
    # => identical signature; a tail edit would split the full-sig
    # bucket, so exact repeats are the adversarial case for BOTH)
    early = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "spark streams state is restored from the changelog checkpoint"),
        (2, "a completely unrelated document about parquet row groups"),
        (3, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    late = [
        (20, "the quick brown fox jumps over the lazy dog again and again"),
        (21, "spark streams state is restored from the changelog checkpoint"),
        (22, "new content arriving after the restart with fresh words"),
    ]

    for tag, groups_fn in (("s08", s08_dedup_groups), ("s15", s15_neardup_groups)):
        data_dir = f"{tmpdir}/{tag}-data"
        ckpt = f"{tmpdir}/{tag}-ckpt"
        stage_explicit_chunks(
            spark, [early[:2], early[2:]], DOCS_SCHEMA, data_dir
        )
        # run 1 processes the staged prefix, then the query stops — the
        # "kill": state lives only in the checkpoint now
        runner.run_to_memory(
            groups_fn(replay_stream(spark, data_dir, DOCS_SCHEMA)),
            f"{tag}_rec_run1", "complete", checkpoint=ckpt,
        )
        assert spark.table(f"{tag}_rec_run1").count() > 0

        # corpus grows while the query is down
        stage_explicit_chunks(
            spark, [late], DOCS_SCHEMA, data_dir + "/chunk=99999-extra"
        )
        runner.run_to_memory(
            groups_fn(replay_stream(spark, data_dir, DOCS_SCHEMA)),
            f"{tag}_rec_resumed", "complete", checkpoint=ckpt,
        )
        resumed = sorted(map(tuple, spark.table(f"{tag}_rec_resumed").collect()))

        # uninterrupted control: all chunks, fresh checkpoint
        runner.run_to_memory(
            groups_fn(replay_stream(spark, data_dir, DOCS_SCHEMA)),
            f"{tag}_rec_control", "complete",
        )
        control = sorted(map(tuple, spark.table(f"{tag}_rec_control").collect()))
        assert resumed == control, tag

        # the state actually carried across: doc 0's group counts both
        # sides of the kill (min-id keeper from run 1, count includes
        # the post-restart duplicate)
        keepers = {r[1]: r[2] for r in resumed}  # keep_id -> count
        assert keepers[0] == 3, keepers  # docs 0, 3 (pre) + 20 (post)
        assert keepers[1] == 2, keepers  # doc 1 (pre) + 21 (post)


def test_pin_shard_count_fails_fast_on_mismatch(tmpdir):
    """`pin_shard_count` (ADVICE r11): the shard count is part of the
    checkpoint format for the shard-keyed stateful operators — the pin
    writes a marker on first use, accepts a matching restart, and
    refuses a mismatched one instead of silently orphaning state."""
    import os

    ckpt = os.path.join(str(tmpdir), "ckpt")
    stateful.pin_shard_count(ckpt, 32)
    stateful.pin_shard_count(ckpt, 32)  # same count restarts fine
    with pytest.raises(ValueError, match="n_shards=32"):
        stateful.pin_shard_count(ckpt, 16)
    # a pre-pin checkpoint (offsets exist, no marker) is adopted with a
    # warning, then pinned
    legacy = os.path.join(str(tmpdir), "legacy")
    os.makedirs(os.path.join(legacy, "offsets"))
    stateful.pin_shard_count(legacy, 8)
    with pytest.raises(ValueError, match="n_shards=8"):
        stateful.pin_shard_count(legacy, 32)


def test_state_budget_guard_fails_loudly(spark, tmpdir):
    """The per-shard packed-state budget (r12): a shard whose state
    would cross the budget must FAIL with sizing guidance instead of
    sailing toward Spark's >1 GiB input-transport livelock. Forced here
    by shrinking the budget to a few bytes on ordinary data."""
    base = ts("2024-01-01T00:00:00")
    schema = "user_id long, event_id long, ts timestamp"
    rows = [[(u, 100 + u, base + dt.timedelta(minutes=u)) for u in range(50)]]
    stage_explicit_chunks(spark, rows, schema, tmpdir)
    stream = replay_stream(spark, tmpdir, schema)
    # budget is PER SHARD: 50 users spread over 32 shards leave only a
    # couple of 8-byte buffer entries per shard, so the forced budget
    # must sit below one entry pair
    out = stateful.sliding_count_stream(
        stream, 60 * 60 * 1_000_000, _max_state_bytes=8
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(Exception, match="per-shard budget") as ei:
        runner.run_to_memory(out, "budget_guard_out", "append",
                             state_partitions=4)
    assert isinstance(ei.value, StreamingQueryException) or "budget" in str(
        ei.value
    )


def test_state_budget_boundary_under_budget_completes(spark, tmpdir):
    """Complement of the fails-loudly test (VERDICT r12 item 6): a shard
    whose packed state sits exactly AT the budget completes with correct
    counts, and one byte less fails — pins the guard's boundary so a
    packing change can't make it silently over-trigger. Single user →
    one shard; k buffered events in-window pack to exactly 2 int64
    arrays of k entries (buf_u, buf_t; pend arrays empty ⇒ b"")."""
    base = ts("2024-01-01T00:00:00")
    schema = "user_id long, event_id long, ts timestamp"
    k = 10
    rows = [[(7, 100 + i, base + dt.timedelta(seconds=i)) for i in range(k)]]
    exact_state_bytes = 2 * 8 * k

    def run(budget: int, name: str):
        d = f"{tmpdir}/{name}"
        stage_explicit_chunks(spark, rows, schema, d)
        out = stateful.sliding_count_stream(
            replay_stream(spark, d, schema),
            60 * 60 * 1_000_000,
            _max_state_bytes=budget,
        )
        runner.run_to_memory(out, name, "append", state_partitions=4)
        return spark.table(name)

    got = run(exact_state_bytes, "budget_at_bound")
    assert sorted(r.cnt for r in got.collect()) == list(range(1, k + 1))
    with pytest.raises(Exception, match="per-shard budget"):
        run(exact_state_bytes - 1, "budget_below_bound")


SLIDING_SCHEMA = "user_id long, event_id long, ts timestamp"
HOUR_MICROS = 60 * 60 * 1_000_000

# every shard-keyed operator: (input schema, row i at time t, build)
SHARD_KEYED_OPERATORS = {
    "fraud_alert_stream_sharded": (
        EVENTS_SCHEMA,
        lambda i, t: (f"k{i}", 100 + i, 600.0, t),
        lambda df, n: stateful.fraud_alert_stream_sharded(
            df, "key", 500.0, n_shards=n
        ),
    ),
    "sliding_count_stream": (
        SLIDING_SCHEMA,
        lambda i, t: (i, 100 + i, t),
        lambda df, n: stateful.sliding_count_stream(
            df, HOUR_MICROS, n_shards=n
        ),
    ),
    "asof_join_stream": (
        ASOF_SCHEMA,
        lambda i, t: (100 + i, i, t, "purchase"),
        lambda df, n: stateful.asof_join_stream(df, n_shards=n),
    ),
    "ordered_sliding_count_stream": (
        SLIDING_SCHEMA,
        lambda i, t: (i, 100 + i, t),
        lambda df, n: stateful.ordered_sliding_count_stream(
            df, HOUR_MICROS, disorder="1 hour", n_shards=n
        ),
    ),
    "ordered_asof_join_stream": (
        ASOF_SCHEMA,
        lambda i, t: (100 + i, i, t, "purchase"),
        lambda df, n: stateful.ordered_asof_join_stream(
            df, disorder="1 hour", n_shards=n
        ),
    ),
}


@pytest.mark.parametrize("op", sorted(SHARD_KEYED_OPERATORS))
def test_shard_count_tag_auto_pins_checkpoint(spark, tmpdir, op):
    """Every shard-keyed operator tags its output with n_shards and
    run_to_memory pins the checkpoint from the tag, its only source
    (ADVICE r12) — a restart with a different count then fails fast
    even for callers that never thread the count through."""
    import json
    import os

    schema, row, build = SHARD_KEYED_OPERATORS[op]
    base = ts("2024-01-01T00:00:00")
    rows = [[row(u, base + dt.timedelta(minutes=u)) for u in range(5)]]
    stage_explicit_chunks(spark, rows, schema, f"{tmpdir}/stage")
    out = build(replay_stream(spark, f"{tmpdir}/stage", schema), 6)
    assert out._ksl_shard_count == 6
    ckpt = f"{tmpdir}/ckpt"
    runner.run_to_memory(out, f"tag_pin_{op}", "append",
                         checkpoint=ckpt, state_partitions=4)
    with open(os.path.join(ckpt, "ksl-shard-count.json")) as fh:
        assert json.load(fh)["n_shards"] == 6
    with pytest.raises(ValueError, match="n_shards=6"):
        stateful.pin_shard_count(ckpt, 12)


def test_all_staged_one_batch_derives_file_count(spark, tmpdir):
    """ALL_STAGED_ONE_BATCH (ADVICE r12): the coalesced-replay trigger
    size comes from the staged data-file count on disk, so every staged
    chunk lands in ONE micro-batch regardless of chunk arithmetic."""
    from kafka_streams_learning_spark.sources.replay import (
        ALL_STAGED_ONE_BATCH,
        staged_data_file_count,
    )

    base = ts("2024-01-01T00:00:00")
    chunks = [
        [("a", 1, 10.0, base)],
        [("b", 2, 10.0, base + dt.timedelta(minutes=1))],
        [("c", 3, 10.0, base + dt.timedelta(minutes=2))],
    ]
    stage_explicit_chunks(spark, chunks, EVENTS_SCHEMA, tmpdir)
    assert staged_data_file_count(tmpdir) == 3
    stream = replay_stream(
        spark, tmpdir, EVENTS_SCHEMA,
        files_per_trigger=ALL_STAGED_ONE_BATCH,
    )
    batches = runner.run_collect_batches(
        stream.select("key", "record_id"), "append"
    )
    data_batches = [b for b in batches if b]
    assert len(data_batches) == 1
    assert sorted(r.key for r in data_batches[0]) == ["a", "b", "c"]


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_interval_join_coalescing_invariance(spark, tmpdir, seed):
    """Chunk coalescing (files_per_trigger > 1, the r12 s04/s23 change)
    must be result-invariant for the interval joins: the emitted set for
    BOTH inner and left-outer variants is identical whether the staged
    chunks replay one-per-micro-batch or all in one data batch. Randomized
    small replays so the invariance is pinned structurally, not just on
    the TPC-H fixture the probe used."""
    import random

    rng = random.Random(seed)
    base = ts("2024-01-01T00:00:00")
    flush = base + dt.timedelta(days=2)
    o_schema = "o_key string, o_id long, o_ts timestamp"
    p_schema = "p_key string, p_amount double, p_ts timestamp"
    orders = [
        (str(k), 10 + i, base + dt.timedelta(minutes=rng.randrange(0, 120)))
        for i, k in enumerate(rng.choices(range(6), k=12))
    ]
    pays = [
        (str(k), float(i), base + dt.timedelta(minutes=rng.randrange(0, 150)))
        for i, k in enumerate(rng.choices(range(6), k=12))
    ]
    orders.sort(key=lambda r: r[2])
    pays.sort(key=lambda r: r[2])

    def run(fpt: int, how: str, tag: str):
        od = f"{tmpdir}/o_{tag}"
        pdir = f"{tmpdir}/p_{tag}"
        stage_explicit_chunks(
            spark,
            [orders[:4], orders[4:8], orders[8:] + [("F", -1, flush)]],
            o_schema, od,
        )
        stage_explicit_chunks(
            spark,
            [pays[:4], pays[4:8], pays[8:] + [("Fp", 0.0, flush)]],
            p_schema, pdir,
        )
        j = windows.streaming_interval_join(
            replay_stream(spark, od, o_schema, files_per_trigger=fpt),
            replay_stream(spark, pdir, p_schema, files_per_trigger=fpt),
            "o_key", "p_key", "o_ts", "p_ts", "30 minutes", how=how,
        )
        batches = runner.run_collect_batches(j, "append")
        return sorted(
            (r.o_key, r.o_id, r.p_amount)
            for b in batches for r in b if r.o_key != "F"
        )

    for how in ("inner", "left_outer"):
        per_chunk = run(1, how, f"{how}_fpt1")
        coalesced = run(4, how, f"{how}_fpt4")
        assert coalesced == per_chunk, how


def test_derive_state_shards_formula():
    """VERDICT r14 item 4: shard count is a state-SIZE decision. The
    derivation is ceil(state_bytes / target) floored at `STATE_SHARDS`,
    the measured flat-bottom; unknown state keeps the floor exactly."""
    from kafka_streams_learning_spark.streaming.runner import (
        TARGET_STATE_BYTES_PER_SHARD as T,
        derive_state_shards,
    )

    assert derive_state_shards(None) == 8
    assert derive_state_shards(0) == 8
    assert derive_state_shards(1) == 8
    assert derive_state_shards(8 * T) == 8
    assert derive_state_shards(8 * T + 1) == 9
    assert derive_state_shards(12 * T) == 12


def test_interval_join_shards_stay_floored_at_gate_scales():
    """The driver benches at sf<=0.1: the volume derivation must keep
    8 shards there (state is tens of MB — the measured flat bottom);
    growth beyond the floor is for genuinely big state (sf1 probe,
    OPTIMIZATION_r15.md). This is the count s04/s23 ask for: the run
    caps it at the cores that run it (`runner._state_partitions`), so a
    4-core host runs 4 and a 32-core host keeps 8."""
    from kafka_streams_learning_spark.catalog_streaming import (
        STATE_SHARDS,
        _interval_join_shards,
    )

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        assert _interval_join_shards(f"/root/testdata/{sf}") == STATE_SHARDS


@pytest.mark.parametrize(
    "row", ["s04", "s23", "s12", "s20"],
)
def test_catalog_rows_drop_no_rows_by_watermark(spark, monkeypatch, row):
    """The watermark-drop contract the catalog states in prose: the
    coalesced interval joins (s04/s23) replay all input in one data
    batch, so the watermark is still unset when every row arrives, and
    the disorder of s12/s20 stays inside their 13 h bound — so no state
    operator of these rows drops a row as late. Read from the runs' own
    progress records, at whatever state partition count this host's
    cores give them."""
    import json
    import os
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    from kafka_streams_learning_spark.catalog import all_queries

    from .conftest import SF_DIR

    class Progress(StreamingQueryListener):
        """Every progress record, per query run; Spark delivers them
        asynchronously, so a caller waits for them by count."""

        def __init__(self):
            self.started: set[str] = set()
            self.records: list[dict] = []
            self._cv = threading.Condition()

        def onQueryStarted(self, event):
            with self._cv:
                self.started.add(str(event.runId))

        def onQueryProgress(self, event):
            rec = json.loads(event.progress.json)
            with self._cv:
                if rec["runId"] in self.started:
                    self.records.append(rec)
                    self._cv.notify_all()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def wait(self, batches: int, timeout: float = 30.0) -> list[dict]:
            def ready():
                seen = {(p["runId"], p["batchId"]) for p in self.records}
                return len(seen) >= batches

            with self._cv:
                if not self._cv.wait_for(ready, timeout):
                    raise RuntimeError("streaming progress was not delivered")
                return list(self.records)

    checkpoints = []
    fresh = runner._checkpoint

    def recorded_checkpoint():
        checkpoints.append(fresh())
        return checkpoints[-1]

    monkeypatch.setattr(runner, "_checkpoint", recorded_checkpoint)
    (spec,) = [q for q in all_queries() if q.name.startswith(row + "_")]
    progress = Progress()
    spark.streams.addListener(progress)
    try:
        spec.spark(spark, SF_DIR).count()
        # one commit file per executed batch, one progress record each
        batches = sum(
            name.isdigit()
            for ckpt in checkpoints
            for name in os.listdir(os.path.join(ckpt, "commits"))
        )
        assert batches > 0
        records = progress.wait(batches)
    finally:
        spark.streams.removeListener(progress)
    operators = [op for p in records for op in p["stateOperators"]]
    assert operators, f"{row}: no progress record carries a state operator"
    assert sum(op["numRowsDroppedByWatermark"] for op in operators) == 0
