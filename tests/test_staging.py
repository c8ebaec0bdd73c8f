"""Tests for the run-scoped staging helpers (`sources/replay.py`) and
`materialized` (`operators/materialize.py`) — s07 correctness depends on
footer-stats reads and the INT96→INT64 staging-write interaction, so
these are pinned directly, not only through the streaming suite."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from kafka_streams_learning_spark.operators.materialize import materialized
from kafka_streams_learning_spark.sources.replay import (
    run_named_dir,
    run_staging_dir,
    stage_replay_chunks,
    staged_column_max,
)


def test_run_staging_dirs_are_distinct_and_named_dirs_stable():
    a, b = run_staging_dir("t"), run_staging_dir("t")
    assert a != b and os.path.isdir(a) and os.path.isdir(b)
    n1, n2 = run_named_dir("mat-x"), run_named_dir("mat-x")
    assert n1 == n2 and os.path.isdir(n1)
    # all live under one run root that atexit removes
    assert os.path.dirname(a) == os.path.dirname(n1)


def test_staged_column_max_reads_footer_stats(spark):
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 5)),
        (2, dt.datetime(2024, 1, 2, 12, 30, 0)),
        (3, dt.datetime(2024, 1, 1, 23, 59, 59)),
        (4, dt.datetime(2024, 1, 3, 6, 0, 1)),  # the known max
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    d = run_staging_dir("statmax")
    stage_replay_chunks(df, d, chunks=2, order_by="ts")
    got = staged_column_max(d, "ts")  # pyarrow returns tz-aware UTC
    assert got.replace(tzinfo=None) == dt.datetime(2024, 1, 3, 6, 0, 1)
    # numeric columns work the same way
    assert staged_column_max(d, "id") == 4


def test_staged_column_max_rejects_string_stats(spark):
    # BYTE_ARRAY footer stats may be truncated bounds → must refuse,
    # never silently return a value larger than any real row
    df = spark.createDataFrame([(1, "zzz"), (2, "aaa")], "id long, s string")
    d = run_staging_dir("statstr")
    stage_replay_chunks(df, d, chunks=1, order_by="id")
    with pytest.raises(TypeError, match="truncated"):
        staged_column_max(d, "s")


def test_stage_replay_chunks_restores_timestamp_conf(spark):
    key = "spark.sql.parquet.outputTimestampType"
    spark.conf.unset(key)
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1))], "id long, ts timestamp"
    )
    stage_replay_chunks(df, run_staging_dir("conf"), chunks=1, order_by="ts")
    # unset again afterwards, not pinned to the default it reads back as
    assert spark.conf.get(key, None) is None
    # an explicit session setting survives staging, a failed one included
    spark.conf.set(key, "INT96")
    try:
        stage_replay_chunks(df, run_staging_dir("conf"), chunks=1, order_by="ts")
        assert spark.conf.get(key) == "INT96"
        failing = df.withColumn("boom", F.raise_error(F.lit("boom")))
        with pytest.raises(Exception, match="boom"):  # fails inside the write
            stage_replay_chunks(
                failing, run_staging_dir("conf"), chunks=1, order_by="ts"
            )
        assert spark.conf.get(key) == "INT96"
    finally:
        spark.conf.unset(key)
    # ...but the staged files themselves carried INT64 stats (the point
    # of the scoped override): footer max is readable
    d = run_staging_dir("conf2")
    stage_replay_chunks(df, d, chunks=1, order_by="ts")
    assert staged_column_max(d, "ts").replace(tzinfo=None) == dt.datetime(2024, 1, 1)


def test_stage_replay_chunks_never_splits_equal_ts_runs(spark):
    """Chunk cuts snap to event-time run boundaries: rows sharing an
    `order_by` value all land in ONE chunk file, so order-sensitive
    keyed-state operators (s06 symmetric ties, s09 strict as-of) never
    observe a tie group in fragments. ntile alone cuts on row counts and
    WOULD split the runs below."""
    base = dt.datetime(2024, 1, 1)
    # 12 rows over 4 distinct timestamps (3 rows each); 3 chunks of 4
    # rows would split every other run without snapping
    rows = [
        (i, base + dt.timedelta(hours=i % 4)) for i in range(12)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    d = run_staging_dir("snap")
    stage_replay_chunks(df, d, chunks=3, order_by="ts")

    import pyarrow.parquet as pq

    ts_to_chunks: dict = {}
    for dirpath, _dirs, files in os.walk(d):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(dirpath, fn), columns=["ts"])
            for v in t.column("ts").to_pylist():
                ts_to_chunks.setdefault(v, set()).add(dirpath)
    assert len(ts_to_chunks) == 4
    for v, dirs in ts_to_chunks.items():
        assert len(dirs) == 1, f"run {v} straddles chunks {dirs}"
    # all rows survived the snap
    assert sum(1 for _ in rows) == 12


def _chunk_files(d: str) -> list[str]:
    """The staging's data files in chunk order."""
    return [
        os.path.join(d, c, f)
        for c in sorted(os.listdir(d))
        for f in sorted(os.listdir(os.path.join(d, c)))
        if f.startswith("part-") and f.endswith(".parquet")
    ]


def test_stage_replay_chunks_one_job_same_files(spark):
    """Staging is one partitioned write, not a job per chunk: one Spark
    job (with AQE off; AQE runs the window's shuffle as a job of its
    own), nothing left persisted, one data file per chunk holding exactly
    `ranked_chunks` filtered to that chunk in ranking order, and data-file
    mtimes strictly increasing with the chunk number — the order the file
    source replays them in."""
    import pyarrow.parquet as pq

    from kafka_streams_learning_spark.sources.replay import ranked_chunks

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=(i * 7) % 60), f"k{i % 3}")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, key string")
    chunks = 6
    d = run_staging_dir("onejob")
    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs().size()
    aqe = "spark.sql.adaptive.enabled"
    prior_aqe = spark.conf.get(aqe, None)
    spark.conf.set(aqe, "false")
    sc.setJobGroup("stage-onejob", "stage_replay_chunks")
    try:
        stage_replay_chunks(df, d, chunks=chunks, order_by="ts")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        if prior_aqe is None:
            spark.conf.unset(aqe)
        else:
            spark.conf.set(aqe, prior_aqe)
    assert len(sc.statusTracker().getJobIdsForGroup("stage-onejob")) == 1
    assert sc._jsc.getPersistentRDDs().size() == persisted

    assert sorted(os.listdir(d)) == [f"chunk={i:05d}" for i in range(1, chunks + 1)]
    files = _chunk_files(d)
    assert len(files) == chunks
    ranked = ranked_chunks(df, chunks, "ts").collect()
    for i, path in enumerate(files, start=1):
        want = [tuple(r)[:-1] for r in ranked if r._chunk == i]
        got = [tuple(r.values()) for r in pq.read_table(path).to_pylist()]
        assert [(g[0], g[1].replace(tzinfo=None), g[2]) for g in got] == want
    mtimes = [os.stat(f).st_mtime_ns for f in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))


def test_stage_replay_chunks_keeps_empty_chunks(spark):
    """A coarse `order_by` (3 distinct values, 8 chunks) leaves chunks
    with no rows; each still gets exactly one 0-row data file, so the
    replay keeps one trigger per chunk."""
    import pyarrow.parquet as pq

    from kafka_streams_learning_spark.sources.replay import (
        staged_data_file_count,
    )

    rows = [(i, i % 3) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, grp int")
    chunks = 8
    d = run_staging_dir("empty")
    stage_replay_chunks(df, d, chunks=chunks, order_by="grp")
    files = _chunk_files(d)
    assert [os.path.basename(os.path.dirname(f)) for f in files] == [
        f"chunk={i:05d}" for i in range(1, chunks + 1)
    ]
    counts = [pq.read_metadata(f).num_rows for f in files]
    assert sum(counts) == 30 and counts.count(0) == chunks - 3
    assert staged_data_file_count(d) == chunks
    # the 0-row files read back with the staged schema
    assert spark.read.schema(df.schema).parquet(d).count() == 30


def test_replay_order_follows_chunks_then_appended_files(spark):
    """End to end through the file source: batch k replays chunk k, and a
    file appended to the staging afterwards (a flush chunk) replays last —
    the mtime contract staging writes for the file source."""
    from kafka_streams_learning_spark.sources.replay import (
        replay_stream,
        stage_explicit_chunks,
    )
    from kafka_streams_learning_spark.streaming import runner

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=i)) for i in range(20)],
        "id long, ts timestamp",
    )
    d = run_staging_dir("order")
    stage_replay_chunks(df, d, chunks=5, order_by="ts")
    stage_explicit_chunks(
        spark, [[(99, base)]], "id long, ts timestamp", d + "/chunk=99999-extra"
    )
    batches = runner.run_collect_batches(
        replay_stream(spark, d, df.schema), "append"
    )
    got = [sorted(r.id for r in b) for b in batches]
    assert got == [list(range(k, k + 4)) for k in range(0, 20, 4)] + [[99]]


def test_materialized_round_trip_and_tag_reuse(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    m1 = materialized(df, tag="test-mat")
    assert m1.schema == df.schema
    assert sorted((r.id, r.v) for r in m1.collect()) == [(1, "a"), (2, "b")]
    gen1 = m1.inputFiles()[0].rsplit("/", 2)[-2]
    base = os.path.dirname(os.path.dirname(m1.inputFiles()[0].removeprefix("file:")))
    # tagged re-materialization writes a NEW generation under the same tag
    # dir and reclaims the old one only after the write commits — repeated
    # catalog runs stay disk-bounded (one live generation per tag), and a
    # stale lazy handle from the earlier call fails loudly instead of
    # silently scanning the newer call's (different-input) data.
    m2 = materialized(df.filter(F.col("id") == 1), tag="test-mat")
    gen2 = m2.inputFiles()[0].rsplit("/", 2)[-2]
    assert os.path.basename(os.path.dirname(
        os.path.dirname(m2.inputFiles()[0]))) == os.path.basename(base)
    assert gen1 != gen2
    assert [r.id for r in m2.collect()] == [1]
    assert os.listdir(base) == [gen2]  # old generation reclaimed
    with pytest.raises(Exception):  # stale handle: files gone → loud failure
        m1.collect()
    # untagged calls get fresh dirs
    u1, u2 = materialized(df), materialized(df)
    assert u1.inputFiles()[0] != u2.inputFiles()[0]


def test_shared_replay_table_caches_per_key(spark):
    """Shared replay staging is cached by (sf_dir, table, chunks, order,
    columns): same key reuses the staged files (one global sort per
    process), a different column projection stages separately, and the
    projected staging carries only the requested columns."""
    from kafka_streams_learning_spark.sources.replay import (
        _SHARED_STAGED,
        shared_replay_table,
    )
    from .conftest import SF_DIR

    before = dict(_SHARED_STAGED)
    try:
        s1 = shared_replay_table(spark, SF_DIR, "events", 2)
        key_count_1 = len(_SHARED_STAGED)
        s2 = shared_replay_table(spark, SF_DIR, "events", 2)
        assert len(_SHARED_STAGED) == key_count_1  # cache hit, no new staging
        assert s1.schema == s2.schema
        s3 = shared_replay_table(
            spark, SF_DIR, "events", 2, columns=("user_id", "ts")
        )
        assert len(_SHARED_STAGED) == key_count_1 + 1  # distinct key
        assert set(s3.schema.names) == {"user_id", "ts"}
    finally:
        _SHARED_STAGED.clear()
        _SHARED_STAGED.update(before)


def test_jsonl_source_routes_malformed_lines(spark, tmp_path):
    # schema-pinned JSONL read: clean rows parse, malformed lines land in
    # quarantine with the raw line preserved, nothing throws
    from kafka_streams_learning_spark.sources import jsonl

    p = tmp_path / "shard-00000.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "web", "n_chars": 11}\n'
        'NOT JSON AT ALL {{{\n'
        '{"doc_id": 2, "text": "zwei", "lang": "de", "source": "web", "n_chars": 4}\n'
    )
    df = jsonl.read_jsonl(spark, str(p), jsonl.DOCUMENTS_SCHEMA)
    clean, quarantine = jsonl.split_clean_quarantine(df)
    got = {r.doc_id: r for r in clean.collect()}
    assert set(got) == {1, 2}
    assert got[1].text == "hello world" and got[2].lang == "de"
    assert clean.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    bad = quarantine.collect()
    assert len(bad) == 1 and bad[0].raw_line.startswith("NOT JSON")


def test_jsonl_clean_rows_feed_operators(spark, tmp_path):
    # the parsed frame is a drop-in documents table: run a catalog
    # operator over it end-to-end
    from kafka_streams_learning_spark.operators import textops
    from kafka_streams_learning_spark.sources import jsonl

    p = tmp_path / "shard.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "a b a", "lang": "en", "source": "w", "n_chars": 5}\n'
        '{"doc_id": 2, "text": "c", "lang": "en", "source": "w", "n_chars": 1}\n'
    )
    clean, _ = jsonl.split_clean_quarantine(
        jsonl.read_jsonl(spark, str(p), jsonl.DOCUMENTS_SCHEMA)
    )
    got = {r.doc_id: r.n_tokens for r in textops.text_stats(clean).collect()}
    assert got == {1: 3, 2: 1}


def test_jsonl_two_ingests_do_not_invalidate_each_other(spark, tmp_path):
    # regression: a second ingest must not reclaim the first ingest's
    # materialized parquet (untagged staging is per-call)
    from kafka_streams_learning_spark.sources import jsonl

    a = tmp_path / "a.jsonl"
    b = tmp_path / "b.jsonl"
    a.write_text('{"doc_id": 1, "text": "x", "lang": "en", "source": "w", "n_chars": 1}\n')
    b.write_text('{"doc_id": 2, "text": "y", "lang": "en", "source": "w", "n_chars": 1}\n')
    clean_a, _ = jsonl.split_clean_quarantine(
        jsonl.read_jsonl(spark, str(a), jsonl.DOCUMENTS_SCHEMA)
    )
    clean_b, _ = jsonl.split_clean_quarantine(
        jsonl.read_jsonl(spark, str(b), jsonl.DOCUMENTS_SCHEMA)
    )
    # act on A AFTER B ingested — formerly FileNotFoundException
    assert [r.doc_id for r in clean_a.collect()] == [1]
    assert [r.doc_id for r in clean_b.collect()] == [2]


def test_jsonl_source_tag_bounds_repeated_ingest(spark, tmp_path):
    # passing the input path reclaims the previous generation on
    # re-ingest: exactly one live gen dir for that input afterward
    import os

    from kafka_streams_learning_spark.sources import jsonl
    from kafka_streams_learning_spark.sources.replay import run_named_dir

    p = tmp_path / "poll.jsonl"
    p.write_text('{"doc_id": 1, "text": "x", "lang": "en", "source": "w", "n_chars": 1}\n')
    for _ in range(3):
        clean, _q = jsonl.split_clean_quarantine(
            jsonl.read_jsonl(spark, str(p), jsonl.DOCUMENTS_SCHEMA), source=str(p)
        )
        assert clean.count() == 1
    import hashlib

    tag = "jsonl-" + hashlib.md5(str(p).encode()).hexdigest()[:12]
    gens = [d for d in os.listdir(run_named_dir(f"mat-{tag}")) if d.startswith("gen-")]
    assert len(gens) == 1


def test_csv_source_routes_malformed_lines(spark, tmp_path):
    # schema-pinned CSV read (jsonl's delimited-text sibling): clean rows
    # parse, type-mismatched and short rows land in quarantine with the
    # raw line preserved, nothing throws
    from kafka_streams_learning_spark.sources import csv_, jsonl

    p = tmp_path / "shard-00000.csv"
    p.write_text(
        "doc_id,text,lang,source,n_chars\n"
        '1,hello world,en,web,11\n'
        "oops,this doc_id is not a long,xx,web,NaNish\n"
        '2,zwei,de,web,4\n'
    )
    df = csv_.read_csv(spark, str(p), jsonl.DOCUMENTS_SCHEMA)
    clean, quarantine = csv_.split_clean_quarantine(df)
    got = {r.doc_id: r for r in clean.collect()}
    assert set(got) == {1, 2}
    assert got[1].text == "hello world" and got[2].lang == "de"
    assert clean.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    bad = quarantine.collect()
    assert len(bad) == 1 and bad[0].raw_line.startswith("oops,")


def test_csv_clean_rows_feed_operators(spark, tmp_path):
    # the parsed CSV frame is a drop-in documents table
    from kafka_streams_learning_spark.operators import textops
    from kafka_streams_learning_spark.sources import csv_, jsonl

    p = tmp_path / "shard.csv"
    p.write_text(
        "doc_id,text,lang,source,n_chars\n"
        "1,a b a,en,w,5\n"
        "2,c,en,w,1\n"
    )
    clean, _ = csv_.split_clean_quarantine(
        csv_.read_csv(spark, str(p), jsonl.DOCUMENTS_SCHEMA)
    )
    got = {r.doc_id: r.n_tokens for r in textops.text_stats(clean).collect()}
    assert got == {1: 3, 2: 1}


def test_streaming_ingest_routes_and_resumes(spark, tmp_path):
    """The production ingest poller: shards land in a directory, the
    streaming query drains what's there (AvailableNow), routes clean rows
    and malformed lines to separate parquet outputs, and a LATER run with
    the same checkpoint ingests only the new shard — no re-parse, no
    duplicates (file-source offsets are the poller's changelog)."""
    from kafka_streams_learning_spark.sources import ingest, jsonl

    drop = tmp_path / "drop"
    drop.mkdir()
    clean_dir = str(tmp_path / "clean")
    qdir = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")

    (drop / "shard-0.jsonl").write_text(
        '{"doc_id": 1, "text": "one", "lang": "en", "source": "w", "n_chars": 3}\n'
        "BROKEN LINE {{{\n"
    )
    ingest.run_quarantine_ingest(
        ingest.read_jsonl_stream(spark, str(drop), jsonl.DOCUMENTS_SCHEMA),
        clean_dir, qdir, ckpt,
    )
    assert {r.doc_id for r in spark.read.parquet(clean_dir).collect()} == {1}
    bad = spark.read.parquet(qdir).collect()
    assert len(bad) == 1 and bad[0].raw_line.startswith("BROKEN")

    # a new shard lands while the query is down; resume from checkpoint
    (drop / "shard-1.jsonl").write_text(
        '{"doc_id": 2, "text": "two", "lang": "de", "source": "w", "n_chars": 3}\n'
    )
    ingest.run_quarantine_ingest(
        ingest.read_jsonl_stream(spark, str(drop), jsonl.DOCUMENTS_SCHEMA),
        clean_dir, qdir, ckpt,
    )
    clean = spark.read.parquet(clean_dir).collect()
    assert sorted(r.doc_id for r in clean) == [1, 2]  # no shard-0 re-ingest
    assert len(spark.read.parquet(qdir).collect()) == 1


def test_streaming_ingest_replay_after_crash_is_idempotent(spark, tmp_path):
    """ADVICE r8 (medium): dying AFTER the sink writes but BEFORE the
    checkpoint commit replays the micro-batch on restart. Simulated by
    deleting the checkpoint's commit marker after a successful run — the
    replayed batch must OVERWRITE its ingest_batch directory, not append
    duplicates, on both the clean and quarantine sides."""
    import os

    from kafka_streams_learning_spark.sources import ingest, jsonl

    drop = tmp_path / "drop"
    drop.mkdir()
    clean_dir = str(tmp_path / "clean")
    qdir = str(tmp_path / "quarantine")
    ckpt = tmp_path / "ckpt"

    (drop / "shard-0.jsonl").write_text(
        '{"doc_id": 1, "text": "one", "lang": "en", "source": "w", "n_chars": 3}\n'
        '{"doc_id": 2, "text": "two", "lang": "de", "source": "w", "n_chars": 3}\n'
        "BROKEN LINE {{{\n"
    )
    ingest.run_quarantine_ingest(
        ingest.read_jsonl_stream(spark, str(drop), jsonl.DOCUMENTS_SCHEMA),
        clean_dir, qdir, str(ckpt),
    )
    assert sorted(
        r.doc_id for r in ingest.read_ingested(spark, clean_dir).collect()
    ) == [1, 2]
    assert len(spark.read.parquet(qdir).collect()) == 1

    # the crash: sink writes landed, the commit marker did not
    os.remove(ckpt / "commits" / "0")
    crc = ckpt / "commits" / ".0.crc"
    if crc.exists():
        os.remove(crc)
    ingest.run_quarantine_ingest(
        ingest.read_jsonl_stream(spark, str(drop), jsonl.DOCUMENTS_SCHEMA),
        clean_dir, qdir, str(ckpt),
    )
    clean = ingest.read_ingested(spark, clean_dir).collect()
    assert sorted(r.doc_id for r in clean) == [1, 2], "replay duplicated rows"
    assert len(spark.read.parquet(qdir).collect()) == 1
    # read_ingested strips the bookkeeping partition column
    assert "ingest_batch" not in ingest.read_ingested(spark, clean_dir).columns


def test_streaming_csv_ingest_quarantines_type_mismatch(spark, tmp_path):
    """CSV twin of the streaming ingest: a type-mismatched row quarantines
    with the raw line preserved; clean rows parse to the pinned schema."""
    from kafka_streams_learning_spark.sources import ingest, jsonl

    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "part-0.csv").write_text(
        "doc_id,text,lang,source,n_chars\n"
        "1,uno,es,web,3\n"
        "NOT_A_LONG,bad row,xx,web,0\n"
    )
    clean_dir, qdir = str(tmp_path / "clean"), str(tmp_path / "q")
    ingest.run_quarantine_ingest(
        ingest.read_csv_stream(spark, str(drop), jsonl.DOCUMENTS_SCHEMA),
        clean_dir, qdir, str(tmp_path / "ckpt"),
    )
    clean = spark.read.parquet(clean_dir).collect()
    assert len(clean) == 1 and clean[0].doc_id == 1 and clean[0].lang == "es"
    bad = spark.read.parquet(qdir).collect()
    assert len(bad) == 1 and bad[0].raw_line.startswith("NOT_A_LONG")


def test_streaming_ingest_continuous_poller(spark, tmp_path):
    """continuous=True returns a live query: a shard landing AFTER start
    is picked up by the running poller (the long-lived deployment path,
    vs AvailableNow's drain-and-stop)."""
    from kafka_streams_learning_spark.sources import ingest, jsonl

    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "s0.jsonl").write_text(
        '{"doc_id": 1, "text": "a", "lang": "en", "source": "w", "n_chars": 1}\n'
    )
    clean_dir, qdir = str(tmp_path / "clean"), str(tmp_path / "q")
    q = ingest.run_quarantine_ingest(
        ingest.read_jsonl_stream(spark, str(drop), jsonl.DOCUMENTS_SCHEMA),
        clean_dir, qdir, str(tmp_path / "ckpt"), continuous=True,
    )
    try:
        q.processAllAvailable()
        (drop / "s1.jsonl").write_text(
            '{"doc_id": 2, "text": "b", "lang": "en", "source": "w", "n_chars": 1}\n'
        )
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(
        r.doc_id for r in spark.read.parquet(clean_dir).collect()
    ) == [1, 2]


def test_shared_artifact_rebuilds_gone_staging_and_clears_models(tmp_path):
    """The registry's two rules: an entry whose staging directory is gone
    is rebuilt on its next use, and `clear_model_caches` drops only the
    `model=True` entries."""
    import shutil

    from kafka_streams_learning_spark import catalog

    builds: list[str] = []

    def build_staging(spark, sf):
        d = tmp_path / f"stage{len(builds)}"
        d.mkdir()
        builds.append(str(d))
        return str(d), len(builds)

    try:
        stage = catalog.shared_artifact("test_staging")(build_staging)
        model = catalog.shared_artifact("test_model", model=True)(
            lambda spark, sf: object()
        )
        first = stage(None, "sf")
        assert stage(None, "sf") == first  # memo hit
        shutil.rmtree(first[0])
        assert stage(None, "sf") == (builds[1], 2)  # gone → rebuilt
        m = model(None, "sf")
        assert model(None, "sf") is m
        catalog.clear_model_caches()
        assert model(None, "sf") is not m
        assert stage(None, "sf") == (builds[1], 2)  # stagings stay
    finally:
        catalog._ARTIFACTS.pop("test_staging", None)
        catalog._ARTIFACTS.pop("test_model", None)


def test_warm_setup_idempotent(spark):
    """The bench set-up step (`catalog.warm_setup`) is callable, returns
    per-artifact seconds under every declared label, and is idempotent:
    a second call hits every entry, so no artifact re-pays its build
    (VERDICT r9 item 3 — setup must be pinnable without changing any
    query's result)."""
    import time

    from kafka_streams_learning_spark.catalog import warm_setup

    from .conftest import SF_DIR as sf
    first = warm_setup(spark, sf)
    assert set(first) >= {
        "mh_pairs", "emb_pairs", "centroids", "sampled_centroids",
        "ivf_mod", "ccnet_buckets", "nb_model",
        "s05_changelog", "s07_staging", "s12_s20_staging", "s23_staging",
        "events_replay", "documents_replay", "orders_replay",
        "s04_orders_replay", "s04_lineitem_replay", "s24_lineitem_replay",
    }
    t0 = time.time()
    second = warm_setup(spark, sf)
    warm_total = time.time() - t0
    assert set(second) == set(first)
    # warm pass = pure cache hits; generous bound to stay CI-stable
    assert warm_total < 5.0, f"warm pass re-paid a build: {second}"


def test_warm_setup_stages_every_staging_row_input(spark):
    """After `warm_setup`, the staging s-rows build no replay input of
    their own: no new `replay-`/`chlog-` staging directory appears while
    they run, so the bench's timed rows measure the engine and not a
    sort + chunked write that the set-up step skipped."""
    from kafka_streams_learning_spark.catalog import all_queries, warm_setup
    from kafka_streams_learning_spark.sources.replay import run_staging_dir

    from .conftest import SF_DIR as sf
    root = os.path.dirname(run_staging_dir("probe"))

    def stagings() -> set[str]:
        return {
            d for d in os.listdir(root) if d.startswith(("replay-", "chlog-"))
        }

    warm_setup(spark, sf)
    before = stagings()
    rows = ("s01", "s04", "s05", "s07", "s08", "s11", "s12", "s20", "s23", "s24")
    specs = [q for q in all_queries() if q.name.split("_")[0] in rows]
    assert len(specs) == len(rows)
    for spec in specs:
        spec.spark(spark, sf).count()
    assert stagings() == before, sorted(stagings() - before)
