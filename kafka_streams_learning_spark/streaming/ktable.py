"""KTable maintenance: a changing dimension as a latest-per-key snapshot
(SURVEY §2.1 S3, §7.4 option b).

Kafka's `builder.table(topic)` materializes a compacted topic as the
latest value per key (`joins/stream_ktable/StreamTableJoinExample.java:
114-140`). The Spark-native equivalent maintained here: a changelog
stream upserts into a hash-bucketed parquet snapshot via `foreachBatch`.

The snapshot is INCREMENTAL by key bucket — the Delta/Iceberg MERGE
contract (shuffle and rewrite proportional to *changed keys*, not to
snapshot size) emulated with plain parquet so the engine has no
lake-format dependency:

- Data lives in generation directories `gen-{N}/ksl_bucket={b}/...`,
  where `b = pmod(hash(key), num_buckets)`.
- A `_MANIFEST` JSON maps every bucket to the generation that holds its
  current data. A micro-batch touches only the buckets its keys hash
  into: current data for *those buckets only* is read back, merged with
  the batch (`latest_per_key`), and rewritten under a fresh generation;
  untouched buckets' files are not opened, not rewritten — their
  manifest entries simply carry over. Per-batch I/O is
  O(batch + touched-bucket data), not O(snapshot).
- The manifest flips atomically (tmp + rename) after the new generation
  is fully written, so readers never observe a half-written snapshot —
  the same atomic-pointer trick Delta's transaction log performs. Fully
  unreferenced generations are vacuumed after the flip.

`num_buckets` is sized so one bucket ≈ one task's worth of dimension
data — since r13 that is the DEFAULT (`_derive_num_buckets` from the
first batch's row count; explicit `num_buckets` overrides, and the
first upsert pins either in the manifest). The per-batch merge job then
runs one task per *touched* bucket while the fact-side join keeps
broadcasting the assembled snapshot.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_learning_spark.operators.joins import latest_per_key
from kafka_streams_learning_spark.streaming import runner

_MANIFEST = "_MANIFEST"
_BUCKET_COL = "ksl_bucket"


def _read_manifest(snapshot_dir: str) -> dict | None:
    path = os.path.join(snapshot_dir, _MANIFEST)
    if not os.path.exists(path):
        return None
    with open(path, encoding="ascii") as fh:
        return json.load(fh)


def _write_manifest(snapshot_dir: str, manifest: dict) -> None:
    tmp = os.path.join(snapshot_dir, _MANIFEST + ".tmp")
    with open(tmp, "w", encoding="ascii") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(snapshot_dir, _MANIFEST))


def _bucket_paths(snapshot_dir: str, manifest: dict) -> list[str]:
    return [
        os.path.join(snapshot_dir, gen, f"{_BUCKET_COL}={b}")
        for b, gen in manifest["buckets"].items()
    ]


def read_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame | None:
    """The current latest-per-key snapshot (union of every bucket's
    current generation), or None before the first upsert."""
    manifest = _read_manifest(snapshot_dir)
    if manifest is None or not manifest["buckets"]:
        return None
    return spark.read.parquet(*_bucket_paths(snapshot_dir, manifest))


# Adaptive bucket sizing (VERDICT r12 item 3): the docstring's contract
# — one bucket ≈ one task's worth of dimension data — implemented as the
# default. A fixed num_buckets=16 made a 15k-row fixture dimension pay
# 16 task writes × 2 generations + 16-file read-backs per batch (file
# and job-scheduling constants, not data); at a billion-row dimension 16
# buckets would be far too FEW. Derived from the first batch's row count
# at ~256k rows/bucket (~64 MB of typical dimension row width); callers
# with a known dimension shape pass num_buckets explicitly, and the
# first upsert pins it in the manifest either way.
TARGET_ROWS_PER_BUCKET = 1 << 18
MAX_DERIVED_BUCKETS = 4096


def _derive_num_buckets(rows: int) -> int:
    return max(1, min(MAX_DERIVED_BUCKETS, -(-rows // TARGET_ROWS_PER_BUCKET)))


def upsert_snapshot(
    batch_df: DataFrame,
    snapshot_dir: str,
    key: str,
    version_col: str,
    num_buckets: int | None = None,
    expected_rows: int | None = None,
) -> None:
    """One micro-batch of changelog rows → merge into ONLY the buckets the
    batch's keys hash into; every other bucket's files are untouched.

    `num_buckets=None` derives the count from the FIRST batch's size
    (`_derive_num_buckets`); the first upsert pins it in the manifest.
    CAVEAT (ADVICE r13): the derivation sees only batch 1 — a changelog
    replayed chunk-per-batch shows ~1/chunks of the dimension, so the
    derived count systematically undershoots "one bucket ≈ one task",
    and a tiny first batch pins 1 bucket for an arbitrarily large
    dimension forever. When the eventual dimension size is known (or
    estimable), pass `expected_rows` — the derivation then sizes for the
    full dimension regardless of how the changelog is chunked — or pass
    `num_buckets` explicitly. Re-splitting a live snapshot on growth is
    deliberately NOT supported: the bucket id is the merge key's hash
    mod the pinned count, so changing it would invalidate every bucket
    (a full rewrite — at that point, rebuild the snapshot)."""
    spark = batch_df.sparkSession
    manifest = _read_manifest(snapshot_dir)
    # the batch is consumed twice (touched-bucket probe + merge input) —
    # without a persist each use re-reads the micro-batch source
    batch_df.persist()
    try:
        _upsert_persisted(spark, batch_df, snapshot_dir, key, version_col,
                          num_buckets, manifest, expected_rows)
    finally:
        batch_df.unpersist()


def _upsert_persisted(
    spark: SparkSession,
    batch_df: DataFrame,
    snapshot_dir: str,
    key: str,
    version_col: str,
    num_buckets: int | None,
    manifest: dict | None,
    expected_rows: int | None = None,
) -> None:
    if manifest is None:
        if num_buckets is None:
            num_buckets = _derive_num_buckets(
                expected_rows if expected_rows is not None
                else batch_df.count()
            )
        manifest = {"version": 0, "num_buckets": num_buckets, "buckets": {}}
    nb = manifest["num_buckets"]  # pinned by the first upsert
    bucket_of = F.pmod(F.hash(F.col(key)), F.lit(nb)).cast("int")
    # tiny distributed aggregate: the set of touched buckets (≤ nb values)
    changed = [
        r[0]
        for r in batch_df.select(bucket_of.alias(_BUCKET_COL)).distinct().collect()
    ]
    if not changed:
        return
    current_paths = [
        os.path.join(snapshot_dir, manifest["buckets"][str(b)], f"{_BUCKET_COL}={b}")
        for b in changed
        if str(b) in manifest["buckets"]
    ]
    merged = batch_df
    if current_paths:
        merged = spark.read.parquet(*current_paths).unionByName(batch_df)
    snap = latest_per_key(merged, key, version_col).withColumn(
        _BUCKET_COL, bucket_of
    )
    gen = f"gen-{manifest['version'] + 1}"
    # one task per touched bucket (the documented scale shape): without
    # this, every shuffle partition of the latest_per_key groupBy writes
    # its own file into every bucket dir — up to partitions×buckets small
    # files per generation, which the NEXT batch's read-back then pays for
    # (measured 1.4× on s05's 2-batch changelog at sf0.1)
    snap = snap.repartition(len(changed), F.col(_BUCKET_COL))
    snap.write.partitionBy(_BUCKET_COL).mode("overwrite").parquet(
        os.path.join(snapshot_dir, gen)
    )
    manifest = {
        "version": manifest["version"] + 1,
        "num_buckets": nb,
        "buckets": {**manifest["buckets"], **{str(b): gen for b in changed}},
    }
    _write_manifest(snapshot_dir, manifest)
    # vacuum: a generation no bucket references anymore can't be read via
    # any manifest at-or-after this flip (production: retention-windowed
    # vacuum so long-running readers on old manifests finish first)
    live = set(manifest["buckets"].values())
    for entry in os.listdir(snapshot_dir):
        if entry.startswith("gen-") and entry not in live:
            shutil.rmtree(os.path.join(snapshot_dir, entry), ignore_errors=True)


def materialize_ktable(
    changelog: DataFrame,
    snapshot_dir: str,
    key: str,
    version_col: str,
    num_buckets: int | None = None,
    expected_rows: int | None = None,
) -> None:
    """Drive a changelog stream to completion, maintaining the snapshot —
    the `builder.table()` materialization pass. `expected_rows` sizes the
    adaptive bucket derivation for the FULL dimension (see
    `upsert_snapshot`: batch-1-only derivation undershoots on chunked
    changelogs). The pass runs through `runner._run_to_completion`, so
    it gets the same checkpoint handling and conf scoping as every
    other run."""
    os.makedirs(snapshot_dir, exist_ok=True)
    runner._run_to_completion(
        changelog.sparkSession,
        changelog.writeStream.outputMode("append").foreachBatch(
            lambda df, _epoch: upsert_snapshot(
                df, snapshot_dir, key, version_col, num_buckets,
                expected_rows=expected_rows,
            )
        ),
        runner._checkpoint(),
        {},
    )
