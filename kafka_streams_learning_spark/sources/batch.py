"""Batch parquet sources for the fixture tables.

Equivalent role to the reference's Kafka topic sources (SURVEY §2.1 S1/S2,
`basics/WordCountApp.java:49`, `state_store/ProductCountApp.java:61-64`) in
batch mode: a declarative scan that Catalyst can push filters/projections
into. At 100 TB the same call reads a partitioned parquet/lakehouse table;
predicate pushdown + partition pruning come from expressing filters on the
DataFrame rather than in Python.
"""

from __future__ import annotations

from functools import lru_cache
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@lru_cache(maxsize=256)
def _nanos_ts_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark reads them as
    raw int64 (spark.sql.legacy.parquet.nanosAsLong) and we convert."""
    schema = pq.read_schema(path)
    out = []
    for field in schema:
        t = field.type
        if getattr(t, "unit", None) == "ns":
            out.append(field.name)
    return tuple(out)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Plain `spark.read.parquet` — no collect, no
    schema munging — so pushdown and pruning stay available. Nanosecond
    timestamp columns are converted long→timestamp right after the scan
    (integer DIV: int64 nanos exceed double precision)."""
    path = f"{sf_dir}/{name}.parquet"
    # Both confs are runtime-settable and required for correct results in
    # ANY session, not just ones built by session.py (external harnesses
    # construct their own vanilla SparkSession): nanosAsLong to read the
    # TIMESTAMP(NANOS) fixture columns at all, UTC so window bucketing and
    # timestamp rendering are deterministic regardless of host timezone.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Fixture generators have stored TIMESTAMP(MICROS, isAdjustedToUTC=false)
    # in some revisions; by default Spark reads those as TIMESTAMP_NTZ, which
    # breaks TIMESTAMP-only expressions (unix_micros) and changes the
    # rendered type versus the DuckDB oracle. Pin inference off so naive
    # parquet timestamps always surface as TIMESTAMP in the UTC session —
    # identical values to the NTZ read, stable type across fixture revisions.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(path)
    for c in _nanos_ts_columns(path):
        df = df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
    return df


@lru_cache(maxsize=256)
def _row_groups(path: str) -> int:
    """Parquet row groups in one file, from its footer."""
    return pq.ParquetFile(path).metadata.num_row_groups


def fan_out(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-partition a local scan with fewer parquet row groups than
    cores on `id_col`, so its per-row kernels run on every core; return
    `df` unchanged otherwise (non-local files, no input files, or a scan
    that already has a task per core).

    Row groups, not files or byte splits, count the tasks that do work: a
    split holding no row group's midpoint reads nothing. Hashing on the
    id (not round-robin) makes the partitioning satisfy the per-id
    `distinct`/`groupBy`/`Window.partitionBy` that follow, so those
    exchanges drop out. Not done in `load_table`: fanning out every scan
    made the x-block slower (ROADMAP direction 2)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files or not all(f.startswith("file:") for f in files):
        return df
    if sum(_row_groups(unquote(urlparse(f).path)) for f in files) >= n:
        return df
    return df.repartition(n, F.col(id_col))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for `spark.sql` use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
