"""Parquet source/sink helpers for the copier and the fixture tables.

The driver's synthetic tables live at ``$SF_DIR/{name}.parquet``. The
``events`` table carries nanosecond timestamps, which Spark's Parquet
reader rejects unless ``spark.sql.legacy.parquet.nanosAsLong`` is set —
``read_sf_table`` sets it and exposes ``ts`` both as raw nanos
(``ts_nanos``) and as a proper timestamp column (microsecond truncation,
matching DuckDB's cast-to-TIMESTAMP semantics).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _ensure_nanos_conf(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize an events-shaped frame so ``ts`` is always TIMESTAMP (tz-aware
    micros). The driver has shipped the fixture with three physical encodings
    across rounds — int64 nanos (read as bigint under ``nanosAsLong``),
    ``timestamp[us]`` read as TIMESTAMP_NTZ, and plain TIMESTAMP — so every
    reader (batch and readStream) funnels through this one helper instead of
    sniffing types at call sites."""
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        df = (
            df.withColumnRenamed("ts", "ts_nanos")
            # integer `div`, NOT `/`: float division loses precision on
            # int64 nanos (2^53 mantissa < 1.7e18 epoch-nanos).
            .withColumn("ts", F.timestamp_micros(F.expr("ts_nanos div 1000")))
        )
    elif dtype == "timestamp_ntz":
        # Session timezone is pinned UTC (session.py), so NTZ -> TIMESTAMP is
        # a monotonic relabel of the same micros (the blessed orders/lineitem
        # cast); unix_micros / window arithmetic then work uniformly.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_sf_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table; normalizes the events ``ts`` column."""
    _ensure_nanos_conf(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df)
    return df


def parquet_reader(spark: SparkSession, sf_dir: str) -> Callable[[str], DataFrame]:
    return lambda name: read_sf_table(spark, sf_dir, name)


def parquet_writer(spark: SparkSession, out_dir: str) -> Callable[[str, DataFrame], int]:
    """Write each table under ``out_dir/<name>``; the row count is observed
    on the write itself (an ``Observation`` count), so the output is never
    read back."""

    def write(name: str, df: DataFrame) -> int:
        path = os.path.join(out_dir, name)
        written = Observation()
        df.observe(written, F.count(F.lit(1)).alias("rows")) \
            .write.mode("overwrite").parquet(path)
        return written.get["rows"]

    return write


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
) -> tuple[int, int, int]:
    """Small-files compaction for plain parquet tables — the OPTIMIZE
    sibling for data living outside the Delta log. Rewrites the table
    into ``ceil(current_on_disk_bytes / target_file_bytes)`` files
    (current bytes already reflect compression, so the estimate holds),
    optionally range-clustered + sorted on ``sort_by`` for scan
    locality (min/max pruning), and swaps atomically via the same
    staging-write + rename dance as ``sources.merge.merge_parquet`` —
    a concurrent reader sees the old table or the new one, never a
    partial directory. Returns ``(files_before, files_after, rows)``.

    Scale note: the rewrite is one pass (scan + exchange + write); at
    a real deployment run it per-partition-directory so only fresh
    partitions pay. Fragmentation this fixes is the streaming-append
    pattern (stream_neardup_ingest / stream_embedding_ingest produce
    one file per micro-batch by design)."""
    import math
    import uuid

    path = str(path)
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    if not files:
        raise ValueError(f"no parquet files under {path}")
    total = sum(os.path.getsize(f) for f in files)
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    if sort_by:
        out = df.repartitionByRange(n, *sort_by).sortWithinPartitions(*sort_by)
    else:
        out = df.repartition(n)
    staging = f"{path}.__staging__{uuid.uuid4().hex[:8]}"
    out.write.mode("overwrite").parquet(staging)
    rows = spark.read.parquet(staging).count()

    old = f"{path}.__old__{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    try:
        os.rename(staging, path)
    except Exception:  # pragma: no cover - restore on swap failure
        os.rename(old, path)
        raise
    import shutil

    shutil.rmtree(old)
    after = len([
        f for dp, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    ])
    return len(files), after, rows


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    max_files_per_partition: int = 1,
) -> None:
    """Hive-layout partitioned write (``path/col=value/part-*.parquet``)
    — the physical design that turns partition-key predicates into
    directory pruning: a reader filtering on ``partition_by`` columns
    never lists, opens, or scans the other partitions' files (verified
    by a PartitionFilters plan test). At 100 TB this is the first-order
    scan optimization — date/source/language are the standard keys.

    Rows are repartitioned on the partition columns first so each
    physical partition writes ``max_files_per_partition`` files instead
    of one-per-task (the small-files problem ``compact_parquet``
    otherwise repairs after the fact). Keys with heavy skew should add
    a salt column to ``repartition`` — the directory layout is
    unaffected.
    """
    parts: list = [F.col(c) for c in partition_by]
    if max_files_per_partition > 1:
        # extra shuffle-key term only — never materialized as a column
        parts.append(F.spark_partition_id() % max_files_per_partition)
    df.repartition(*parts).write.mode("overwrite") \
        .partitionBy(*partition_by).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a ``write_partitioned`` table; partition columns come back
    from the directory layout (typed by partition discovery) and
    predicates on them prune at planning time."""
    return spark.read.parquet(str(path))
