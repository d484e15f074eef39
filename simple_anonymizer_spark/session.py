"""SparkSession factory with engine defaults, and the measurement loop that
``bench.py`` and ``scripts/`` share.

``get_spark`` builds the session every script runs on:

* master ``local[$SPARK_GRAFT_CPUS]`` (32 when unset), and as many shuffle
  partitions (a real cluster would override both, to ~2-3x total cores);
* AQE on: runtime shuffle coalescing and skew-join splitting;
* session time zone UTC; Arrow enabled for the few Pandas-UDF operators
  (similarity/multimodal);
* ``spark.sql.legacy.parquet.nanosAsLong``, so the fixtures' int64-nanos
  timestamps read as bigint (``sources.parquet.read_sf_table`` also sets
  it per session);
* driver heap ``$SPARK_DRIVER_MEM`` (16g when unset); UI off; log level
  ERROR.

Timing materializes through the no-op sink (``noop``) and reports the
best of a few runs (``best_of``); a registry query is first run once at a
tiny scale factor (``warmed``) so the timed run measures execution, not
codegen compile.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterable, Iterator
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

_T = TypeVar("_T")


def get_spark(
    app_name: str = "simple-anonymizer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    spark = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noop(df: DataFrame) -> None:
    """Execute the whole plan of ``df`` executor-side into the no-op sink.
    This is the timing materialization: ``.count()`` lets Catalyst prune
    computed columns and drop provably 1:1 joins, and a collect times the
    driver."""
    df.write.format("noop").mode("overwrite").save()


def best_of(fn: Callable[[], _T], reps: int) -> tuple[float, _T]:
    """Fewest wall seconds over ``reps`` calls of ``fn``, and the last
    call's result. Single runs on a shared box swing ±50% (GC pauses,
    scheduler jitter); the minimum is the throughput the plan delivers."""
    best, result = float("inf"), None
    for _ in range(reps):
        start = time.perf_counter()
        result = fn()
        best = min(best, time.perf_counter() - start)
    return best, result


def warmed(spark: SparkSession, names: Iterable[str], warm_dir: str) -> Iterator[str]:
    """Yield each registry query name after one ``noop`` run of it at
    ``warm_dir``: the first run of a big expression pays seconds of
    codegen compile, whose cache keys are scale-independent, so the
    caller's timed run at its own scale factor measures execution."""
    from .queries import QUERIES

    for name in names:
        noop(QUERIES[name](spark, warm_dir))
        yield name


FIXTURE_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def register_tables(spark: SparkSession, sf_dir: str,
                    tables: list[str] | None = None) -> None:
    """SQL front door: register every fixture table as a temp view (the
    events timestamp normalized) and the ``anon_*`` SQL functions, so a
    SQL-only user can drive the whole engine through ``spark.sql``."""
    from .functions import anonymizers
    from .sources.parquet import read_sf_table

    for t in tables or FIXTURE_TABLES:
        read_sf_table(spark, sf_dir, t).createOrReplaceTempView(t)
    anonymizers.register_all(spark)
