"""Measure the Iceberg v2 merge-on-read cost shape: what do position/
equality deletes add to a read, and does the write side stay O(batch)?

Tiers: documents at sf0.1 (15k docs) and sf1 (150k, /tmp/sf1 via
scripts/make_sf1.py). Per tier, best-of-3 wall seconds (noop-write
materialization, never .count() — CLAUDE.md timing rule):

  read_plain      read of the freshly created v2 table (no deletes)
  upsert_commit   upsert of 10% of keys (equality-delete + append)
  read_upserted   read after the upsert (equality anti-join applied)
  posdel_commit   delete_iceberg_rows on a 10% predicate
  read_both       read with both delete kinds applied

The claim under test: the read overhead tracks the DELETE SET (broadcast
anti-joins), not the table, and commits are one job + O(new files)
metadata.

Usage: python scripts/bench_iceberg_v2_deletes.py [sf_dir ...]
"""
from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from simple_anonymizer_spark.operators import dedup  # noqa: E402
from simple_anonymizer_spark.session import best_of, get_spark, noop  # noqa: E402
from simple_anonymizer_spark.sources import iceberg as I  # noqa: E402


def read_s(spark, tbl: str) -> float:
    """Best-of-3 seconds of a full read of the table."""
    return round(best_of(lambda: noop(I.read_iceberg(spark, tbl)), 3)[0], 2)


def run_tier(spark, sf_dir: str, root: str) -> None:
    docs = dedup.ensure_parallelism(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet")))
    n = docs.count()
    tbl = os.path.join(root, os.path.basename(sf_dir.rstrip("/")))
    shutil.rmtree(tbl, ignore_errors=True)
    t0 = time.perf_counter()
    I.create_iceberg(docs, tbl, format_version=2)
    t_create = round(time.perf_counter() - t0, 2)
    r_plain = read_s(spark, tbl)
    upd = (docs.where(F.col("doc_id") % 10 == 0)
           .withColumn("text", F.concat(F.col("text"), F.lit(" [v2]"))))
    t0 = time.perf_counter()
    I.upsert_iceberg(spark, tbl, upd, ["doc_id"])
    t_upsert = round(time.perf_counter() - t0, 2)
    r_upserted = read_s(spark, tbl)
    t0 = time.perf_counter()
    I.delete_iceberg_rows(spark, tbl, "doc_id % 10 = 3")
    t_posdel = round(time.perf_counter() - t0, 2)
    r_both = read_s(spark, tbl)
    print(f"{sf_dir:>22}  docs={n:>7}  create={t_create:6.2f}s  "
          f"read_plain={r_plain:6.2f}s  upsert_commit={t_upsert:6.2f}s  "
          f"read_upserted={r_upserted:6.2f}s  posdel_commit={t_posdel:6.2f}s"
          f"  read_both={r_both:6.2f}s", flush=True)


def main() -> None:
    spark = get_spark("iceberg-v2-deletes-bench")
    root = "/tmp/ice_v2_bench"
    shutil.rmtree(root, ignore_errors=True)
    tiers = sys.argv[1:] or ["/root/testdata/sf0.1", "/tmp/sf1"]
    for sf in tiers:
        if not os.path.exists(os.path.join(sf, "documents.parquet")):
            print(f"skip {sf}: no documents.parquet", flush=True)
            continue
        run_tier(spark, sf, root)
    spark.stop()


if __name__ == "__main__":
    main()
