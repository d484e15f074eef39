"""Measure the Iceberg tier's O(metadata) planning claim at the
million-file shape the docstring invokes.

Two tiers:

1. REAL: a table with a few hundred real parquet files (multi-snapshot
   appends of a repartitioned sf0.001 documents table) — validates that
   planning wall time on a genuine table matches the synthetic tier.
2. SYNTHETIC: manifest rows fanned out to 10k-100k data-file entries
   whose file_paths DON'T EXIST — the committed metadata tree is real
   (real Avro manifests, real manifest lists, real metadata.json), only
   the parquet leaves are fictional. Planning (`iceberg_plan_files`) and
   `iceberg_count` never open a data file, so they cannot tell the
   difference — and if they ever DID touch data, this bench would crash
   on the missing files. That crash-on-contact property is the zero-
   data-IO proof, same spirit as the test that deletes the data files.

Usage: python scripts/bench_iceberg_metadata.py
Prints one line per scale point: files, count_s, plan_s, pruned_plan_s.
"""
from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from simple_anonymizer_spark.session import best_of, get_spark, noop  # noqa: E402
from simple_anonymizer_spark.sources import iceberg as I  # noqa: E402

N_PARTS = 10  # distinct partition values in the synthetic tier


def _fake_files(snap_id: int, n: int) -> list[dict]:
    """n fictional data-file rows with realistic partition values and
    doc_id bounds (1000 ids per file, contiguous)."""
    out = []
    for i in range(n):
        lo = (snap_id * n + i) * 1000
        out.append({
            "file_path": f"data/fake-s{snap_id:05d}-{i:05d}.parquet",
            "record_count": 1000,
            "file_size_in_bytes": 1 << 20,
            "partition": {"source": f"s{i % N_PARTS}"},
            "bounds": {"doc_id": (lo, lo + 999)},
        })
    return out


def synthetic_append(table_dir: str, n_files: int) -> None:
    """append_iceberg's exact metadata path, with fake file rows."""
    meta = I._load_metadata(table_dir)
    version = I._next_version(table_dir)
    ids = {f["name"]: f["id"] for f in meta["schema"]["fields"]}
    types = {f["name"]: f["type"] for f in meta["schema"]["fields"]}
    snap_id = meta["current-snapshot-id"] + 1
    files = _fake_files(snap_id, n_files)
    manifest = I._write_manifest(
        table_dir, snap_id, files, I._resolve_spec(meta), ids, types)
    prior = I._current_manifests(table_dir, meta)
    mlist = I._write_manifest_list(table_dir, snap_id, prior + [manifest])
    now = int(time.time() * 1000)
    meta = dict(meta)
    meta["current-snapshot-id"] = snap_id
    meta["snapshots"] = meta["snapshots"] + [{
        "snapshot-id": snap_id, "timestamp-ms": now,
        "manifest-list": mlist, "schema-id": 0,
        "summary": {"operation": "append"}}]
    meta["snapshot-log"] = meta["snapshot-log"] + [
        {"snapshot-id": snap_id, "timestamp-ms": now}]
    I._commit_metadata(table_dir, meta, version)


def measure(table_dir: str, label: str, spark=None) -> None:
    n = len(I.iceberg_plan_files(table_dir))
    t_count, total = best_of(lambda: I.iceberg_count(table_dir), 3)
    t_plan, _ = best_of(lambda: I.iceberg_plan_files(table_dir), 3)
    t_prune, pruned = best_of(lambda: I.iceberg_plan_files(
        table_dir, partition_filter={"source": "s3"},
        predicates=[("doc_id", ">=", 0)]), 3)
    t_dist = float("nan")
    if spark is not None:
        t_dist, _ = best_of(lambda: noop(I.iceberg_live_files_distributed(
            spark, table_dir)), 3)
    print(f"{label:>10}  files={n:>7}  rows={total:>11}  "
          f"count={t_count:7.3f}s  plan={t_plan:7.3f}s  "
          f"pruned_plan={t_prune:7.3f}s  dist_walk={t_dist:7.3f}s  "
          f"pruned_files={len(pruned)}",
          flush=True)


def main() -> None:
    spark = get_spark("iceberg-metadata-bench")
    root = "/tmp/ice_meta_bench"
    shutil.rmtree(root, ignore_errors=True)

    # --- REAL tier: ~500 real files over 5 snapshots -------------------
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text",
                    (F.concat(F.lit("s"), F.col("doc_id") % N_PARTS))
                    .alias("source")))
    real = os.path.join(root, "real")
    t0 = time.time()
    I.create_iceberg(docs.repartition(100), real, partition_by="source")
    for _ in range(4):
        I.append_iceberg(docs.repartition(100), real)
    print(f"real tier built in {time.time() - t0:.1f}s", flush=True)
    measure(real, "real", spark)

    # --- SYNTHETIC tier: same tree shape, fictional leaves -------------
    synth = os.path.join(root, "synth")
    I.create_iceberg(docs.limit(1).coalesce(1), synth,
                     partition_by="source")
    files_per_snap = 1000
    for total_snaps in (10, 30, 100):
        while (I._load_metadata(synth)["current-snapshot-id"]
               <= total_snaps):
            synthetic_append(synth, files_per_snap)
        measure(synth, f"{total_snaps}k-ish", spark)
    spark.stop()


if __name__ == "__main__":
    main()
