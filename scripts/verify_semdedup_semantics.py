"""Semantic-dedup OUTPUT semantics at scale (VERDICT r8 #5): with the
per-replica orthogonal-rotation generator, each replica is an isometric
copy of sf0.1's point set, so the dup structure is predictable — and
with the deterministic trainer it is EXACTLY computable outside Spark.

For each scale point this script:
  1. trains the scale-aware default-k model in Spark (deterministic),
  2. runs ``semantic_dedup`` (bare defaults except threshold) and times a
     fresh-plan noop materialization (CLAUDE.md: .count() lets Catalyst
     delete the pair join),
  3. replays the algorithm exactly in numpy from the SAME centroids
     (argmax-cosine cells, lowest-id cover within cell at >= tau) and
     compares survivor counts — an independent full re-implementation,
     not a sampled spot check,
  4. reports the family-math attribution: within-replica truth pairs
     (R x base by isometry) vs cross-replica tail pairs.

At tau=0.9 the fixture has ZERO qualifying pairs at every scale, so any
reported dup is a hard bug; the structural tau (default 0.45) exercises
real pair volume. Usage:
    python scripts/verify_semdedup_semantics.py [sf_dir ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from simple_anonymizer_spark.operators import kmeans
from simple_anonymizer_spark.operators.dedup import ensure_parallelism
from simple_anonymizer_spark.session import get_spark, noop

TAU = float(os.environ.get("SEMDEDUP_TAU", "0.45"))
BASE = "/root/testdata/sf0.1"


def numpy_truth(vecs: np.ndarray, centroids: np.ndarray, tau: float):
    """Exact replay: cells by argmax cosine (first max = lowest cell, the
    ivf_assign_cell tie-break), dup = some lower-index same-cell vector
    at cosine >= tau. Returns (survivors, n_dup_pairs)."""
    n = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    cells = np.argmax(n @ c.T, axis=1)
    dup = np.zeros(len(n), dtype=bool)
    n_pairs = 0
    for cell in np.unique(cells):
        idx = np.flatnonzero(cells == cell)
        if len(idx) < 2:
            continue
        g = n[idx] @ n[idx].T
        iu = np.triu_indices(len(idx), 1)
        hits = g[iu] >= tau
        n_pairs += int(hits.sum())
        dup[idx[iu[1][hits]]] = True  # higher-index member is covered
    return int((~dup).sum()), n_pairs


def cross_within_split(vecs: np.ndarray, base_n: int, tau: float):
    """All-pairs >= tau split into within-replica vs cross-replica counts
    (replica = row-index block of base_n; generator concatenates)."""
    n = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    reps = np.arange(len(n)) // base_n
    within = cross = 0
    chunk = 4096
    for s in range(0, len(n), chunk):
        g = n[s:s + chunk] @ n.T
        rows, cols = np.nonzero(g >= tau)
        gi = rows + s
        keep = cols > gi  # upper triangle only
        same = reps[cols[keep]] == reps[gi[keep]]
        within += int(same.sum())
        cross += int(len(same) - same.sum())
    return within, cross


def main() -> None:
    dirs = sys.argv[1:] or [BASE, "/tmp/sf1", "/tmp/sf3", "/tmp/sf10"]
    spark = get_spark("semdedup-semantics")

    import pyarrow.parquet as pq

    base_rows = pq.read_metadata(f"{BASE}/embeddings.parquet").num_rows
    results = []
    for d in dirs:
        # the sf fixtures are SINGLE parquet files: without this the
        # O(n*k*dim) interpreted assign fold serializes onto one task
        # (the CLAUDE.md ensure_parallelism gotcha, re-learned here)
        emb = ensure_parallelism(
            spark.read.parquet(f"{d}/embeddings.parquet").select(
                "vec_id", "embedding"))
        n_rows = emb.count()
        k = kmeans.default_n_clusters(n_rows)
        cents = kmeans.kmeans_fit(emb, n_clusters=k)

        t0 = time.perf_counter()
        owner = []
        out = kmeans.semantic_dedup(
            emb, n_clusters=k, threshold=TAU, cache_owner=owner)
        noop(out)
        wall = time.perf_counter() - t0
        # survivor count from the SAME DataFrame (sum(kept) cannot be
        # pruned — kept depends on the pair join)
        survivors = out.agg(F.sum("kept")).first()[0]
        z_dups = n_rows - kmeans.semantic_dedup(
            emb, n_clusters=k, threshold=0.9
        ).agg(F.sum("kept")).first()[0]
        for c in owner:
            c.unpersist()

        raw = pq.read_table(f"{d}/embeddings.parquet")["embedding"]
        vecs = np.stack(
            raw.combine_chunks().to_numpy(zero_copy_only=False)
        ).astype("float64")
        pred_surv, pred_pairs = numpy_truth(
            vecs, np.asarray(cents, dtype="float64"), TAU)
        within, cross = cross_within_split(vecs, base_rows, TAU)
        rec = {
            "sf_dir": d, "n": n_rows, "k": k, "tau": TAU,
            "noop_sec": round(wall, 1),
            "spark_survivors": int(survivors),
            "numpy_survivors": pred_surv,
            "exact_match": int(survivors) == pred_surv,
            "in_cell_dup_pairs": pred_pairs,
            "truth_pairs_within_replica": within,
            "truth_pairs_cross_replica": cross,
            "dups_at_0.9": int(z_dups),
        }
        results.append(rec)
        print(json.dumps(rec), flush=True)
    spark.stop()
    print(json.dumps({"metric": "semdedup_semantics", "points": results}))


if __name__ == "__main__":
    main()
