"""One-off scale proof: minhash_lsh_pairs with BARE DEFAULTS (the plan a
caller gets without flags) at a given sf dir — the round-9 re-run of the
SCALE.md sf10 row after hash_shingles=True became the default. Times a
noop-sink materialization (the CLAUDE.md discipline: .count() lets
Catalyst delete the work) and reports the emitted pair count, observed on
that same write (an ``Observation``), so the pipeline runs once.

Usage: SPARK_GRAFT_SF_DIR=/tmp/sf10 python scripts/bench_lsh_default_sf10.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation, functions as F

from simple_anonymizer_spark.operators import dedup
from simple_anonymizer_spark.session import get_spark, noop


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sf10")
    spark = get_spark("lsh-default-sf10")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # warm codegen at tiny scale
    warm = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    noop(dedup.minhash_lsh_pairs(warm, jaccard_threshold=0.3))

    pairs = Observation()
    start = time.perf_counter()
    noop(dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.3)
         .observe(pairs, F.count(F.lit(1)).alias("n")))
    elapsed = time.perf_counter() - start
    n_pairs = pairs.get["n"]
    print(json.dumps({
        "metric": "minhash_lsh_pairs_default_path", "unit": "sec",
        "value": round(elapsed, 1), "n_pairs": n_pairs, "sf_dir": sf_dir,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
