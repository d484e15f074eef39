"""Streamed-maintainer per-batch timing at a given scale (VERDICT r8 #8,
one decade past the r8 sf1 table): deliver the fixture in four quarter
batches to each maintainer and time every availableNow pass. The
contract under test is O(batch) per-batch work — per-batch seconds must
stay FLAT while standing state grows 4x.

Usage: SPARK_GRAFT_SF_DIR=/tmp/sf3 python scripts/bench_stream_maintainers.py
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from simple_anonymizer_spark.operators import kmeans
from simple_anonymizer_spark.session import get_spark
from simple_anonymizer_spark.streaming import incremental as INC


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sf3")
    spark = get_spark("stream-maintainers-bench")
    root = tempfile.mkdtemp(prefix="streambench-")

    def deliver(df, src, name):
        stage = os.path.join(root, f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        [part] = glob.glob(stage + "/part-*.parquet")
        shutil.move(part, os.path.join(src, name))

    def timed_runs(make_query, src, batches, label):
        times = []
        for i, b in enumerate(batches):
            deliver(b, src, f"b{i}.parquet")
            t0 = time.perf_counter()
            q = make_query().trigger(availableNow=True).start()
            q.awaitTermination(1200)
            times.append(round(time.perf_counter() - t0, 1))
        print(json.dumps({"stream": label, "per_batch_sec": times,
                          "sf_dir": sf_dir}), flush=True)
        return times

    out = {}

    # 1) near-dup ingest: quarters of the documents table
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    src1 = os.path.join(root, "src_docs"); os.makedirs(src1)
    state1 = os.path.join(root, "state_docs")
    ck1 = os.path.join(root, "ck_docs")
    out["stream_neardup_ingest"] = timed_runs(
        lambda: INC.stream_neardup_ingest(
            spark, src1, state1, ck1, schema=docs.schema),
        src1,
        [docs.where(F.col("doc_id") % 4 == i) for i in range(4)],
        "stream_neardup_ingest",
    )
    n_pairs = spark.read.parquet(state1 + "/pairs").count()
    n_corpus = spark.read.parquet(state1 + "/corpus").count()

    # 2) HLL rollup: quarters of the raw events table
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    src2 = os.path.join(root, "src_events"); os.makedirs(src2)
    reg2 = os.path.join(root, "reg_events")
    ck2 = os.path.join(root, "ck_events")
    out["stream_hll_rollup"] = timed_runs(
        lambda: INC.stream_hll_rollup(
            spark, src2, reg2, ck2, schema=raw.schema),
        src2,
        [raw.where(F.col("event_id") % 4 == i) for i in range(4)],
        "stream_hll_rollup",
    )

    # 3) IVF index ingest: quarters of the embeddings table, fixture-
    #    trained quantizer (the registry k=8 shape times the maintainer,
    #    not the trainer)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")
    cents = kmeans.kmeans_fit(
        emb.where(F.col("vec_id") % 4 == 0), n_clusters=8)
    src3 = os.path.join(root, "src_emb"); os.makedirs(src3)
    idx3 = os.path.join(root, "idx_emb")
    ck3 = os.path.join(root, "ck_emb")
    out["stream_embedding_ingest"] = timed_runs(
        lambda: INC.stream_embedding_ingest(
            spark, src3, idx3, ck3, cents, schema=emb.schema),
        src3,
        [emb.where(F.col("vec_id") % 4 == i) for i in range(4)],
        "stream_embedding_ingest",
    )

    print(json.dumps({
        "metric": "stream_maintainers", "sf_dir": sf_dir,
        "per_batch_sec": out,
        "final_state": {"neardup_pairs": n_pairs, "corpus_rows": n_corpus},
    }))
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
