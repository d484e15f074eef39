"""Per-round cost of connected_components on a long-chain graph
(VERDICT r12 #1): a path graph of diameter D needs ~D propagation
rounds; if any round re-executed the previous rounds' join chain the
per-round wall time would GROW with the round index (O(D^2) total).
The in-loop eager localCheckpoint (components.py, r12) must keep it
flat (O(D)).

Prints one JSON line: per-round seconds (instrumented via a monkey-
patched localCheckpoint boundary is intrusive; instead we time whole
runs at increasing diameters — O(D) shows as linear total, O(D^2) as
quadratic) plus the convergence round count.

Usage: python scripts/bench_components_chain.py [n_nodes_per_chain ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from simple_anonymizer_spark.operators import components
from simple_anonymizer_spark.session import get_spark


def main() -> None:
    diameters = [int(a) for a in sys.argv[1:]] or [8, 16, 32]
    # Node ids are chain * 10000 + position: a longer chain would run
    # into the next chain's id range.
    if not all(0 < d < 10000 for d in diameters):
        raise SystemExit(f"diameters must be in 1..9999, got {diameters}")
    spark = get_spark("components-chain-bench")

    out = {}
    for d in diameters:
        # 200 parallel chains of `d` edges each: diameter d, so ~d
        # propagation rounds; enough rows that a per-round re-execution
        # is visible above job-scheduling noise.
        edges = (
            spark.range(200 * d)
            .select(
                ((F.col("id") % 200) * 10000 + (F.col("id") / 200)
                 .cast("long")).alias("id_a"),
                ((F.col("id") % 200) * 10000 + (F.col("id") / 200)
                 .cast("long") + 1).alias("id_b"),
            )
        )
        spark.sparkContext.setJobDescription(f"components chain d={d}")
        t0 = time.perf_counter()
        labels = components.connected_components(edges, max_iterations=d + 5)
        n = labels.groupBy("component").count().count()
        el = time.perf_counter() - t0
        assert n == 200, n
        out[f"d{d}"] = round(el, 2)
        out[f"d{d}_per_round"] = round(el / d, 3)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
