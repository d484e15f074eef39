"""Standalone best-of-3 measurement for a handful of queries — the
repo's measurement discipline (CLAUDE.md: bench timings swing
±30-100% with session state; re-measure standalone best-of-3 in ONE
fresh session before calling a regression).

Usage: python scripts/bench_standalone.py q1 q2 ...   [default: the
three round-6 residual-slowdown queries]. BEST_OF sets the number of
timed runs (default 3). Prints one JSON line. Uses bench.py's session
(``session.get_spark``) and its sf0.001 warm-up, so numbers are comparable.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simple_anonymizer_spark.queries import QUERIES
from simple_anonymizer_spark.session import best_of, get_spark, noop, warmed

DEFAULT = ["doc_surprisal_corpus", "dedup_golden_records", "bpe_encode_docs"]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    reps = int(os.environ.get("BEST_OF", "3"))
    spark = get_spark("bench-standalone")

    out: dict[str, float] = {}
    for name in warmed(spark, names, warm_dir):
        best, _ = best_of(lambda: noop(QUERIES[name](spark, sf_dir)), reps)
        out[name] = round(best, 3)
    print(json.dumps({"metric": "standalone_best_of_3", "unit": "sec",
                      "queries": out, "sf_dir": sf_dir}))
    spark.stop()


if __name__ == "__main__":
    main()
