"""Phase profile for registry queries: where does the bench second go?

For each name: time (a) BUILD — the QUERIES[name]() call itself, which
includes any driver-side jobs (collects, counts, writes) the query does
while constructing its DataFrame; (b) PLAN — explain() of the returned
DataFrame (analyzer+optimizer+physical planning, no execution); (c) EXEC1
— first noop write; (d) EXEC2 — second noop write of the SAME DataFrame
(re-plans the write but reuses nothing else; difference vs EXEC1 is
session warm-up noise).

Usage: python scripts/profile_query.py name [name...]
Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS / SPARK_GRAFT_WARM_DIR.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simple_anonymizer_spark.queries import QUERIES
from simple_anonymizer_spark.session import get_spark, noop, warmed


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    spark = get_spark("profile-query")

    for name in warmed(spark, names, warm_dir):
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        noop(df)
        t3 = time.perf_counter()
        noop(df)
        t4 = time.perf_counter()
        print(json.dumps({
            "query": name,
            "build_s": round(t1 - t0, 3),
            "plan_s": round(t2 - t1, 3),
            "exec1_s": round(t3 - t2, 3),
            "exec2_s": round(t4 - t3, 3),
            "total_bench_equiv_s": round(t3 - t0, 3),
        }))
    spark.stop()


if __name__ == "__main__":
    main()
