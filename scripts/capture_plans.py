"""Capture .explain('formatted') for registry queries into plans/r12/.

Usage: python scripts/capture_plans.py [suffix] [names...]
  suffix: 'before' or 'after' (default 'before')
  names:  registry names (default: ALL queries)

Planning only — no job execution — so this is cheap and can run while
other work occupies the executors. Also prints a one-line-per-query
summary: #Exchange, join node types, Python-eval nodes, #subqueries.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simple_anonymizer_spark.queries import QUERIES
from simple_anonymizer_spark.session import get_spark

OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "plans", os.environ.get("PLANS_ROUND", "r13"))


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or list(QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("capture-plans")
    os.makedirs(OUT_DIR, exist_ok=True)

    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as exc:  # noqa: BLE001 - record and continue
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            continue
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_ex = len(re.findall(r"\bExchange\b", plan))
        joins = sorted(set(re.findall(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
            r"BroadcastNestedLoopJoin|CartesianProduct)", plan)))
        pyeval = sorted(set(re.findall(
            r"(BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|"
            r"FlatMapGroupsInPandas)", plan)))
        n_sub = len(re.findall(r"Subquery", plan))
        n_agg = len(re.findall(r"\bSortAggregate\b", plan))
        flags = []
        if n_agg:
            flags.append(f"SortAggregate x{n_agg}")
        print(f"{name}: Exchange x{n_ex}; joins={','.join(joins) or '-'}; "
              f"pyeval={','.join(pyeval) or '-'}; subq={n_sub}"
              + ("; " + "; ".join(flags) if flags else ""))
    spark.stop()


if __name__ == "__main__":
    main()
