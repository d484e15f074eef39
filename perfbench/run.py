"""Benchmark of the whole-database copy (``DbCopier.run``).

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload subset_chain_parquet --seed 1 \
        --seconds 20 --trace 0

Prints one JSON object as the last line of standard output. Workloads,
metrics and bounds are declared in ``BENCHMARK.json``; the procedure is
described in ``perfbench/harness.py``.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import main  # noqa: E402

if __name__ == "__main__":
    sys.exit(main())
