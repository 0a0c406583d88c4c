#!/usr/bin/env python3
"""The repository benchmark: two closed-loop, single-client workloads over
the package's public functions on one `get_spark(cpus=nproc)` session.

Run one workload from the repository root:

    python3 perfbench/run.py --workload qc_session --seed 1 --seconds 13 --trace 0

With `--trace 0` it prints the end-to-end metrics of BENCHMARK.json; with
`--trace 1` it runs pass 0 once untraced and once traced and prints the
per-layer metrics. The last stdout line is the result object; the line
before it is a `{"perfbench": ...}` record stamped with nproc, load
averages, seed and git commit. Compare two sets of such outputs with

    python3 perfbench/run.py compare BEFORE.txt AFTER.txt

All scratch files go to `.perfbench_work/` and are removed at exit; traced
runs write their spans to `.perfbench_out/`.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import main  # noqa: E402

if __name__ == "__main__":
    sys.exit(main())
