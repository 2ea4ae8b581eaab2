"""Benchmark of the feature engine: seeded workloads, end to end and per
layer.

Run from the repository root:

    python3 perfbench/run.py --workload pit_training --seed 1 --seconds 10 --trace 0

``--trace 0`` prints every end-to-end metric; ``--trace 1`` prints the
per-layer metrics (see ``BENCHMARK.json`` for both lists).  The last line
of standard output is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
The lines before it print each metric by name and unit, and a ``record``
line with the host context, sizes, raw samples and any check failures.
"""

from __future__ import annotations

import argparse
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("pit_training", "daily_cycle")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "feature_store_spark")):
        print(f"perfbench: no feature_store_spark/ package in {ROOT}; run "
              "from a full checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import run

    return run(args)


if __name__ == "__main__":
    sys.exit(main())
