"""The scaling report reproduces the committed N-vs-4N efficiencies from
the committed raw samples, and the runner parses."""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# min-of-reps and paired per-rep efficiencies per timed stage, as the
# per-workload reports printed them for BENCH/raw_cluster_*_{8,32}.jsonl
PINNED = {
    "image": {
        "decode": (0.91, [0.67, 0.7, 0.75, 0.84, 0.81, 0.94]),
        "full": (0.83, [0.62, 0.78, 0.76, 0.81, 0.85, 0.83]),
    },
    "dedup": {
        "minhash": (0.75, [0.59, 0.76, 0.74, 0.79, 0.93, 0.81, 0.75]),
        "dedup": (0.68, [0.78, 0.69, 0.78, 0.73, 0.9, 0.78, 0.68]),
    },
    "dedup-long": {
        "minhash": (0.72, [0.64, 0.77, 0.67, 0.72, 0.8]),
        "dedup": (0.66, [0.45, 0.53, 0.48, 0.58, 0.71]),
    },
}

_LINE = re.compile(
    r"^(\w+)(?: \(w=\d+\))?: .* min-eff=([\d.]+) paired-effs=\[(.*)\]$")


@pytest.mark.parametrize("workload", sorted(PINNED))
def test_report_matches_committed_figures(workload):
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "scaling_report.py"),
         workload],
        capture_output=True, text=True, check=True,
        env={**os.environ, "NWORDS": "1000"},
    ).stdout
    got = {}
    for line in out.splitlines():
        m = _LINE.match(line)
        if m:
            got[m.group(1)] = (float(m.group(2)),
                               [float(x) for x in m.group(3).split(", ")])
    assert got == PINNED[workload]


def test_runner_parses():
    subprocess.run(
        ["bash", "-n", os.path.join(REPO, "scripts", "bench_scaling_cluster.sh")],
        check=True)
