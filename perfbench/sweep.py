"""Run the benchmark over many seeds and summarize the spread.

From the repository root:

    python3 perfbench/sweep.py --seeds 1-10 --out perfbench/baseline/set-a.jsonl
    python3 perfbench/sweep.py --summarize perfbench/baseline/set-a.jsonl \
        perfbench/baseline/set-b.jsonl

The first form runs every workload of ``BENCHMARK.json`` (or ``--workloads``)
once per seed, one run at a time, seed by seed, and appends one JSON line
per run: the run's result line, its ``record`` line, exit code and wall
time.  The second
prints, per workload and end-to-end metric, the median and the quartile
spread (``statistics.quantiles(values, n=4)``, as a share of the median) of
each file, and for two files the shift of the second median against the
first, each next to the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import iqr_share, median  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_sweep(workloads: list[str], seeds: list[int], trace: int,
              seconds: int, out: str) -> None:
    # seed-major order, so a minutes-long slow spell of the host lands on
    # both workloads instead of on several seeds of one
    for seed in seeds:
        for w in workloads:
            cmd = [sys.executable, os.path.join("perfbench", "run.py"),
                   "--workload", w, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(trace)]
            t0 = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=900)
            wall = time.perf_counter() - t0
            lines = p.stdout.strip().splitlines()
            rec = next((json.loads(ln[len("record "):]) for ln in lines
                        if ln.startswith("record ")), None)
            res = json.loads(lines[-1]) if p.returncode == 0 else None
            row = {"workload": w, "seed": seed, "trace": trace, "rc":
                   p.returncode, "wall_s": wall, "result": res,
                   "record": rec}
            with open(out, "a") as f:
                f.write(json.dumps(row) + "\n")
            print(f"{w} seed={seed} rc={p.returncode} wall={wall:.1f}s "
                  f"correct={res and res['correct']}", flush=True)


def _medians(path: str) -> dict:
    by: dict[tuple[str, str], list[float]] = {}
    with open(path) as f:
        for line in f:
            row = json.loads(line)
            if not row["result"] or row["trace"]:
                continue
            for k, v in row["result"]["metrics"].items():
                by.setdefault((row["workload"], k), []).append(v["value"])
    return by


def summarize(paths: list[str]) -> None:
    bounds = {m["name"]: m["bound"] for m in _benchmark()["end_to_end"]}
    sets = [_medians(p) for p in paths]
    for key in sorted(sets[0]):
        w, metric = key
        cols = []
        for s in sets:
            vals = s.get(key, [])
            spread = iqr_share(vals) if len(vals) > 1 else float("nan")
            cols.append(f"n={len(vals)} med={median(vals):.4g} "
                        f"spread={spread:.3f}")
        line = f"{w:14s} {metric:11s} bound={bounds[metric]:.2f}  " + \
            "  |  ".join(cols)
        if len(sets) == 2 and key in sets[1]:
            a, b = median(sets[0][key]), median(sets[1][key])
            line += f"  |  shift={(b - a) / a:+.3f}"
        print(line)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out")
    p.add_argument("--summarize", nargs="+", metavar="JSONL")
    args = p.parse_args(argv)
    if args.summarize:
        summarize(args.summarize)
        return 0
    if not args.out:
        p.error("--out is required to run a sweep")
    spec = _benchmark()
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    run_sweep(workloads, _seeds(args.seeds), args.trace,
              spec["run_seconds"], args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
