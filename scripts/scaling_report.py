"""N-vs-4N report over the raw samples of ``scripts/bench_scaling_cluster.sh``.

Run: python scripts/scaling_report.py <image|dedup|dedup-long>
(``NWORDS`` env names the dedup-long raw files, default 1000.)

Reads ``BENCH/raw_cluster_<stem>_{8,32}.jsonl`` — one ``{probe} {job}``
line per JVM — and prints, per timed stage, the min wall on each side,
its spread, the min-of-reps efficiency and the PAIRED per-rep
efficiencies (same rep on both sides, which cancels slow host drift),
then the host probes.  Efficiency = throughput(4N) / (4 x throughput(N)).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# workload -> (rows key, row unit, timed stages)
WORKLOADS = {
    "image": ("n_images", "img", ("decode_sec", "full_sec")),
    "dedup": ("n_docs", "docs", ("minhash_sec", "dedup_sec")),
    "dedup-long": ("n_docs", "docs", ("minhash_sec", "dedup_sec")),
}


def raw_stem(workload: str) -> str:
    if workload == "dedup-long":
        return f"dedup_w{os.environ.get('NWORDS', '1000')}"
    return {"image": "image6m", "dedup": "dedup4m"}[workload]


def load(path: str, want_cores: int) -> list:
    """One entry PER LINE — invalid/discarded samples become None so the
    paired (same-rep) columns never zip temporally unrelated reps."""
    rows = []
    for ln in open(path):
        ln = ln.strip()
        if not ln:
            continue
        try:
            probe, rest = ln.split("} ", 1)
            p, r = json.loads(probe + "}"), json.loads(rest)
        except (ValueError, json.JSONDecodeError):
            print(f"DISCARDED unparseable line in {path}: {ln[:60]}...")
            rows.append(None)
            continue
        if r.get("cores_end", r["cores"]) != want_cores:
            # executors missing at END of the measured stages: the
            # sample is neither N nor 4N
            print(f"DISCARDED sample cores={r['cores']}/"
                  f"{r.get('cores_end')} in {path}")
            rows.append(None)
            continue
        if r["cores"] != want_cores:
            # late registration BEFORE the warm pass: by measurement
            # time all executors were up (cores_end checks that), so the
            # sample is valid — note the slow start for the record
            print(f"note: sample started at cores={r['cores']} "
                  f"(registered {want_cores} by measurement) in {path}")
        rows.append((p, r))
    return rows


def report(workload: str, bench_dir: str) -> None:
    rows_key, unit, stages = WORKLOADS[workload]
    stem = os.path.join(bench_dir, f"raw_cluster_{raw_stem(workload)}")
    rows8 = load(f"{stem}_8.jsonl", 8)
    rows32 = load(f"{stem}_32.jsonl", 32)
    ok8 = [r for r in rows8 if r]
    ok32 = [r for r in rows32 if r]
    if not ok8 or not ok32:
        raise SystemExit("no valid samples on one side — rerun")
    n = ok8[0][1][rows_key]
    label = f" (w={ok8[0][1]['n_words']})" if workload == "dedup-long" else ""
    for stage in stages:
        w8 = [r[stage] for _, r in ok8]
        w32 = [r[stage] for _, r in ok32]
        b8, b32 = min(w8), min(w32)
        paired = [
            round(a[1][stage] / b[1][stage] / 4, 2) if a and b else None
            for a, b in zip(rows8, rows32)
        ]
        print(f"{stage[:-4]}{label}: min 8c={b8}s ({n/b8:,.0f} {unit}/s) "
              f"32c={b32}s ({n/b32:,.0f} {unit}/s) "
              f"spread8=±{(max(w8)-b8)/b8*100:.0f}% "
              f"spread32=±{(max(w32)-b32)/b32*100:.0f}% "
              f"min-eff={(b8/b32)/4:.2f} paired-effs={paired}")
    print("probes8:", [p["probe_sec"] for p, _ in ok8])
    print("probes32:", [p["probe_sec"] for p, _ in ok32])


if __name__ == "__main__":
    report(sys.argv[1], os.path.join(REPO, "BENCH"))
