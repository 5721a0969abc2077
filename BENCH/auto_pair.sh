#!/bin/bash
# N->4N core scaling pair of bench.py --scale-one (protocol: BENCH/SCALING.md).
# Usage: BENCH/auto_pair.sh RECORDS LOW HIGH [ROUNDS] [PARTITIONS] [TIMEOUT_S]
# Each round runs the HIGH-core leg, then the LOW-core leg, each in its own
# JVM, with a spin canary and uptime logged around every leg; take the min
# per level over the rounds. PARTITIONS sets SPARK_GRAFT_SHUFFLE_PARTITIONS
# (data-proportional, ~115 MB per reduce task); empty keeps the default.
# Defaults: ROUNDS=2, TIMEOUT_S=5400. The log goes to BENCH/runs/.
set -u
if [ $# -lt 3 ]; then
  sed -n 3p "$0" >&2
  exit 2
fi
RECORDS=$1 LOW=$2 HIGH=$3 ROUNDS=${4:-2} PARTITIONS=${5:-} TIMEOUT_S=${6:-5400}
cd "$(dirname "$0")/.."
mkdir -p BENCH/runs
LOG=BENCH/runs/auto_pair_${LOW}to${HIGH}_${RECORDS}${PARTITIONS:+_dp$PARTITIONS}_$(date -u +%Y%m%d_%H%M).log
export SPARK_GRAFT_SCALE_TRIALS=1
export SPARK_GRAFT_LOCAL_DIR=/tmp/spark-local
export SPARK_DRIVER_MEMORY=${SPARK_DRIVER_MEMORY:-16g}
[ -n "$PARTITIONS" ] && export SPARK_GRAFT_SHUFFLE_PARTITIONS=$PARTITIONS

canary() {
  python - <<'EOF'
import time
t0 = time.perf_counter(); n = 0
while time.perf_counter() - t0 < 2.0:
    for _ in range(100000): pass
    n += 100000
print(f"canary_mops={n / (time.perf_counter() - t0) / 1e6:.1f}")
EOF
}

log() { echo "$(date -u +%H:%M:%S) $*" >> "$LOG"; }

log "=== pair: $RECORDS records, rounds ($HIGH,$LOW) x$ROUNDS, partitions=${PARTITIONS:-default} ==="
for _ in $(seq "$ROUNDS"); do
  for cores in "$HIGH" "$LOW"; do
    log "leg cores=$cores n=$RECORDS start $(canary) $(uptime | sed 's/.*load/load/')"
    OUT=$(timeout "$TIMEOUT_S" python bench.py --scale-one "$cores" "$RECORDS" 2>/dev/null | tail -1)
    log "leg cores=$cores n=$RECORDS done $(canary) :: $OUT"
  done
done
log "=== done ==="
echo "$LOG"
