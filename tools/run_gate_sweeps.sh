#!/bin/bash
# One full-registry gate sweep per scale factor, the three run
# CONCURRENTLY (safe under the per-(pid,boot-token) scratch
# isolation; timings in the logs are informational only).
# Usage: tools/run_gate_sweeps.sh OUT_DIR — writes OUT_DIR/<sf>.log
# and OUT_DIR/<sf>.err for sf0.01, sf0.1 and sf0.001.
set -u
OUT=$(realpath "$1")
cd "$(dirname "$0")/.."
pids=()
for SF in sf0.01 sf0.1 sf0.001; do
  SPARK_GRAFT_CPUS=16 \
    python tools/check_correctness.py /root/testdata/$SF \
    > "$OUT/$SF.log" 2>"$OUT/$SF.err" &
  pids+=($!)
done
rc=0
for p in "${pids[@]}"; do wait "$p" || rc=1; done
echo "sweeps done rc=$rc" >> "$OUT/waves.log"
