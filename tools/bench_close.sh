#!/bin/bash
# Round-close bench with automatic drift adjudication (VERDICT r13 #6):
# run graft.Bench at a scale dir, then band_adjudicate.py compares the
# result against the prior clean recording — any shared key >1.2x slower
# gets git provenance + a `graft.Tools host-band` min-of-20 — and the verdict table
# is APPENDED to BASELINE.md, so the close carries the host-vs-code
# adjudication without prose argument.
#
# Usage: tools/bench_close.sh <sfDir> <out_bench.json> <prior_clean.json> <prior_ref>
set -euo pipefail
SF_DIR=$1; OUT=$2; PRIOR=$3; PRIOR_REF=$4
cd "$(dirname "$0")/.."
SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
  tools/run.sh graft.Bench 2>&1 | grep '{"metric"' | tail -1 > "$OUT"
python3 tools/band_adjudicate.py "$OUT" "$PRIOR" "$PRIOR_REF" "$SF_DIR" \
  | tee -a BASELINE.md
