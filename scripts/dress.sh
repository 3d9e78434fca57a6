#!/usr/bin/env bash
# Full-suite bench dress: run graft.Bench at sf0.1 (steal-aware
# interleaved suite + tail re-run + isolated two-canary recheck), save
# the JSON line, and print a BASELINE.md close-out paragraph skeleton.
# Exists to remove the transcription step between a dress run and the
# committed prose — round 13's close-out paragraph described the
# builder's dress while the driver artifact carried a different verdict
# (VERDICT r13 items 4 and 7); a script-generated skeleton quotes the
# run's own fields.
#
# Usage: scripts/dress.sh [out.json]
#   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
#   (default 32), SPARK_GRAFT_RUNS and SPARK_GRAFT_ONLY pass through to
#   graft.Bench, which reads its floors from floors.json.
set -euo pipefail
cd "$(dirname "$0")/.."
OUT="${1:-/tmp/dress_$$.json}"
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  sbt -batch 'runMain graft.Bench' 2>/dev/null \
  | grep '"metric"' | sed 's/^\[info\] //' > "$OUT"
python3 scripts/dress_report.py "$OUT"
echo
echo "[dress] json: $OUT"
