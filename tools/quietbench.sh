#!/bin/bash
# Quiet-window canonical bench: probe host speed with tools/CpuRef.java
# (the same FNV spin Bench emits as cpu_ref_sec) every ~9 minutes and run
# the canonical sf0.1 3-rep bench only once the host is at quiet speed.
# Rationale: BASELINE.md "Machine-speed witness" — VM-host noise windows
# inflate wall-clocks ~1.5x uniformly, so floors must only be compared
# (or reset) from runs whose cpu_ref is at the quiet reference.
#
# Threshold calibration (BASELINE.md "Calibration caveat"): this host
# measured cpu_ref 0.566 while running the suite AT its floors (178.7 s,
# 0 flags), so 0.566 is a healthy reading here and the old 0.45 gate
# would never fire. The witness separates frequency states, but the bad
# window's query inflation had a component the spin cannot see — treat
# the gate as "not in an obviously degraded state", not as proof of one.
#
# The 2026-08-14 window (BASELINE.md "Memory-bandwidth witness") proved a
# window can inflate the suite 1.23x while cpu_ref reads FAST — memory
# contention the register spin cannot see. The gate therefore also
# requires mem_ref_mt below 1.5x its pinned quiet reference.
#
# Pinned quiet references (round 7, BASELINE.md "Pinned quiet
# references"; keep in sync with graft.ops.CpuWitness.Quiet*): cpu_ref 0.49,
# mem_ref 0.266, mem_ref_mt 0.342 — observed floors over all recorded
# runs. Gates sit above the healthy band (cpu 0.49-0.57 observed while
# running AT floors), not at the floor itself.
#
# The bench line additionally records stage_ref_sec (per-stage driver
# scheduler latency, a 25-stage no-op chained-shuffle job — the third
# blind-spot class; see BASELINE.md "Per-stage scheduler-latency
# witness"). It needs a SparkContext, so this pre-gate cannot probe it;
# read it from the emitted line when adjudicating stage-latency-bound
# floor flags (graph family, m1).
#
# Usage: tools/quietbench.sh [threshold_sec] [mem_mt_threshold_sec]
#   (defaults 0.60 / 0.55 ~= 1.6x the pinned mem_ref_mt quiet 0.342)
set -u
cd "$(dirname "$0")/.."
THRESH="${1:-0.60}"
MEM_THRESH="${2:-0.55}"
PROBE_DIR=$(mktemp -d)
javac -d "$PROBE_DIR" tools/CpuRef.java
while true; do
  read -r cpu mt mem memmt <<< "$(java -cp "$PROBE_DIR" CpuRef)"
  echo "$(date -u +%FT%TZ) cpu_ref=$cpu cpu_ref_mt=$mt mem_ref=$mem mem_ref_mt=$memmt (thresholds $THRESH/$MEM_THRESH)"
  if python3 -c "import sys; sys.exit(0 if $cpu < $THRESH and $memmt < $MEM_THRESH else 1)"; then
    echo "quiet window - running canonical bench"
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
      sbt -batch "runMain graft.Bench" 2>&1 | tee /tmp/bench_quiet.log |
      grep -E '"metric"|FLOOR-REGRESSION|new floors'
    break
  fi
  sleep 540
done
