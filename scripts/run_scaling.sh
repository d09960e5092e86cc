#!/bin/bash
cd "$(dirname "$0")/.."
export SPARK_GRAFT_SCALING=1
export SPARK_GRAFT_SCALE_REPEATS="${SPARK_GRAFT_SCALE_REPEATS:-3}"
export SPARK_GRAFT_SCALE_FIXTURE="${SPARK_GRAFT_SCALE_FIXTURE:-scale2}"
export SPARK_GRAFT_SCALE_PAIR="${SPARK_GRAFT_SCALE_PAIR:-1,4}"
export SPARK_GRAFT_SKIP_HEADLINE="${SPARK_GRAFT_SKIP_HEADLINE:-0}"
# The 280k-file corpus is GC-bound on the pair-verify join at 16g; the
# bigger heap is a scaling-run opt-in, NOT the engine default (it regresses
# small/JVM-heavy workloads 2-4x — see VERDICT round 2).
export SPARK_GRAFT_DRIVER_MEM="${SPARK_GRAFT_DRIVER_MEM:-24g}"
OUT="${1:-$PWD/BENCH/scaling_run.json}"
exec python bench.py > "$OUT" 2> "${OUT%.json}.log"
