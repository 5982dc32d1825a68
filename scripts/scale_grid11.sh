#!/usr/bin/env bash
# Round-11 core-scaling grid (r10 verdict task 6): run each query against
# the 64x replica at every core of the machine and at a quarter of them,
# single pass, no warmup — the per-query wall ratio of the two is the
# scaling evidence sf0.1 cannot give (there fewer cores can beat more
# because every query is overhead-bound). Cores and heap are
# scripts/jvm_size.sh's machine defaults.
# Usage: scale_grid11.sh <replicaDir> <queries-csv> [outPrefix]
set -euo pipefail
SF="$1"; QS="$2"; PREFIX="${3:-grid64}"
cd "$(dirname "$0")/.."
mkdir -p probes/r11
. scripts/jvm_opens.sh
. scripts/jvm_size.sh
IFS=',' read -ra ARR <<< "$QS"
for q in "${ARR[@]}"; do
  for cpus in "$DEFAULT_CPUS" "$(( DEFAULT_CPUS >= 4 ? DEFAULT_CPUS / 4 : 1 ))"; do
    SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$cpus" SPARK_GRAFT_QUERIES="$q" \
    SPARK_GRAFT_BENCH_PASSES=1 SPARK_GRAFT_BENCH_WARMUP=0 \
    java -Xmx"$DEFAULT_HEAP" $OPENS -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench \
      > "probes/r11/${PREFIX}_${q}_c${cpus}.json" 2> "probes/r11/${PREFIX}_${q}_c${cpus}.stderr.log" || \
      echo "[grid] $q c$cpus FAILED"
    tail -c 200 "probes/r11/${PREFIX}_${q}_c${cpus}.json"; echo
  done
done
