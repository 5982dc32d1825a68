#!/usr/bin/env bash
# Round-11 probe runner: isolated graft.Bench session over a query
# subset at a given sf/replica dir, writing the bench JSON line to
# probes/r11/<out>.json and the full stderr trace next to it.
# Usage: run_probe11.sh <sfDir> <queries-csv> <passes> <outName> [heap] [cpus]
set -euo pipefail
SF="$1"; Q="$2"; PASSES="$3"; OUT="$4"; HEAP="${5:-80g}"; CPUS="${6:-32}"
cd "$(dirname "$0")/.."
mkdir -p probes/r11
. scripts/jvm_opens.sh
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
SPARK_GRAFT_QUERIES="$Q" SPARK_GRAFT_BENCH_PASSES="$PASSES" \
java -Xmx"$HEAP" $OPENS -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench \
  > "probes/r11/${OUT}.json" 2> "probes/r11/${OUT}.stderr.log"
tail -1 "probes/r11/${OUT}.json"
