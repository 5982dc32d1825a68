#!/usr/bin/env bash
# Round-11 probe runner: isolated graft.Bench session over a query
# subset at a given sf/replica dir, writing the bench JSON line to
# probes/r11/<out>.json and the full stderr trace next to it.
# Usage: run_probe11.sh <sfDir> <queries-csv> <passes> <outName> [heap] [cpus]
# (heap and cpus default to scripts/jvm_size.sh's machine defaults)
set -euo pipefail
cd "$(dirname "$0")/.."
. scripts/jvm_opens.sh
. scripts/jvm_size.sh
SF="$1"; Q="$2"; PASSES="$3"; OUT="$4"; HEAP="${5:-$DEFAULT_HEAP}"; CPUS="${6:-$DEFAULT_CPUS}"
mkdir -p probes/r11
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
SPARK_GRAFT_QUERIES="$Q" SPARK_GRAFT_BENCH_PASSES="$PASSES" \
java -Xmx"$HEAP" $OPENS -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench \
  > "probes/r11/${OUT}.json" 2> "probes/r11/${OUT}.stderr.log"
tail -1 "probes/r11/${OUT}.json"
