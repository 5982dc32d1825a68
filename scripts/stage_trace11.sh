#!/usr/bin/env bash
# Round-11 stage tracer. Usage: stage_trace11.sh <sfDir> <query> [cpus]
# (cpus and the heap are scripts/jvm_size.sh's machine defaults)
set -euo pipefail
cd "$(dirname "$0")/.."
. scripts/jvm_opens.sh
. scripts/jvm_size.sh
SF="$1"; Q="$2"; CPUS="${3:-$DEFAULT_CPUS}"
SPARK_GRAFT_CPUS="$CPUS" java -Xmx"$DEFAULT_HEAP" $OPENS -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.tools.StageTrace "$SF" "$Q"
