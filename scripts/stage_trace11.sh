#!/usr/bin/env bash
# Round-11 stage tracer. Usage: stage_trace11.sh <sfDir> <query> [cpus]
set -euo pipefail
SF="$1"; Q="$2"; CPUS="${3:-32}"
cd "$(dirname "$0")/.."
. scripts/jvm_opens.sh
SPARK_GRAFT_CPUS="$CPUS" java -Xmx80g $OPENS -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.tools.StageTrace "$SF" "$Q"
