#!/bin/bash
# Local bench runner (r22): full or partial graft.Bench at a given SF dir.
#   tools/run_bench.sh [sfdir] [outjson]
# Env passthrough: SPARK_GRAFT_ONLY, SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM,
# SPARK_GRAFT_EXPLAIN.
set -e
SF=${1:-/root/testdata/sf0.1}
OUT=${2:-/tmp/bench_r22.json}
. "$(dirname "$0")/jvm_env.sh"
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_BENCH_OUT="$OUT" \
  java $GRAFT_JVM -cp "$GRAFT_CP" graft.Bench
