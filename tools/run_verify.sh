#!/bin/bash
# Local mirror of the driver's verify step: compile once (sbt), then run
# graft.Verify directly with java for fast iteration.
#   tools/run_verify.sh [sfdir] [outdir] [keys]
# keys: optional comma-separated query keys (e.g. q_ann_ivf,q_ann_pq),
# passed on as SPARK_GRAFT_ONLY so only those queries run; check the
# dump with CHECK_ONLY set to the same list on tools/check_oracle.py.
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/gverify}
if [ -n "$3" ]; then export SPARK_GRAFT_ONLY="$3"; fi
. "$(dirname "$0")/jvm_env.sh"
rm -rf "$OUT"
java $GRAFT_JVM -cp "$GRAFT_CP" graft.Verify "$SF" "$OUT"
