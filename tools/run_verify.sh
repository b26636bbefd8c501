#!/bin/bash
# Local mirror of the driver's verify step: compile once (sbt), then run
# graft.Verify directly with java for fast iteration.
#   tools/run_verify.sh [sfdir] [outdir]
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/gverify}
. "$(dirname "$0")/jvm_env.sh"
rm -rf "$OUT"
java $GRAFT_JVM -cp "$GRAFT_CP" graft.Verify "$SF" "$OUT"
