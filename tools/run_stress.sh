#!/bin/bash
# Adversarial hot-key dedup stress sweep: compile the main and test
# trees once (sbt), then run graft.StressDedup, which lives in the test
# tree, directly with java.
#   python3 tools/make_replica.py /root/testdata/sf0.1 /tmp/sf1hot 10 --hot-pct 1
#   tools/run_stress.sh [corpus_dir] [work_dir]
set -e
CORPUS=${1:-/tmp/sf1hot}
WORK=${2:-/tmp/graft-stress}
. "$(dirname "$0")/jvm_env.sh"
sbt --batch -Dsbt.log.noformat=true Test/compile
rm -rf "$WORK"
# The derived heap is at most 8g on purpose: the sweep's memory-bound
# claim is only evidence if the heap is NOT generous.
java $GRAFT_JVM -cp "target/scala-2.13/test-classes:$GRAFT_CP" graft.StressDedup "$CORPUS" "$WORK"
