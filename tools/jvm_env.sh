# Shared JVM setup for the tools/run_*.sh runners. Source it, then run
#   java $GRAFT_JVM -cp "$GRAFT_CP" <main class> ...
# It moves to the repository root. Cores and heap follow the machine the
# way the tier-1 test command derives them: SPARK_GRAFT_CPUS defaults to
# nproc, SPARK_DRIVER_MEM to half of MemTotal clamped to 2g..8g. Set
# either in the environment to override it.
cd "$(dirname "${BASH_SOURCE[0]}")/.."
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
# Spark's jars: $SPARK_HOME, else the installation spark-submit belongs to
SPARK_HOME="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
GRAFT_CP="target/scala-2.13/classes:$SPARK_HOME/jars/*"
# Log through the tests' log4j2 profile, so the runners drop the same
# known-benign WARNs the suite does (one file; see its header).
GRAFT_JVM="-Xmx$SPARK_DRIVER_MEM -XX:+UseParallelGC -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC"
GRAFT_JVM="$GRAFT_JVM -Dlog4j2.configurationFile=$PWD/src/test/resources/log4j2-test.properties"
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  GRAFT_JVM="$GRAFT_JVM --add-opens java.base/$p=ALL-UNNAMED"
done
