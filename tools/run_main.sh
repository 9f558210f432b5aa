#!/usr/bin/env bash
# Dev-only runner: launch a graft main against the compiled classes
# (build them first with `sbt compile`) without going through sbt,
# which avoids the sbt server lock while a test run is in flight.
# Mirrors build.sbt's fork JVM options. The resources are on the
# classpath from the source tree: `sbt compile` does not copy them.
#   tools/run_main.sh graft.MakeScale /tmp/graft_sf1 /tmp/graft_sf10 10 perm
#   tools/run_main.sh graft.ClusterRehearsal
# The classpath is absolute and the add-opens list goes to executors
# too: local-cluster executor JVMs start from SPARK_HOME with their own
# cwd and JVM options. SPARK_SCALA_VERSION tells their launcher which
# Scala build to use instead of probing SPARK_HOME's build layout.
set -euo pipefail
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$ROOT/src/main/resources:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
export SPARK_SCALA_VERSION=2.13
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Dspark.executor.extraJavaOptions="$ADD_OPENS" \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  ${JAVA_EXTRA_OPTS:-} \
  -cp "$CP" "$@"
