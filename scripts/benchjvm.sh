#!/usr/bin/env bash
# sbt-free Bench launcher: same JVM flags as build.sbt's forked run
# (JDK17 add-opens, 24g heap, 512m code cache), classpath = compiled
# classes + /opt/spark/jars. Measurement windows can then run without
# paying sbt startup, and without contending for the single sbt lock.
# All SPARK_GRAFT_* knobs pass through. Usage: scripts/benchjvm.sh
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes"
for j in /opt/spark/jars/*.jar; do CP="$CP:$j"; done
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# GRAFT_JAVA_OPTS: extra -D/-X flags for A/B runs (e.g.
# -Dgraft.manifest.cache.bytes=0 to measure without the manifest cache)
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" -XX:ReservedCodeCacheSize=512m \
  ${GRAFT_JAVA_OPTS:-} \
  -cp "$CP" "${GRAFT_MAIN:-graft.Bench}" "$@"
