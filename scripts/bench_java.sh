#!/usr/bin/env bash
# Run graft.Bench (or any graft main, $BENCH_MAIN) in a plain cold java
# JVM against a snapshot of the compiled classes (zipf_isolated_java.sh
# runs each query through it): keeps sbt's lock free and gives a fresh JVM so
# measurements are not contaminated by sbt's own heap. Snapshot is
# refreshed on every invocation unless SKIP_SNAPSHOT=1.
#
# Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... scripts/bench_java.sh [args...]
set -u
cd "$(dirname "$0")/.."
MEM="${SPARK_DRIVER_MEM:-64g}"
MAIN="${BENCH_MAIN:-graft.Bench}"
SNAP=/tmp/graft_cls
if [ "${SKIP_SNAPSHOT:-0}" != "1" ]; then
  rm -rf "$SNAP"; mkdir -p "$SNAP"
  cp -r target/scala-2.13/classes/* "$SNAP/"
fi
CP="$SNAP:$(echo /opt/spark/jars/*.jar | tr ' ' ':')"
# JAVA_EXTRA_OPTS: e.g. -Dspark.graft.<conf>=<v> for A/B runs
exec java -Xmx"$MEM" -XX:+UseG1GC ${JAVA_EXTRA_OPTS:-} \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -cp "$CP" "$MAIN" "$@"
