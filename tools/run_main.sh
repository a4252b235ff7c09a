#!/bin/bash
# Run a graft main directly against the sbt-compiled classes, bypassing
# sbt (useful when sbt's lock is held by a concurrent test run).
# Usage: tools/run_main.sh <mainClass> [args...]
# Env passthrough: SPARK_GRAFT_* vars are read by the mains themselves
# (SPARK_GRAFT_CPUS defaults to every processor, in GraftSession).
# SPARK_DRIVER_MEM sets the heap, 8g by default, as in build.sbt.
# The classpath is this checkout's compiled classes plus $SPARK_HOME/jars.
set -euo pipefail
CLS="$1"; shift
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
# 128+ queries x whole-stage codegen generate enough JIT'd classes to
# exhaust the default 240 MB reserved code cache mid-run, after which
# HotSpot silently stops compiling and everything runs interpreted —
# the bench's erratic 5-30x per-query tail. Reserve enough for the
# whole suite.
exec java -Xmx"${SPARK_DRIVER_MEM:-8g}" -XX:ReservedCodeCacheSize=1g \
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
  -Dderby.system.home=/tmp/derby \
  -cp "$ROOT/target/scala-2.13/classes:${SPARK_HOME:?SPARK_HOME must name the Spark install}/jars/*" \
  "$CLS" "$@"
