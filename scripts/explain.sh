#!/bin/bash
# Dev harness: print explain(formatted) for representative query shapes
# (graft.Explain) so pushdown/broadcast/codegen properties can be audited.
# Usage: explain.sh [sfDir]
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.001}
PKG_LOG=$(sbt -batch package 2>&1) || {
  echo "$PKG_LOG" | tail -20 >&2
  echo "[explain] sbt package FAILED — refusing to run a stale jar" >&2
  exit 1
}
echo "$PKG_LOG" | grep -E "error|success" || true
JAR=target/scala-2.13/lucenenetspark_2.13-0.1.0.jar
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
java $ADD_OPENS -Xmx8g -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$JAR:/opt/spark/jars/*" graft.Explain "$SF"
