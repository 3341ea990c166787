#!/bin/bash
# Dev harness: package-free full-protocol bench run on the packaged jar.
# Usage: run_bench.sh [sfDir] [cpus]   (env knobs pass through, see SKILL.md)
# Writes stdout (the one-line compact JSON) to /tmp/bench_stdout.txt and
# the Spark log to /tmp/bench_stderr.log; BENCH_SELF.json lands in the
# repo root. Scaling numbers need the machine otherwise idle.
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.1}
CPUS=${2:-32}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_CPUS=$CPUS java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp target/scala-2.13/lucenenetspark_2.13-0.1.0.jar:/opt/spark/jars/* \
  graft.Bench > /tmp/bench_stdout.txt 2>/tmp/bench_stderr.log
echo "rc=$?" | tee /tmp/bench_done.txt
