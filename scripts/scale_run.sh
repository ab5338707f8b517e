#!/bin/bash
# Round-3 scale-proof driver: run the full test suite, then each
# graft.tools.ScaleBench section in its own JVM (sections persist to
# BENCH/scale_sections/*.md and SCALE.md is reassembled after each).
set -uo pipefail
cd /root/repo
LOG=/tmp/scale
mkdir -p "$LOG"

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# snapshot the compiled classes so recompiles during the (hours-long) chain
# cannot corrupt lazily-loaded classes in running sections
rm -rf /tmp/scale/classes
cp -r target/scala-2.13/classes /tmp/scale/classes
CP="/tmp/scale/classes:/opt/spark/jars/*"
MEM="${SPARK_DRIVER_MEM:-24g}"

run() { # run <name> <class> [args...]
  local name=$1; shift
  echo "=== $name start $(date +%T) ===" | tee -a "$LOG/chain.log"
  java $ADD_OPENS -Xmx$MEM -Xms$MEM -XX:+AlwaysPreTouch -XX:+UseParallelGC \
       -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
       -cp "$CP" "$@" > "$LOG/$name.log" 2>&1
  local rc=$?
  echo "=== $name done rc=$rc $(date +%T) ===" | tee -a "$LOG/chain.log"
  return 0
}

echo "=== sbt test start $(date +%T) ===" | tee -a "$LOG/chain.log"
sbt -batch test > "$LOG/test.log" 2>&1
echo "=== sbt test done rc=$? $(date +%T) ===" | tee -a "$LOG/chain.log"

run linearity graft.tools.ScaleBench linearity
run ann      graft.tools.ScaleBench ann
run decode   graft.tools.ScaleBench decode
SPARK_GRAFT_SCALE_ROUNDS=2 run protocol graft.tools.ScaleBench protocol sf0.3
echo "=== chain complete $(date +%T) ===" | tee -a "$LOG/chain.log"
