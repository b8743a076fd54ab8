#!/bin/bash
# Solo per-query bench: one fresh JVM, warm + timed pass per query
# (the Bench --chunk contract), printed as BENCHQ lines. Usage:
#   tools/solo.sh q1[,q2,...] [sfDir] [cpus]
# cpus defaults to $SPARK_GRAFT_CPUS, else the host's processors (graft.Sessions).
set -e
CSV="$1"
SF="${2:-/root/testdata/sf0.1}"
if [ -n "$3" ]; then export SPARK_GRAFT_CPUS="$3"; fi
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
SPARK_GRAFT_SF_DIR="$SF" \
  java $ADD_OPENS -Xmx8g -XX:ReservedCodeCacheSize=1g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Bench --chunk "$CSV" 2>/dev/null | grep -E "BENCHQ|BENCHE"
