#!/bin/bash
# Run a graft main class directly (after `sbt compile`), bypassing sbt's JVM
# startup. Usage: scripts/run_main.sh <main class> [args ...], e.g.
#   scripts/run_main.sh graft.Verify <sf dir> <out dir>
#   SPARK_GRAFT_SF_DIR=<sf dir> scripts/run_main.sh graft.Bench
#     (stdout JSON line; BENCH_full.json and BENCH_profile.json in the cwd)
#   SPARK_GRAFT_SF_DIR=<sf dir> scripts/run_main.sh \
#     graft.tools.Profile [--reps N] [--ab key=v1|v2] [query ...]
#     (one JSON line per row: the per-layer record Bench writes)
set -e
CLASS="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# GRAFT_JAVA_OPTS: optional extra JVM flags (e.g. a scratch-dir override
# for A/B measurement: GRAFT_JAVA_OPTS=-Djava.io.tmpdir=/dev/shm/x)
exec java $ADD_OPENS \
  -XX:+UseParallelGC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  ${GRAFT_JAVA_OPTS:-} \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$CLASS" "$@"
