#!/bin/bash
# Direct-JVM runner for graft mains (Verify, Bench, ExplainAll, PlanAudit,
# the dev mains in src/test) — mirrors build.sbt's forked javaOptions
# without taking the sbt project lock, so a long run can coexist with
# sbt test. Time a few queries with
# `SPARK_GRAFT_ONLY=q1,q2 tools/run_main.sh graft.Bench`; besides its two
# stdout lines, Bench writes bench_layers.json: one record per (query,
# timed pass) with the wall time, jobs, stages, tasks, executor run/CPU/GC
# ms, shuffle and spill bytes and max/median task ms of the query's
# `build` phase (plan building, eager jobs included) and `run` phase (the
# noop write).
# Usage: tools/run_main.sh <mainClass> [args...]   (env vars pass through)
set -euo pipefail
cd "$(dirname "$0")/.."
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# test-classes + scalatest jars are appended so Test/runMain harnesses work
TESTJARS=$(find ~/.cache/coursier ~/.ivy2 -name 'scalatest*.jar' -o -name 'scalactic*.jar' 2>/dev/null | tr '\n' ':' || true)
exec java $ADDOPENS \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" -XX:ReservedCodeCacheSize=1g \
  -Dspark.sql.codegen.cache.maxEntries=5000 \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  ${EXTRA_JAVA_OPTS:-} \
  -cp "target/scala-2.13/classes:target/scala-2.13/test-classes:${TESTJARS}/opt/spark/jars/*" \
  "$@"
