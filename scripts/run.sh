#!/bin/bash
# Run a graft main (Verify/Bench) without sbt startup overhead.
# Usage: scripts/run.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
# The classpath carries src/main/resources itself (the descriptors and
# core-site.xml), so `sbt compile` alone is enough to run.
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# graft.harness: the bench's capture-environment stamp. An sbt-forked
# JVM carries the same bare-class sun.java.command as this exec (and
# the JVM expands the -cp wildcard before java.class.path is set), so
# only an explicit launcher marker can tell the two apart.
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-16g}" \
  -Dgraft.harness=run.sh \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" \
  "$@"
