#!/bin/bash
# Direct-JVM runner for scale probes (graft.Bench / graft.ScaleProbeData /
# graft.*ScaleProbe) so long probe runs don't hold the sbt build lock.
#   usage: scripts/probe.sh <MainClass> [args...]
#   env:   HEAP=8g|16g (JVM -Xmx), plus the usual SPARK_GRAFT_* vars.
#          CLASSES_DIR=/tmp/snap — run from a class SNAPSHOT (cp -r of
#          target/scala-2.13/classes) so an sbt compile during a long probe
#          cannot yank class files out from under the probe JVM's lazy
#          loading (the round-15 FAILED_READ_FILE lesson).
# Performance harness only — never a correctness input.
set -euo pipefail
CLASSES="${CLASSES_DIR:-$(dirname "$0")/../target/scala-2.13/classes}"
CP="$CLASSES:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# SPARK_EXTRA_OPTS: optional -Dspark.* properties (SparkConf reads spark.*
# system properties), e.g. compression A/B probes:
#   SPARK_EXTRA_OPTS="-Dspark.rdd.compress=true -Dspark.io.compression.codec=zstd"
# or the codegen class cache as Spark ships it (graft.util.EngineDefaults):
#   SPARK_EXTRA_OPTS="-Dspark.sql.codegen.cache.maxEntries=100 -Dspark.sql.codegen.useIdInClassName=true"
exec java $OPENS -Xmx"${HEAP:-8g}" ${SPARK_EXTRA_OPTS:-} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$@"
