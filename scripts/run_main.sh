#!/bin/bash
# Run a graft main directly against the compiled classes (same JVM
# flags as build.sbt's forked run), so long ScaleUp/Bench/Verify jobs
# don't hold sbt's project lock while tests run.
#   scripts/run_main.sh [-D<spark.conf>=<value>...] <MainClass> [args...]
# Honors SPARK_DRIVER_MEM (default 8g) like the sbt run does. JVM flags
# before the class pass through; Spark reads every -Dspark.* property as
# its conf (e.g. -Dspark.driver.maxResultSize=4g, -Dspark.checkpoint.dir=<dir>).
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$@"
