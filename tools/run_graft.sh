#!/bin/bash
# Run a graft main directly against the compiled classes + the image's
# Spark jars, bypassing sbt (lets measurement laps run while sbt holds
# the project lock). Usage: tools/run_graft.sh graft.Probe time q33_basket_rules
# (test-scope mains such as graft.ScaleProbe run too, after sbt Test/compile)
MAIN="$1"; shift
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
CP="$CP:${CP%%/classes:*}/test-classes" # test-classes sits beside classes
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
  java.base/java.lang.reflect java.base/java.io java.base/java.net \
  java.base/java.nio java.base/java.util java.base/java.util.concurrent \
  java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
  java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" -cp "$CP" "$MAIN" "$@"
