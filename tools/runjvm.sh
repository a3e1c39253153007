#!/bin/bash
# Run a graft main directly on the compiled classes + Spark jars — no sbt
# lock, same JVM flags as build.sbt (add-opens, heap, GC hook). Spark
# confs come from the session (GraftContext.sessionBuilder), not -D flags.
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
GCOPT=""
[ -n "$SPARK_GRAFT_GC" ] && GCOPT="-XX:+$SPARK_GRAFT_GC"
exec java $ADDOPENS \
  -Xmx${SPARK_DRIVER_MEM:-8g} $GCOPT \
  -cp "${GRAFT_CLASSES:-/root/repo/target/scala-2.13/classes}:/opt/spark/jars/*" "$@"
