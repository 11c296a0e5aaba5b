#!/bin/bash
# Run a graft main on the compiled classes plus the Spark jars, with the
# JDK 17 --add-opens list Spark needs outside spark-submit (the list in
# build.sbt's jdk17AddOpens). Arguments go to `java` unchanged: JVM options,
# then the main class and its arguments.
# Usage: tools/spark_java.sh [jvm options] <main class> [args...]
#   e.g. tools/spark_java.sh -Xmx4g graft.Dev time scan_project_filter
CLASSES="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
exec java "${OPENS[@]}" -cp "$CLASSES:/opt/spark/jars/*" "$@"
