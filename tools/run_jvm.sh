#!/bin/bash
# Direct-JVM launcher for graft mains (Profile, Bench, Verify, ...):
#   tools/run_jvm.sh graft.tools.Profile text_tfidf_top_terms <sf_dir> --reps 3
#
# Why not `sbt runMain`: the sbt parent pumps the forked JVM's log
# stream at ~0.5 cores at sf1 task rates — enough to trip the bench's
# own foreign-core gate (NOTES_r12.md "the sbt log-pump is ambient").
# High-task-count runs must come from a parentless JVM; this script is
# that recipe, committed so every round stops rediscovering it.
# Flags mirror build.sbt's javaOptions (Spark 4.x on JDK 17 outside
# spark-submit needs the add-opens set spark-submit normally injects).
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io \
         java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent \
         java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
         java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
# Heap: SPARK_DRIVER_MEM, else half of MemTotal, at least 2g and capped
# at 30g (under the 32g compressed-oops boundary) — build.sbt's rule.
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 30 ? 30 : g) "g"}' 2>/dev/null </proc/meminfo \
  || echo 2g)}"
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$HEAP" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
