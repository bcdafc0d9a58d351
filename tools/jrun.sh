#!/bin/bash
# Run a graft main class directly from the compiled classes of the checkout
# this script lives in + $SPARK_HOME/jars, bypassing sbt — long sweeps then
# don't hold the sbt project lock.
# Usage: tools/jrun.sh <mainClass> [args...]   (env: SPARK_DRIVER_MEM=8g)
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# Locale pinned: TextStatsKernel's fused==composed equivalence (and the
# oracle hash gate) assumes non-Turkic lowercasing — under a tr/az default
# locale, String.toLowerCase maps 'I' to dotless 'ı' in the composed path
# only (r13 ADVICE). build.sbt pins the same flags for sbt-forked JVMs.
exec java $OPENS $EXTRA_JVM -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Duser.language=en -Duser.country=US \
  -cp "$ROOT/target/scala-2.13/classes":"${SPARK_HOME:?SPARK_HOME must name the Spark install}/jars/*" "$@"
