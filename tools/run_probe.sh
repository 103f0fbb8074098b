#!/bin/bash
# Standalone-JVM launcher for the long probes/bench (graft.VolumeProbe,
# graft.Bench, graft.Inspect) — run inside tmux: an sbt-forked run dies
# with the shell's background-task timeout, and sbt must not compile
# while one of these JVMs is mid-flight (lazy classfile loads would mix
# versions). Arguments after the main class pass through to it.
# Usage: tools/run_probe.sh <MainClass> [args...]  (env pre-set by caller)
#   e.g. tools/run_probe.sh graft.Inspect stages graph_pagerank 3
set -eu
if [ $# -lt 1 ]; then
  echo "usage: $0 <MainClass>  (env: SPARK_GRAFT_SF_DIR etc. pre-set by caller)" >&2
  exit 2
fi
MAIN="$1"
shift
# Repo root derived from this script's own location, not hardcoded —
# the launcher keeps working from a relocated checkout (ADVICE round 16).
REPO_ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CLASSES="$REPO_ROOT/target/scala-2.13/classes"
if [ ! -d "$CLASSES" ]; then
  echo "error: $CLASSES missing — run 'sbt compile' first" >&2
  exit 2
fi
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -XX:ReservedCodeCacheSize=512m \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-48g}" \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "$MAIN" "$@"
