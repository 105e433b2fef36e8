#!/bin/bash
# Run a graft main class directly (no sbt lock): scripts/run_graft.sh <MainClass> [args...]
# Env: SPARK_DRIVER_MEM (default 8g — same knob and default as build.sbt's run
# protocol, so timings taken here stay comparable to the BENCH_r* ledger).
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CLASSES="$REPO/target/scala-2.13/classes"
# a plain `sbt compile` leaves src/main/resources uncopied, and the BPE
# tables would then fail in a static initializer deep inside a run
if [ ! -f "$CLASSES/graft/bpe/merges.txt" ]; then
  echo "error: $CLASSES/graft/bpe/merges.txt missing — run 'sbt compile Compile/copyResources' first" >&2
  exit 1
fi
CP="$CLASSES:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} -cp "$CP" "$@"
