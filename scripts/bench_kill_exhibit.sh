#!/bin/bash
# Bench durability exhibit: run graft.Bench at sf0.001, kill -9 the JVM
# the moment the first pass's artifact appears (before the final emit),
# then check that the kill still left (a) a parseable JSON summary line
# on stdout and (b) a parseable bench_full.json. Restores the checkout's
# bench_full.json afterwards and prints PASS/FAIL.
set -u
cd "$(dirname "$0")/.."
CP_FILE=/tmp/graft_bench_cp.txt
if [ ! -s "$CP_FILE" ]; then
  sbt -batch "export Runtime/fullClasspath" 2>/dev/null | grep -E '^/' | tail -1 > "$CP_FILE"
fi
CP=$(cat "$CP_FILE")
OUT=/tmp/bench_kill_stdout.txt
cp -f bench_full.json /tmp/bench_full_backup.json 2>/dev/null
rm -f bench_full.json "$OUT"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
OPENS="$OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 SPARK_GRAFT_BENCH_RUNS=1 \
  java $OPENS -Xmx8g -cp "$CP" graft.Bench > "$OUT" 2>/dev/null &
PID=$!
for i in $(seq 1 3000); do
  if [ -s bench_full.json ]; then break; fi
  if ! kill -0 $PID 2>/dev/null; then echo "FAIL: bench exited before its first emit"; exit 1; fi
  sleep 0.2
done
kill -9 $PID 2>/dev/null
wait $PID 2>/dev/null
RC=$?
python3 - "$OUT" "$RC" <<'PY'
import json, sys
lines = [l for l in open(sys.argv[1]) if l.startswith('{')]
assert lines, "no JSON line on stdout after kill"
parsed = json.loads(lines[-1])
art = json.loads(open('bench_full.json').read())
assert parsed['n_ok'] > 0 and art['n_ok'] > 0
print(f"PASS: killed mid-run (rc {sys.argv[2]}); stdout line stage={parsed['stage']} "
      f"n_ok={parsed['n_ok']}; artifact stage={art['stage']} n={art['n']}")
PY
ST=$?
cp -f /tmp/bench_full_backup.json bench_full.json 2>/dev/null
exit $ST
