#!/bin/bash
# Run a graft main class against the compiled sbt output without sbt startup
# overhead. Usage: scripts/run.sh graft.Verify /root/testdata/sf0.001 /tmp/out
set -e
CLS="$1"; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
# default heap: half of MemTotal, clamped to 2-8 g (the tier-1 test rule)
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"$HEAP" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:$ROOT/target/scala-2.13/test-classes:/opt/spark/jars/*" \
  "$CLS" "$@"
