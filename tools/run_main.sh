#!/bin/bash
# Run a compiled graft main directly (bypasses sbt's project lock so data
# generation / benches can overlap a test run). Usage:
#   tools/run_main.sh [-Xmx...] graft.GenScale <args...>
set -euo pipefail
cd "$(dirname "$0")/.."
XMX="-Xmx${SPARK_DRIVER_MEM:-8g}"
if [[ "${1:-}" == -Xmx* ]]; then XMX="$1"; shift; fi
ADD_OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
exec java "${ADD_OPENS[@]}" "$XMX" \
  -Dspark.ui.enabled=false \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
