#!/bin/bash
# Full-suite sf10 oracle sweep (VERDICT r8 ask #1): run every registered
# query at sf10 in batches from a CLASSES SNAPSHOT (so foreground compiles
# can't corrupt a mid-flight batch), then DuckDB-compare each batch with a
# per-oracle cap. Timeout-class exact mirrors (documented in BASELINE.md)
# are excluded up front — their DuckDB mirrors are deliberately quadratic.
#
# Usage: tools/sf10_sweep.sh <snapshot-classes-dir> <out-root> [batch ...]
#
# Env: ORACLE_CAP (default 600) per-oracle DuckDB cap;
#      ORACLE_PRECLASSIFY=tools/mirror_families.txt to report the known
#      timeout-class mirrors as annotated TIMEOUTs instead of re-burning
#      the cap on each (their engine sides still run in the batch);
#      tools/sweep_summary.py then enforces that every TIMEOUT row —
#      measured or pre-classified — carries a documented family;
#      ORACLE_MIN_FREE_GB (default 20): per-mirror disk pre-flight —
#      a mirror is not launched if the spill filesystem has less free,
#      and the log carries a "disk pre-flight" TIMEOUT row instead of a
#      mid-query ENOSPC (r12 lost a dixfam mirror run that way).
set -uo pipefail
cd "$(dirname "$0")/.."
SNAP="$1"; OUT="$2"; shift 2
SF=target/testdata/sf10
mkdir -p "$OUT"
ADD_OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
for NAMEFILE in "$@"; do
  B="$(basename "$NAMEFILE" .txt)"
  NAMES="$(grep -v '^#' "$NAMEFILE" | tr '\n' ',' | sed 's/,$//;s/^,//')"
  [ -z "$NAMES" ] && continue
  # Disk-headroom guard (VERDICT r9 #6): both round-9 overlap failures
  # filled the disk INSIDE a batch that then kept running — abort the
  # batch up front instead of corrupting a mid-flight engine run.
  AVAIL_GB="$(df --output=avail -BG "$OUT" | tail -1 | tr -dc 0-9)"
  if [ "$AVAIL_GB" -lt "${MIN_DISK_GB:-40}" ]; then
    echo "ABORT batch $B: only ${AVAIL_GB}G free (< ${MIN_DISK_GB:-40}G)" \
      | tee -a "$OUT/sweep.log"
    continue
  fi
  echo "=== batch $B: engine start $(date +%T) ===" | tee -a "$OUT/sweep.log"
  # Full engine output goes to a per-batch file (ADVICE r9 #2: a JVM
  # crash/OOM before a query writes output must leave a trace), only the
  # [verify] lines to the shared log.
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
  java "${ADD_OPENS[@]}" "-Xmx${SPARK_DRIVER_MEM:-24g}" \
    -Dspark.ui.enabled=false \
    -cp "$SNAP:/opt/spark/jars/*" graft.Verify "$SF" "$OUT/$B" "$NAMES" \
    2>&1 | tee "$OUT/$B.engine.log" | grep "\[verify\]" | tee -a "$OUT/sweep.log"
  echo "=== batch $B: oracle start $(date +%T) ===" | tee -a "$OUT/sweep.log"
  python3 tools/check_oracle.py "$OUT/$B" "$SF" "${ORACLE_CAP:-600}" \
    2>&1 | tee -a "$OUT/sweep.log"
  # Absentee check (ADVICE r9 #2): check_oracle iterates only EXISTING
  # output dirs, so a query that never ran is otherwise silently missing
  # from the batch rather than reported.
  for N in $(echo "$NAMES" | tr ',' ' '); do
    [ -d "$OUT/$B/$N" ] || \
      echo "ABSENT $N: no output dir (engine died before it ran? see $B.engine.log)" \
        | tee -a "$OUT/sweep.log"
  done
done
echo "=== sweep done $(date +%T) ===" | tee -a "$OUT/sweep.log"
