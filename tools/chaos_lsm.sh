#!/bin/bash
# Chaos soak for the CDC LSM replica: kill -9 the LsmChaosSoak JVM at
# random points mid-stream (mid-merge, mid-async-fold, between the
# manifest and checkpoint commits), relaunch into the same workDir, and
# require the final run to report snapshot_diff=0 AND a complete audit.
# The facts-side sibling of tools/chaos_soak.sh.
#
# Usage: tools/chaos_lsm.sh [nKills] [nKeys] [outJson]
# Env: CHAOS_SEED (reproducible kill schedule), SPARK_GRAFT_CPUS,
#      CHAOS_MIN_S / CHAOS_SPAN_S (kill window)
set -u
KILLS=${1:-12}
KEYS=${2:-4000000}
OUT=${3:-${TMPDIR:-/tmp}/chaos_lsm.json}
SEED=${CHAOS_SEED:-13}
CPUS=${SPARK_GRAFT_CPUS:-24}
MIN_S=${CHAOS_MIN_S:-8}
SPAN_S=${CHAOS_SPAN_S:-30}
# work dir under $TMPDIR; JVM heap = half of MemTotal in GB, clamped to
# [2, 24] (the tier-1 SPARK_DRIVER_MEM rule with the old fixed 24g as cap)
BASE=$(mktemp -d "${TMPDIR:-/tmp}/graft-lsmchaos-XXXX")
HEAP=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 24 ? 24 : g) "g"}' \
  /proc/meminfo 2>/dev/null || echo 2g)
# every attempt appends its phase spans (graft.Trace) to one file BESIDE
# the work dir, which a fresh-corpus restart removes: one per-phase
# record across all SIGKILL relaunches
export SPARK_GRAFT_TRACE="$BASE/trace.jsonl"
echo "[chaos-lsm] phase trace: $SPARK_GRAFT_TRACE"
cd "$(dirname "$0")/.."

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

RANDOM=$SEED
attempt=0
kills=0
kill_pts=()
t0=$(date +%s)
while :; do
  attempt=$((attempt + 1))
  LOG="$BASE/run$attempt.log"
  LOCAL="$BASE/spark-local-$attempt"
  rm -rf "$BASE/spark-local-$((attempt - 1))"
  SPARK_GRAFT_CPUS=$CPUS java $ADD_OPENS -Xmx"$HEAP" \
    -Dspark.ui.enabled=false -Dspark.local.dir="$LOCAL" \
    -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
    graft.LsmChaosSoak "$KEYS" "$BASE/work" \
    >"$LOG" 2>"$LOG.err" &
  pid=$!
  if [ "$kills" -lt "$KILLS" ]; then
    delay=$((RANDOM % SPAN_S + MIN_S))
    slept=0
    while [ $slept -lt $delay ] && kill -0 $pid 2>/dev/null; do
      sleep 1; slept=$((slept + 1))
    done
    if kill -0 $pid 2>/dev/null; then
      kill -9 $pid
      wait $pid 2>/dev/null
      kills=$((kills + 1))
      kill_pts+=("$delay")
      echo "[chaos-lsm] attempt $attempt: SIGKILL after ${delay}s (kill $kills/$KILLS)"
      continue
    fi
    echo "[chaos-lsm] attempt $attempt: completed before the ${delay}s kill point"
  fi
  wait $pid
  rc=$?
  line=$(grep -h '"metric":"lsm_chaos_soak"' "$LOG" | tail -1)
  if [ $rc -eq 0 ] && [ -n "$line" ]; then
    if [ "$kills" -lt "$KILLS" ]; then
      echo "[chaos-lsm] drained with only $kills/$KILLS kills — fresh corpus, continuing"
      rm -rf "$BASE/work"
      continue
    fi
    elapsed=$(( $(date +%s) - t0 ))
    verdict=$(echo "$line" | python3 -c 'import sys,json; d=json.load(sys.stdin); print(d["snapshot_diff"], d["audit_rows"], d["envelopes"])')
    read -r sd ar ne <<<"$verdict"
    printf '{"metric":"chaos_lsm","keys":%s,"kills":%s,"attempts":%s,"seed":%s,"kill_delays_s":[%s],"snapshot_diff":%s,"audit_rows":%s,"envelopes":%s,"elapsed_s":%s,"final":%s}\n' \
      "$KEYS" "$kills" "$attempt" "$SEED" \
      "$(IFS=,; echo "${kill_pts[*]-}")" "$sd" "$ar" "$ne" "$elapsed" "$line" | tee "$OUT"
    [ "$sd" = "0" ] && [ "$ar" = "$ne" ] && exit 0
    echo "[chaos-lsm] NONZERO DIFF or incomplete audit — state diverged after replay" >&2
    exit 1
  fi
  echo "[chaos-lsm] attempt $attempt exited rc=$rc without a soak line — see $LOG.err" >&2
  tail -5 "$LOG.err" >&2
  exit 1
done
