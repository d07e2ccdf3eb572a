#!/bin/bash
# Chaos soak: kill -9 the PipelineSoak JVM at random points mid-stream,
# relaunch into the same workDir (corpus/drops are generated once — see
# the _CORPUS_READY marker), and require the final run to report
# pipeline_diff=0 AND kb_diff=0 AND decon_diff=0 AND vec_diff=0. This
# turns the spec-pinned crash-replay
# contracts (checkpoint replay + index fingerprint guards + concurrent
# compaction lease/GC) from "the interleavings we thought of" into "any
# interleaving the scheduler produces under SIGKILL".
#
# Usage: tools/chaos_soak.sh [nKills] [nDocs] [nBatches] [outJson]
# Env: CHAOS_SEED (reproducible kill schedule), SPARK_GRAFT_CPUS
set -u
KILLS=${1:-20}
DOCS=${2:-300000}
BATCHES=${3:-12}
OUT=${4:-${TMPDIR:-/tmp}/chaos_soak.json}
SEED=${CHAOS_SEED:-12}
CPUS=${SPARK_GRAFT_CPUS:-24}
# kill window (seconds after launch): uniform in [MIN, MIN+SPAN). Size it
# to the run shape — kills should land THROUGHOUT the stream, not all in
# JVM startup (~13s) or first-attempt corpus generation
MIN_S=${CHAOS_MIN_S:-5}
SPAN_S=${CHAOS_SPAN_S:-25}
# work dir under $TMPDIR; JVM heap = half of MemTotal in GB, clamped to
# [2, 24] (the tier-1 SPARK_DRIVER_MEM rule with the old fixed 24g as cap)
BASE=$(mktemp -d "${TMPDIR:-/tmp}/graft-chaos-XXXX")
HEAP=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 24 ? 24 : g) "g"}' \
  /proc/meminfo 2>/dev/null || echo 2g)
# every attempt appends its phase spans (graft.Trace) to one file BESIDE
# the work dir, which a fresh-corpus restart removes: one per-phase
# record across all SIGKILL relaunches
export SPARK_GRAFT_TRACE="$BASE/trace.jsonl"
echo "[chaos] phase trace: $SPARK_GRAFT_TRACE"
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
  # per-attempt spark.local.dir: a SIGKILLed JVM leaks its shuffle dirs;
  # sweeping the previous attempt's dir keeps the box bounded
  LOCAL="$BASE/spark-local-$attempt"
  rm -rf "$BASE/spark-local-$((attempt - 1))"
  # SPARK_GRAFT_CHAOS makes the soak SIGKILL itself once at the vector
  # cutover's pre-rename seam (marker-guarded), so one kill is always
  # guaranteed to land mid-cutover regardless of the random schedule
  SPARK_GRAFT_CPUS=$CPUS SPARK_GRAFT_CHAOS=1 java $ADD_OPENS -Xmx"$HEAP" \
    -Dspark.ui.enabled=false -Dspark.local.dir="$LOCAL" \
    -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
    graft.PipelineSoak "$DOCS" "$BATCHES" "$BASE/work" 0.5 \
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
      echo "[chaos] attempt $attempt: SIGKILL after ${delay}s (kill $kills/$KILLS)"
      continue
    fi
    # process finished before the kill fired — check its verdict below
    echo "[chaos] attempt $attempt: completed before the ${delay}s kill point"
  fi
  wait $pid
  rc=$?
  # the soak's own mid-cutover SIGKILL (SPARK_GRAFT_CHAOS): count it as a
  # kill and relaunch into the same dir — the marker survives, so it
  # fires exactly once per corpus
  if [ $rc -ne 0 ] && [ -f "$BASE/work/_CHAOS_CUT_DONE" ] && \
     [ ! -f "$BASE/work/_CHAOS_CUT_ACK" ]; then
    touch "$BASE/work/_CHAOS_CUT_ACK"
    kills=$((kills + 1))
    kill_pts+=('"cutover"')
    echo "[chaos] attempt $attempt: self-SIGKILL mid-cutover (kill $kills/$KILLS)"
    continue
  fi
  line=$(grep -h '"metric":"pipeline_soak"' "$LOG" | tail -1)
  if [ $rc -eq 0 ] && [ -n "$line" ]; then
    if [ "$kills" -lt "$KILLS" ]; then
      # drained before we reached the kill quota: restart the whole soak
      # in a FRESH dir so the remaining kills land on live streams
      echo "[chaos] drained with only $kills/$KILLS kills — fresh corpus, continuing"
      rm -rf "$BASE/work"
      continue
    fi
    elapsed=$(( $(date +%s) - t0 ))
    diffs=$(echo "$line" | python3 -c 'import sys,json; d=json.load(sys.stdin); print(d["pipeline_diff"], d["kb_diff"], d.get("decon_diff", 0), d.get("vec_diff", 0), d.get("retract_diff", 0))')
    read -r pd kd dd vd rd <<<"$diffs"
    printf '{"metric":"chaos_soak","docs":%s,"batches":%s,"kills":%s,"attempts":%s,"seed":%s,"kill_delays_s":[%s],"pipeline_diff":%s,"kb_diff":%s,"decon_diff":%s,"vec_diff":%s,"retract_diff":%s,"elapsed_s":%s,"final":%s}\n' \
      "$DOCS" "$BATCHES" "$kills" "$attempt" "$SEED" \
      "$(IFS=,; echo "${kill_pts[*]-}")" "$pd" "$kd" "$dd" "$vd" "$rd" "$elapsed" "$line" | tee "$OUT"
    [ "$pd" = "0" ] && [ "$kd" = "0" ] && [ "$dd" = "0" ] && [ "$vd" = "0" ] && [ "$rd" = "0" ] && exit 0
    echo "[chaos] NONZERO DIFF — state diverged after replay" >&2
    exit 1
  fi
  echo "[chaos] attempt $attempt exited rc=$rc without a soak line — see $LOG.err" >&2
  tail -5 "$LOG.err" >&2
  exit 1
done
