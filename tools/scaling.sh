#!/bin/bash
# Scaling evidence: the identical conflation job (graft.ScalingBench) at
# each parallelism LEVEL, every run in a fresh JVM.
#
#   tools/scaling.sh [--repeats R] [--cluster EXEC_MB] PAGES ROADS LEVEL...
#
# Levels run in the given order on odd repeats and in reverse on even ones,
# so slow host drift does not always bill the same level. Every run must
# report the same segments and tiles, or the script exits 1. Prints one
# JSON object: every run (with its steal_pct), the median seconds per
# level, and the efficiency of medians between consecutive levels,
# (T_a / T_b) / (b / a).
#
# Default: `sbt runMain` with master local[LEVEL] (threads in one JVM).
# --cluster EXEC_MB: `spark-submit` of the `sbt package` jar on
# local-cluster[LEVEL/2,2,EXEC_MB], i.e. LEVEL/2 separate 2-core executor
# JVMs of EXEC_MB MB each; LEVEL must be even. Run `sbt package` first.
#
# Runs must be exclusive: no other JVM-heavy work on the host meanwhile.
# Build and Spark output goes to target/scaling.log.
set -euo pipefail
cd "$(dirname "$0")/.."

usage() {
  echo "usage: $0 [--repeats R] [--cluster EXEC_MB] PAGES ROADS LEVEL..." >&2
  exit 2
}
REPEATS=1
EXEC_MB=
while [ $# -gt 0 ]; do
  case "$1" in
    --repeats) REPEATS=${2:?}; shift 2 ;;
    --cluster) EXEC_MB=${2:?}; shift 2 ;;
    -h|--help) usage ;;
    *) break ;;
  esac
done
[ $# -ge 3 ] || usage
PAGES=$1 ROADS=$2
shift 2
LEVELS=("$@")

LOG=target/scaling.log
mkdir -p target
: > "$LOG"
if [ -n "$EXEC_MB" ]; then
  JAR=$(ls -t target/scala-2.13/*.jar 2>/dev/null | head -1 || true)
  [ -n "$JAR" ] || { echo "no jar in target/scala-2.13: run 'sbt package' first" >&2; exit 1; }
  for L in "${LEVELS[@]}"; do
    [ $((L % 2)) -eq 0 ] && [ "$L" -ge 2 ] || { echo "--cluster level $L is not even" >&2; exit 2; }
  done
  # executors get their own tmpfs local dir: ScalingBench's session wipes
  # /dev/shm/spark-local after the cluster's JVMs have started
  if [ -d /dev/shm ]; then CLUSTER_DIR=/dev/shm/spark-cluster; else CLUSTER_DIR=/tmp/spark-cluster; fi
fi

run_level() { # LEVEL -> ScalingBench's JSON line on stdout
  local L=$1
  if [ -z "$EXEC_MB" ]; then
    sbt -batch "runMain graft.ScalingBench $L $PAGES $ROADS" 2>>"$LOG"
  else
    local master="local-cluster[$((L / 2)),2,$EXEC_MB]"
    rm -rf "$CLUSTER_DIR"; mkdir -p "$CLUSTER_DIR"
    SPARK_LOCAL_DIRS=$CLUSTER_DIR spark-submit \
      --master "$master" \
      --driver-memory "${SPARK_DRIVER_MEM:-2g}" \
      --conf spark.executor.memory="${EXEC_MB}m" \
      --conf spark.driver.extraJavaOptions="-XX:+AlwaysPreTouch" \
      --conf spark.executor.extraJavaOptions="-XX:+AlwaysPreTouch -Xms${EXEC_MB}m -XX:ActiveProcessorCount=2" \
      --class graft.ScalingBench "$JAR" "$L" "$PAGES" "$ROADS" "$master" 2>>"$LOG"
  fi | tee -a "$LOG" | grep -oE '\{"cpus".*\}' | tail -1
}

RUNS=$(mktemp)
trap 'rm -rf "$RUNS" ${CLUSTER_DIR:+"$CLUSTER_DIR"}' EXIT
for r in $(seq 1 "$REPEATS"); do
  if [ $((r % 2)) -eq 1 ]; then ORDER=("${LEVELS[@]}")
  else ORDER=(); for ((i = ${#LEVELS[@]} - 1; i >= 0; i--)); do ORDER+=("${LEVELS[i]}"); done
  fi
  for L in "${ORDER[@]}"; do
    echo "[scaling] $(date +%H:%M:%S) repeat $r level $L" >&2
    LINE=$(run_level "$L" || true)
    [ -n "$LINE" ] || { echo "level $L produced no result; see $LOG" >&2; exit 1; }
    echo "$r $LINE" >> "$RUNS"
  done
done

python3 - "$RUNS" "$PAGES" "$ROADS" "${EXEC_MB:-}" "${LEVELS[@]}" <<'PY'
import json, statistics, sys
runs_file, pages, roads, exec_mb = sys.argv[1:5]
levels = sorted({int(x) for x in sys.argv[5:]})
runs = []
for line in open(runs_file):
    rep, js = line.split(" ", 1)
    runs.append(dict(json.loads(js), repeat=int(rep)))
outputs = {(r["segments"], r["tiles"]) for r in runs}
median = {L: statistics.median(r["sec"] for r in runs if r["cpus"] == L) for L in levels}
out = {
    "pages": int(pages), "roads": int(roads),
    "mode": f"local-cluster[L/2,2,{exec_mb}] via spark-submit" if exec_mb else "local[L] via sbt",
    "segments": sorted(outputs)[0][0], "tiles": sorted(outputs)[0][1],
    "outputs_identical": len(outputs) == 1,
    "runs": runs,
    "median_sec": {str(L): median[L] for L in levels},
    "efficiency_of_medians": {
        f"{a}->{b}": round((median[a] / median[b]) / (b / a), 3)
        for a, b in zip(levels, levels[1:])},
}
print(json.dumps(out))
if len(outputs) != 1:
    sys.exit(f"outputs differ across runs: {sorted(outputs)}")
PY
