#!/usr/bin/env bash
# Interleaved A/B bench protocol. Single-query noise on a shared host
# is about ±1 s, so any per-query delta under ~2× read from ONE bench
# run is unreadable.
# The readable protocol: run the two arms strictly interleaved
# (A B A B …) minutes apart at most, then compare the PAIRED samples —
# ambient drift hits both arms equally.
#
# Usage:
#   tools/ab_probe.sh -n 3 -q q1,q2 "ARM_A_ENV=..." "ARM_B_ENV=..."
#
#   -n N     pairs to run (default 3)
#   -q LIST  comma-separated query names passed to graft.Probe
#   arm args: env assignments for arm A and arm B ("" for none).
#            SPARK_GRAFT_SF_DIR=<dir> selects the data (default sf0.1),
#            SPARK_GRAFT_REPEAT=n re-times the list n times per run.
#
# Output: every PROBE line tagged with its arm, then a per-query
# min/median summary per arm. Judge a delta real only if the two
# arms' sample ranges do NOT overlap.
set -euo pipefail

N=3
QUERIES=""
while getopts "n:q:" opt; do
  case $opt in
    n) N="$OPTARG" ;;
    q) QUERIES="${OPTARG//,/ }" ;;
    *) exit 2 ;;
  esac
done
shift $((OPTIND - 1))
ARM_A="${1-}"
ARM_B="${2-}"
[ -n "$QUERIES" ] || { echo "need -q query[,query…]" >&2; exit 2; }

LOG="$(mktemp /tmp/ab_probe.XXXXXX.log)"
echo "interleaved A/B: $N pairs, queries [$QUERIES]" | tee "$LOG"
echo "  arm A: ${ARM_A:-<no env>}" | tee -a "$LOG"
echo "  arm B: ${ARM_B:-<no env>}" | tee -a "$LOG"

for i in $(seq 1 "$N"); do
  for arm in A B; do
    envs="$([ "$arm" = A ] && echo "$ARM_A" || echo "$ARM_B")"
    # shellcheck disable=SC2086
    env $envs sbt -batch "runMain graft.Probe $QUERIES" 2>/dev/null |
      grep -o 'PROBE .*' | sed "s/^PROBE/PROBE $arm $i/" | tee -a "$LOG"
  done
done

echo
echo "summary (seconds; judge only non-overlapping ranges as real):"
awk '/^PROBE/ {
  key = $2 " " $4           # arm + query name
  t = $(NF - 0); sub(/s$/, "", t)
  times[key] = times[key] " " t
}
END {
  for (k in times) {
    n = split(times[k], a, " ")
    asort_min = a[1]; for (i = 2; i <= n; i++) if (a[i] < asort_min) asort_min = a[i]
    printf "  %-40s n=%d min=%.2f all=[%s]\n", k, n, asort_min, times[k]
  }
}' "$LOG" | sort -k1,1
echo "raw log: $LOG"
