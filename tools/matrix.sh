#!/usr/bin/env bash
# Determinism matrix: each row runs graft.Verify on one corpus under one
# environment and grades the dump with tools/check.py.
#
# Usage: tools/matrix.sh [label…]    (no label: the standing rows)
#
# Rows:
#   stock0001 stock001 stock01   the three test scales as shipped
#   cpus7 aqe0                   sf0.01 at 7 cores / with AQE off
#   kmiters0 traincap2           sf0.01 with a semantic-dedup knob at its edge
#   null001 null01 empty uni001 uni01 dup skew001 skew01
#                                injected corpora (tools/*ify.py)
#   nullskew dupuni nsu moneydup composed injections
# Injected rows run at 10 cores: the battery is partition-order
# deterministic and must stay hash-green under any parallelism. Only the
# corpora the chosen rows need are built, fresh, from the tree at HEAD.
#
# Serializes sbt; run under nohup. The summary goes to
# /tmp/matrix_summary.txt and ends "MATRIX DONE at <commit>", which
# tools/close_gate.sh checks.
set -uo pipefail
cd "$(dirname "$0")/.."
T=/root/testdata
S=/tmp/matrix_summary.txt

# The sf0.1 injected rows are standing: only at that scale do the
# injected arms push count-shaped knobs (candidate caps, pair caps) past
# their thresholds.
STANDING="stock0001 stock001 stock01 cpus7 aqe0 null001 null01 empty uni001 dup skew001 uni01 skew01"

declare -A ROW=(   # label -> data dir and env
  [stock0001]="$T/sf0.001"
  [stock001]="$T/sf0.01"
  [stock01]="$T/sf0.1 SPARK_GRAFT_CPUS=10"
  [cpus7]="$T/sf0.01 SPARK_GRAFT_CPUS=7"
  [aqe0]="$T/sf0.01 SPARK_GRAFT_AQE=0"
  [kmiters0]="$T/sf0.01 SPARK_GRAFT_SEM_KMEANS_ITERS=0 SPARK_GRAFT_CPUS=10"
  [traincap2]="$T/sf0.01 SPARK_GRAFT_SEM_TRAIN_CAP=2 SPARK_GRAFT_CPUS=10"
)
declare -A CORPUS=(   # label -> injection tool and source (@label: another corpus)
  [null001]="nullify $T/sf0.01"      [null01]="nullify $T/sf0.1"
  [empty]="emptify $T/sf0.01"
  [uni001]="unicodify $T/sf0.01"     [uni01]="unicodify $T/sf0.1"
  [dup]="dupify $T/sf0.01"
  [skew001]="skewify $T/sf0.01"      [skew01]="skewify $T/sf0.1"
  [nullskew]="nullify @skew001"      [dupuni]="dupify @uni001"
  [nsu]="unicodify @nullskew"        [moneydup]="dupify @null001"
)

LABELS=("$@")
[ ${#LABELS[@]} -gt 0 ] || read -ra LABELS <<< "$STANDING"
for l in "${LABELS[@]}"; do
  [ -n "${ROW[$l]-}${CORPUS[$l]-}" ] || { echo "unknown matrix row: $l" >&2; exit 2; }
done

declare -A BUILT=()
corpus() { # label: build /tmp/mxc_<label> (and its source corpus) once per run
  local tool src
  [ -n "${BUILT[$1]-}" ] && return
  read -r tool src <<< "${CORPUS[$1]}"
  if [[ $src == @* ]]; then corpus "${src#@}"; src=/tmp/mxc_${src#@}; fi
  python3 "tools/$tool.py" "$src" "/tmp/mxc_$1" > /dev/null
  BUILT[$1]=1
}

: > $S
echo "gate-commit: $(git rev-parse HEAD) ($(git diff --stat -- src/ | tail -1 | sed 's/^ *//;s/ *$//'))" | tee -a $S
for l in "${LABELS[@]}"; do
  if [ -n "${CORPUS[$l]-}" ]; then
    corpus "$l"
    set -- "/tmp/mxc_$l" SPARK_GRAFT_CPUS=10
  else
    read -ra args <<< "${ROW[$l]}"
    set -- "${args[@]}"
  fi
  sfdir=$1; shift
  out=/tmp/mx_$l
  env "$@" sbt -batch "runMain graft.Verify $sfdir $out" > "/tmp/mx_$l.log" 2>&1
  crashes=$(grep -c 'verify\].*failed' "/tmp/mx_$l.log" || true)
  res=$(python3 tools/check.py "$sfdir" "$out" 2>&1 | tail -1)
  echo "$l: $res (spark-crashes=$crashes)" | tee -a $S
done
echo "MATRIX DONE at $(git rev-parse HEAD)" | tee -a $S
