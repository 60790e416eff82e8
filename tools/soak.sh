#!/usr/bin/env bash
# One weak-scaling soak run (graft.Soak) under the given environment.
#
# Usage: tools/soak.sh <label> [ENV=VAL…]
#   e.g. tools/soak.sh fixed_a SPARK_GRAFT_SOAK_FACTORS=32,64 \
#          SPARK_GRAFT_ONLY=q_part_cooccur SPARK_GRAFT_CPUS=32
# The full log goes to /tmp/soak_<label>.log; the per-factor JSON lines
# are echoed. For an A/B, alternate the arms' runs (A B A B) so ambient
# drift hits both equally. Soaks outlive a 10-minute shell timeout: run
# under nohup, one at a time (sbt holds a project lock).
set -uo pipefail
cd "$(dirname "$0")/.."
label=${1:?usage: tools/soak.sh <label> [ENV=VAL…]}
shift
log=/tmp/soak_$label.log
echo "=== $label start $(date +%T) ==="
env "$@" sbt -batch "runMain graft.Soak" > "$log" 2>&1
grep -a '"factor"' "$log"
echo "=== $label done $(date +%T) ==="
