#!/usr/bin/env bash
# Round-close protocol check (r14 VERDICT #3: the final snapshot commit
# shipped a src/ change none of the gate artifacts covered — three
# invariant suites would have caught it and were never run on the
# shipping tree). Every final gate artifact (matrix, sbt test, quiet
# bench, PLANS.md) must be produced at the EXACT commit that ends the
# round; any later src/ change reopens the gate.
#
# Usage: tools/close_gate.sh <gate-commit> <matrix-summary>
#   <gate-commit> = the commit the gate artifacts were produced at.
#   <matrix-summary> = the summary tools/matrix.sh wrote
#     (/tmp/matrix_summary.txt). REQUIRED — a default here could
#     silently grep a stale summary.
# Passes iff HEAD's product surface is identical to the gate commit's
# and the working tree carries no further product changes.
set -euo pipefail
cd /root/repo
GATE=${1:?usage: close_gate.sh <gate-commit> <matrix-summary>}

if ! git diff --quiet "$GATE" HEAD -- src/ build.sbt; then
  echo "FAIL: product code changed between gate commit $GATE and HEAD — regate:" >&2
  git diff --stat "$GATE" HEAD -- src/ build.sbt >&2
  exit 1
fi
if ! git diff --quiet -- src/ build.sbt || ! git diff --cached --quiet -- src/ build.sbt; then
  echo "FAIL: uncommitted product changes in the working tree — commit or drop, then regate:" >&2
  git status --short -- src/ build.sbt >&2
  exit 1
fi
# Anti-pattern count ratchet (r16 VERDICT #4): the judge audits every
# .collect()/crossJoin/mapPartitions site as bounded by hand each
# round — pin the counts so a NEW unbounded site can't ride in
# silently. On drift, the round's NOTES file must carry a line
#   ANTIPATTERN <collect>/<crossJoin>/<mapPartitions>: <named new site + bound argument>
# acknowledging the new counts and naming the site. Notes file =
# $3 if given, else the newest NOTES_r*.md.
PIN_COLLECT=20 PIN_CROSSJOIN=29 PIN_MAPPART=20
N_COLLECT=$(grep -rno '\.collect()' src/main/scala | wc -l)
N_CROSSJOIN=$(grep -rno 'crossJoin' src/main/scala | wc -l)
N_MAPPART=$(grep -rno 'mapPartitions' src/main/scala | wc -l)
if [ "$N_COLLECT/$N_CROSSJOIN/$N_MAPPART" != "$PIN_COLLECT/$PIN_CROSSJOIN/$PIN_MAPPART" ]; then
  NOTES=${3:-$(ls -1 NOTES_r*.md 2>/dev/null | sort -V | tail -1)}
  MARK="ANTIPATTERN $N_COLLECT/$N_CROSSJOIN/$N_MAPPART:"
  if [ -z "$NOTES" ] || ! grep -qF "$MARK" "$NOTES"; then
    echo "FAIL: anti-pattern counts drifted from pinned" \
      "$PIN_COLLECT/$PIN_CROSSJOIN/$PIN_MAPPART to" \
      "$N_COLLECT/$N_CROSSJOIN/$N_MAPPART (collect/crossJoin/mapPartitions)" >&2
    echo "  add '$MARK <named site + bound argument>' to ${NOTES:-the round NOTES}" \
      "after auditing the new site, and update the pins here" >&2
    exit 1
  fi
  echo "NOTE: anti-pattern counts $N_COLLECT/$N_CROSSJOIN/$N_MAPPART justified in $NOTES"
fi
S=${2:?usage: close_gate.sh <gate-commit> <matrix-summary>}
if [ -f "$S" ]; then
  if ! grep -q "MATRIX DONE at $(git rev-parse "$GATE")" "$S"; then
    echo "FAIL: matrix summary $S was not produced at gate commit $GATE" >&2
    tail -1 "$S" >&2
    exit 1
  fi
else
  echo "WARN: no matrix summary at $S — run the round's matrix script before closing" >&2
  exit 1
fi
echo "GATE OK: HEAD product surface matches gate commit $GATE and the matrix ran there"
