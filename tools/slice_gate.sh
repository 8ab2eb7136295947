#!/bin/bash
# Same-outputs gate for a refactor: the working tree must produce the
# same Verify tables, the same oracle map and the same plans as a parent
# revision, and both sides must pass the DuckDB compare.
#
# Usage: tools/slice_gate.sh PARENT_REV SF_DIR [WORK_DIR]
#   PARENT_REV  any git revision (e.g. HEAD, a commit id)
#   SF_DIR      the corpus both sides run on (sf0.01 for the gate)
#   WORK_DIR    scratch space, emptied first (default: $TMPDIR/slice_gate)
#
# Steps: `git archive` the parent's src/main/scala into WORK_DIR/parent
# and copy the working tree's into WORK_DIR/change (so edits made while
# the gate runs do not leak in); compile each side with scalac from
# $SPARK_HOME/jars; run graft.Verify and graft.Explain on each side,
# sequentially, from the side's own directory; then run
# verify_diff.py, compare.py on both dumps and explain_diff.py, and
# require an empty verify_failures.txt on the change side. Prints each
# step's verdict and exits 1 if any step fails or differs. Also prints
# the net change in src/main/scala lines, both all lines and code lines
# only (non-blank, outside // and /* */ comments).
# Heap: $SPARK_DRIVER_MEM (default 8g), as in build.sbt.
set -uo pipefail

if [ $# -lt 2 ]; then
  awk 'NR > 1 && !/^#/ { exit } NR > 1 { sub(/^# ?/, ""); print }' "$0" >&2
  exit 2
fi
REPO=$(cd "$(dirname "$0")/.." && pwd)
PARENT=$1
SF=$(cd "$2" && pwd)
WORK=${3:-${TMPDIR:-/tmp}/slice_gate}
JARS="${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars"
HEAP=${SPARK_DRIVER_MEM:-8g}

rm -rf "$WORK"
mkdir -p "$WORK/parent" "$WORK/change/src/main"
git -C "$REPO" archive "$PARENT" src/main/scala | tar -x -C "$WORK/parent" || exit 1
cp -r "$REPO/src/main/scala" "$WORK/change/src/main/" || exit 1

# lines DIR [code]: line count of the .scala files under DIR; with
# `code`, only non-blank lines outside // line and /* */ block comments.
lines() {
  find "$1" -name '*.scala' -print0 | sort -z | xargs -0 cat | if [ "${2:-}" = code ]; then
    awk '{ l = $0; sub(/^[ \t]+/, "", l) }
      blk { if (l ~ /\*\//) blk = 0; next }
      l == "" || l ~ /^\/\// { next }
      l ~ /^\/\*/ { if (l !~ /\*\//) blk = 1; next }
      { n++ } END { print n + 0 }'
  else wc -l; fi
}
net() {
  local p c
  p=$(lines "$WORK/parent/src/main/scala" "${1:-}")
  c=$(lines "$WORK/change/src/main/scala" "${1:-}")
  printf '%s -> %s (%+d)' "$p" "$c" $((c - p))
}
LINES="[gate] src/main/scala lines: all $(net), code $(net code)"
echo "$LINES"

OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done

# side NAME: compile WORK/NAME, then dump Verify and Explain there.
side() {
  local d="$WORK/$1"
  echo "[gate] $1: compile"
  mkdir -p "$d/classes" "$d/tmp"
  java -Xss8m -Xmx3g -cp "$JARS/*" scala.tools.nsc.Main -nowarn \
    -d "$d/classes" -classpath "$JARS/*" \
    $(find "$d/src/main/scala" -name '*.scala' | sort) || return 1
  local run=(java "${OPENS[@]}" "-Xmx$HEAP" "-Djava.io.tmpdir=$d/tmp"
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC
    -cp "$d/classes:$JARS/*")
  echo "[gate] $1: verify"
  (cd "$d" && "${run[@]}" graft.Verify "$SF" "$d/verify" 2> "$d/verify.err")
  grep '^\[verify\]' "$d/verify.err"
  echo "[gate] $1: explain"
  (cd "$d" && "${run[@]}" graft.Explain "$SF" > "$d/explain.txt" 2> "$d/explain.err")
}

side parent || { echo "[gate] parent build failed"; exit 1; }
side change || { echo "[gate] change build failed"; exit 1; }

status=0
# step NAME CMD…: run CMD into WORK/NAME.log, echo it without the
# per-row PASS lines, and record a failure.
step() {
  local log="$WORK/${1// /_}.log"
  echo "[gate] $1"
  shift
  "$@" > "$log" 2>&1
  local rc=$?
  grep -v '^PASS ' "$log"
  [ $rc = 0 ] || { echo "[gate] FAILED: $*"; status=1; }
}
step "no failed rows on the change side" test ! -s "$WORK/change/verify/verify_failures.txt"
step "verify_diff" python3 "$REPO/tools/verify_diff.py" "$WORK/parent/verify" "$WORK/change/verify"
step "compare parent" python3 "$REPO/tools/compare.py" "$SF" "$WORK/parent/verify"
step "compare change" python3 "$REPO/tools/compare.py" "$SF" "$WORK/change/verify"
step "explain_diff" python3 "$REPO/tools/explain_diff.py" "$WORK/parent/explain.txt" "$WORK/change/explain.txt"
echo "$LINES"
echo "[gate] $([ $status = 0 ] && echo PASS || echo FAIL)"
exit $status
