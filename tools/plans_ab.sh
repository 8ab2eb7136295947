#!/bin/bash
# Before/after plan evidence: the graft.Explain plans of named rows on a
# parent revision and on the working tree, one file per row and side.
#
# Usage: tools/plans_ab.sh PARENT_REV SF_DIR OUT_DIR ROW...
#   PARENT_REV  any git revision (e.g. HEAD, a commit id)
#   SF_DIR      the corpus both sides explain (sf0.01, as in the slice gate)
#   OUT_DIR     where the files go (e.g. plans/<change>); created if missing
#   ROW         a SparkEntry query or a memo-build row of graft.MemoRows
#
# Writes OUT_DIR/<row>_before.txt (parent) and OUT_DIR/<row>_after.txt
# (working tree). `git archive` puts the parent's src/main/scala into
# WORK_DIR/before and the working tree's is copied to WORK_DIR/after;
# both sides then get this tree's Explain.scala and MemoRows.scala, so
# the parent's engine code is explained by today's tool and a memo-build
# row is explained the same way on both sides. Each side is compiled
# with scalac from $SPARK_HOME/jars and runs graft.Explain once for all
# ROWs, with its memo views under WORK_DIR/<side>/tmp. In the files the
# corpus path reads <SF_DIR>, the side's directory <WORK> and the
# application id local-<app>. Exits 1 if a side fails to build or a row has
# no plan. WORK_DIR: $WORK_DIR, default $TMPDIR/plans_ab, emptied first.
# Heap: $SPARK_DRIVER_MEM (default 8g), as in build.sbt.
set -uo pipefail

if [ $# -lt 4 ]; then
  awk 'NR > 1 && !/^#/ { exit } NR > 1 { sub(/^# ?/, ""); print }' "$0" >&2
  exit 2
fi
REPO=$(cd "$(dirname "$0")/.." && pwd)
PARENT=$1
SF=$(cd "$2" && pwd)
mkdir -p "$3" && OUT=$(cd "$3" && pwd)
shift 3
WORK=${WORK_DIR:-${TMPDIR:-/tmp}/plans_ab}
JARS="${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars"
HEAP=${SPARK_DRIVER_MEM:-8g}
TOOL=(src/main/scala/graft/Explain.scala src/main/scala/graft/MemoRows.scala)

rm -rf "$WORK"
mkdir -p "$WORK/before" "$WORK/after/src/main"
git -C "$REPO" archive "$PARENT" src/main/scala | tar -x -C "$WORK/before" || exit 1
cp -r "$REPO/src/main/scala" "$WORK/after/src/main/" || exit 1
for f in "${TOOL[@]}"; do cp "$REPO/$f" "$WORK/before/$f" || exit 1; done

OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done

status=0
for side in before after; do
  d="$WORK/$side"
  echo "[plans] $side: compile"
  mkdir -p "$d/classes" "$d/tmp"
  java -Xss8m -Xmx3g -cp "$JARS/*" scala.tools.nsc.Main -nowarn \
    -d "$d/classes" -classpath "$JARS/*" \
    $(find "$d/src/main/scala" -name '*.scala' | sort) || { echo "[plans] $side build failed"; exit 1; }
  echo "[plans] $side: explain"
  (cd "$d" && java "${OPENS[@]}" "-Xmx$HEAP" "-Djava.io.tmpdir=$d/tmp" \
    "-Dspark.graft.scratch.dir=$d/tmp" -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$d/classes:$JARS/*" graft.Explain "$SF" "$@" > "$d/explain.txt" 2> "$d/explain.err")
  python3 - "$d/explain.txt" "$OUT" "$side" "$SF" "$d" "$@" <<'EOF' || status=1
import re, sys

path, out, side, sf, work, rows = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5], sys.argv[6:]
blocks, name = {}, None
for line in open(path):
    m = re.match(r"^===== (\S+) =====$", line.rstrip("\n"))
    if m:
        name = m.group(1)
        blocks[name] = []
    elif name:
        line = line.replace(sf, "<SF_DIR>").replace(work, "<WORK>")
        blocks[name].append(re.sub(r"local-\d+", "local-<app>", line))
bad = 0
for row in rows:
    text = "".join(blocks.get(row, [])).strip("\n")
    if not text or text.startswith("error:"):
        print(f"[plans] {side}: no plan for {row}: {text[:200]}")
        bad = 1
        continue
    with open(f"{out}/{row}_{side}.txt", "w") as f:
        f.write(text + "\n")
    print(f"[plans] {side}: {out}/{row}_{side}.txt")
sys.exit(bad)
EOF
done
exit $status
