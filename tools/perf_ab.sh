#!/bin/bash
# Parent-vs-change A/B of one perfbench workload, in alternating pairs.
#
# Usage: tools/perf_ab.sh PARENT_REV WORKLOAD PAIRS SEED0 [WORK_DIR]
#   PARENT_REV  any git revision (e.g. HEAD, a commit id)
#   WORKLOAD    a workload of perfbench/workloads.json (e.g. heavy_x10)
#   PAIRS       number of pairs; pair i runs seed SEED0+i on both sides
#   SEED0       first seed; use seeds the change was not sized on
#   WORK_DIR    scratch space, emptied first (default: $TMPDIR/perf_ab)
#
# Steps: `git archive` the parent's src/main/scala, perfbench and
# BENCHMARK.json into WORK_DIR/parent and copy the working tree's into
# WORK_DIR/change (edits made while it runs do not leak in). One
# untimed run per side builds its classes and corpora; the x10 corpus
# is generated once and shared only when MakeBigSf.scala and
# Sessions.scala are the same on both sides, since either can change
# the corpus's file layout. Then PAIRS pairs of untraced
# `perfbench/run.py` runs, the parent first in even pairs and the
# change first in odd ones, each for BENCHMARK.json's run_seconds.
# Prints, per end-to-end metric of BENCHMARK.json: each side's median
# and quartiles, the change/parent ratio of the medians, the pairs the
# change won (ties count for neither side), whether the change's
# median is within the metric's bound, and whether a gain holds: the
# change wins at least 9/10 of the pairs and its median beats the
# parent's by more than the parent's interquartile range. Every run's
# output stays in WORK_DIR/<side>/run-<seed>.out. Exits 1 if a run
# failed or a digest differed. perfbench/ itself is not edited.
set -uo pipefail

if [ $# -lt 4 ]; then
  awk 'NR > 1 && !/^#/ { exit } NR > 1 { sub(/^# ?/, ""); print }' "$0" >&2
  exit 2
fi
REPO=$(cd "$(dirname "$0")/.." && pwd)
PARENT=$1 W=$2 PAIRS=$3 SEED0=$4
WORK=${5:-${TMPDIR:-/tmp}/perf_ab}
FILES=(src/main/scala perfbench BENCHMARK.json)

rm -rf "$WORK"
mkdir -p "$WORK/parent" "$WORK/change"
git -C "$REPO" archive "$PARENT" "${FILES[@]}" | tar -x -C "$WORK/parent" || exit 1
tar -C "$REPO" --exclude=__pycache__ -cf - "${FILES[@]}" | tar -x -C "$WORK/change" || exit 1
SECS=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$WORK/change/BENCHMARK.json") || exit 1

# bench SIDE SEED SECONDS: one untraced run on SIDE; stdout to
# WORK/SIDE/run-SEED.out, stderr to run-SEED.err.
bench() {
  (cd "$WORK/$1" && python3 perfbench/run.py --workload "$W" --seed "$2" \
    --seconds "$3" --trace 0 > "run-$2.out" 2> "run-$2.err")
}

# The priming runs use seed SEED0-1, outside the pairs' seeds.
PRIME=$((SEED0 - 1))
echo "[ab] priming both sides (build, corpora, one untimed run)"
bench parent $PRIME 1 || { tail -5 "$WORK/parent/run-$PRIME.err"; exit 1; }
same=1
for f in src/main/scala/graft/tools/MakeBigSf.scala src/main/scala/graft/util/Sessions.scala; do
  cmp -s "$WORK/parent/$f" "$WORK/change/$f" || same=0
done
if [ $same = 1 ]; then
  echo "[ab] MakeBigSf.scala and Sessions.scala equal: the change side reuses the parent's x10 corpus"
  mkdir -p "$WORK/change/.bench_build/corpus"
  ln -s "$WORK/parent/.bench_build/corpus/x10" "$WORK/change/.bench_build/corpus/x10"
else
  echo "[ab] MakeBigSf.scala or Sessions.scala differ: each side generates its own x10 corpus"
fi
bench change $PRIME 1 || { tail -5 "$WORK/change/run-$PRIME.err"; exit 1; }

for ((i = 0; i < PAIRS; i++)); do
  seed=$((SEED0 + i))
  if ((i % 2 == 0)); then order=(parent change); else order=(change parent); fi
  for side in "${order[@]}"; do
    bench "$side" "$seed" "$SECS" || echo "[ab] $side seed $seed exited non-zero"
  done
  echo "[ab] pair $((i + 1))/$PAIRS (seed $seed) done"
done

python3 - "$WORK" "$W" "$PAIRS" "$SEED0" <<'EOF'
import glob, json, math, os, sys

work, w, pairs, seed0 = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
bench = json.load(open(os.path.join(work, "change", "BENCHMARK.json")))
seeds = [seed0 + i for i in range(pairs)]


def run(side, seed):
    """The run's stdout JSON line (None if it has none) and its cores."""
    d = os.path.join(work, side)
    line = None
    with open(os.path.join(d, f"run-{seed}.out")) as f:
        lines = f.read().strip().splitlines()
    if lines:
        try:
            line = json.loads(lines[-1])
        except ValueError:
            pass
    res = glob.glob(os.path.join(d, ".bench_build", "runs", f"{w}-seed{seed}-trace0-*", "result.json"))
    cores = json.load(open(res[0])).get("cores") if res else None
    return line, cores


def pct(xs, q):
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


runs = {s: [run(s, seed) for seed in seeds] for s in ("parent", "change")}
bad = 0
for side, rs in runs.items():
    ok = sum(1 for line, _ in rs if line and line["correct"])
    bad += len(rs) - ok
    cores = sorted({c for _, c in rs if c is not None})
    print(f"[ab] {side}: {ok}/{len(rs)} runs digest-correct, cores {cores}")
good = [i for i in range(pairs) if all(runs[s][i][0] and runs[s][i][0]["correct"] for s in runs)]
need = math.ceil(0.9 * len(good))
print(f"[ab] {w}: {len(good)} complete pairs, seeds {seeds[0]}-{seeds[-1]}; "
      f"a gain needs >= {need} wins and a median gap > the parent's IQR")
print(f"{'metric':<12} {'parent median [q1, q3]':>28} {'change median [q1, q3]':>28} "
      f"{'ratio':>6} {'wins':>6} {'bound':<12} {'gain':>5}")
with open(os.path.join(work, "pairs.tsv"), "w") as tsv:
    tsv.write("metric\tseed\tparent\tchange\n")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [runs["parent"][i][0]["metrics"][name]["value"] for i in good]
        c = [runs["change"][i][0]["metrics"][name]["value"] for i in good]
        if not good:
            continue
        for i, a, b in zip(good, p, c):
            tsv.write(f"{name}\t{seeds[i]}\t{a}\t{b}\n")
        wins = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
        pm, cm = pct(p, .5), pct(c, .5)
        iqr = pct(p, .75) - pct(p, .25)
        gap = pm - cm if lower else cm - pm
        limit = pm * (1 + m["bound"]) if lower else pm * (1 - m["bound"])
        within = cm <= limit if lower else cm >= limit
        gain = wins >= need and gap > iqr
        fmt = lambda xs: f"{pct(xs, .5):.4g} [{pct(xs, .25):.4g}, {pct(xs, .75):.4g}]"
        print(f"{name:<12} {fmt(p):>28} {fmt(c):>28} {cm / pm if pm else float('nan'):>6.3f} "
              f"{wins:>3}/{len(good):<2} {'within' if within else 'WORSE':>6} {m['bound']:<5} "
              f"{'holds' if gain else 'no':>5}")
print(f"[ab] per-pair values: {os.path.join(work, 'pairs.tsv')}")
sys.exit(1 if bad else 0)
EOF
