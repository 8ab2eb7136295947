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
# parent's by more than the parent's interquartile range. Then one
# traced run (`--trace 1`) per side on seed SEED0+PAIRS, printed side
# by side: the per-layer medians over its traced passes (jobs, stages,
# tasks, executor_cpu_s, jvm_gc_s, shuffle_write_mb, build_s) and, per
# row, each stage's median wall and task count by its position in the
# row. Every run's output stays in WORK_DIR/<side>/run-<seed>.out.
# Exits 1 if a run failed or a digest differed. perfbench/ itself is
# not edited.
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

# bench SIDE SEED SECONDS [TRACE]: one run on SIDE, untraced unless
# TRACE is 1; stdout to WORK/SIDE/run-SEED.out, stderr to run-SEED.err.
bench() {
  (cd "$WORK/$1" && python3 perfbench/run.py --workload "$W" --seed "$2" \
    --seconds "$3" --trace "${4:-0}" > "run-$2.out" 2> "run-$2.err")
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
TSEED=$((SEED0 + PAIRS))
for side in parent change; do
  bench "$side" "$TSEED" "$SECS" 1 || echo "[ab] $side traced seed $TSEED exited non-zero"
done
echo "[ab] traced runs (seed $TSEED) done"

python3 - "$WORK" "$W" "$PAIRS" "$SEED0" <<'EOF'
import glob, json, math, os, sys

work, w, pairs, seed0 = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
bench = json.load(open(os.path.join(work, "change", "BENCHMARK.json")))
seeds = [seed0 + i for i in range(pairs)]


def run(side, seed, trace=0):
    """The run's stdout JSON line (None if it has none), its cores and
    its run directory."""
    d = os.path.join(work, side)
    line = None
    with open(os.path.join(d, f"run-{seed}.out")) as f:
        lines = f.read().strip().splitlines()
    if lines:
        try:
            line = json.loads(lines[-1])
        except ValueError:
            pass
    rdir = glob.glob(os.path.join(d, ".bench_build", "runs", f"{w}-seed{seed}-trace{trace}-*"))
    res = os.path.join(rdir[0], "result.json") if rdir else None
    cores = json.load(open(res)).get("cores") if res and os.path.exists(res) else None
    return line, cores, rdir[0] if rdir else None


def pct(xs, q):
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


runs = {s: [run(s, seed) for seed in seeds] for s in ("parent", "change")}
bad = 0
for side, rs in runs.items():
    ok = sum(1 for line, _, _ in rs if line and line["correct"])
    bad += len(rs) - ok
    cores = sorted({c for _, c, _ in rs if c is not None})
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

# The traced side-by-side: one --trace 1 run per side on seed
# seed0+pairs.
tseed = seed0 + pairs
traced = {}
for side in ("parent", "change"):
    line, _, rdir = run(side, tseed, trace=1)
    spans = os.path.join(rdir, "spans.jsonl") if rdir else ""
    stages = {}  # (row, position in the row) -> [(wall ms, tasks)] over traced passes
    if os.path.exists(spans):
        by_row = {}
        for s in map(json.loads, open(spans)):
            if s["name"].startswith("stage"):
                by_row.setdefault(s["parent"], []).append(s)
        for parent_span, ss in by_row.items():
            for i, s in enumerate(sorted(ss, key=lambda s: (s["start_ms"], s["name"]))):
                stages.setdefault((s["row"], i), []).append((s["end_ms"] - s["start_ms"], s["tasks"]))
    traced[side] = (line, stages)
    if not (line and line["correct"]):
        bad += 1
        print(f"[ab] {side}: traced run seed {tseed} failed or was digest-wrong")
if all(traced[s][0] for s in traced):
    print(f"[ab] traced seed {tseed}: per-layer medians over the traced passes")
    print(f"{'metric':<18} {'parent':>10} {'change':>10} {'ratio':>6}")
    for name in ("jobs", "stages", "tasks", "executor_cpu_s", "jvm_gc_s", "shuffle_write_mb", "build_s"):
        p, c = (traced[s][0]["metrics"][name]["value"] for s in ("parent", "change"))
        print(f"{name:<18} {p:>10.4g} {c:>10.4g} {c / p if p else float('nan'):>6.3f}")
    print(f"[ab] traced seed {tseed}: stage wall ms and tasks (medians) by position in the row")
    print(f"{'row':<28} {'stage':>5} {'parent ms (tasks)':>18} {'change ms (tasks)':>18}")
    keys = sorted(set(traced["parent"][1]) | set(traced["change"][1]))
    for row, i in keys:
        cell = lambda xs: f"{pct([x[0] for x in xs], .5):.0f} ({pct([x[1] for x in xs], .5):.0f})" if xs else "-"
        print(f"{row:<28} {i:>5} {cell(traced['parent'][1].get((row, i))):>18} "
              f"{cell(traced['change'][1].get((row, i))):>18}")
sys.exit(1 if bad else 0)
EOF
