#!/usr/bin/env python3
"""Diff two graft.Explain outputs row by row. Usage:
    python3 tools/explain_diff.py OLD NEW

OLD and NEW are the stdout of
    tools/run_class.sh graft.Explain SF_DIR [query ...]
run on two checkouts. Each row's plan starts at its "===== name ====="
header. Before comparing, every block is normalised so that two runs of
the same plan print the same text:

  * expression ids (`doc_id#123L` -> `doc_id#`);
  * RDD ids (`MapPartitionsRDD[42]` -> `MapPartitionsRDD[]`) and
    exchange plan ids (`[plan_id=11126]` -> `[plan_id=]`);
  * call sites (`localCheckpoint at NearDup.scala:231` ->
    `localCheckpoint at <site>`), which move when code moves;
  * application ids (`local-1760000000000` -> `local-<app>`);
  * DiskMemo / scratch paths (`/tmp/graft_local-<app>_bigramsets_...`
    -> `/tmp/graft_<memo>`), whose suffix carries the app id and tag,
    and the checkout-relative warehouse directory;
  * JVM identities: lambda classes (`Typed$$$Lambda$6334/0x7f0...`),
    object hash codes (`[B@6abcf2de`), streaming run UUIDs and the
    batch timestamp after `stateStoreCkptIds`.

Rows present on one side only are listed. Prints the name of every row
whose normalised plan differs (with --show, a unified diff of it too)
and exits 1 if any row differs or is missing, 0 otherwise.

One difference survives normalisation without any code change: a row
with several DISTINCT aggregates (e.g. llm_bm25) may list its Expand
groups in another order from one JVM run to the next. Diff a second
Explain run of OLD against OLD to see which rows do that.
"""
import difflib
import re
import sys

# Row ids are lower-case; Spark's own "===== Subqueries =====" section
# header inside a plan is not a row.
HEADER = re.compile(r"^===== ([a-z][a-z0-9_]*) =====$")

NORMALISE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\b[\w$]+\.(?:scala|java):\d+"), "<site>"),
    (re.compile(r"local-\d+"), "local-<app>"),
    (re.compile(r"graft_[^\s,\]\)]*"), "graft_<memo>"),
    (re.compile(r"file:\S*/spark-warehouse/"), "file:<warehouse>/"),
    (re.compile(r"Lambda\$\d+/0x[0-9a-f]+"), "Lambda"),
    (re.compile(r"(?<=[\w\]$;])@[0-9a-f]{4,16}\b"), "@<obj>"),
    (re.compile(r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"(stateStoreCkptIds = \w+), \d+"), r"\1, <ms>"),
]


def normalise(line):
    for pattern, repl in NORMALISE:
        line = pattern.sub(repl, line)
    return line.rstrip()


def blocks(path):
    """{row name: normalised plan lines} from one Explain output."""
    out, name = {}, None
    with open(path, encoding="utf-8") as f:
        for raw in f:
            m = HEADER.match(raw.rstrip("\n"))
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None:
                out[name].append(normalise(raw))
    for lines in out.values():
        while lines and not lines[-1]:
            lines.pop()
    return out


def main(argv):
    args = [a for a in argv[1:] if a != "--show"]
    show = "--show" in argv[1:]
    if len(args) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    old, new = blocks(args[0]), blocks(args[1])
    bad = False
    for side, only in (("OLD", old.keys() - new.keys()),
                       ("NEW", new.keys() - old.keys())):
        for name in sorted(only):
            print(f"ONLY IN {side}: {name}")
            bad = True
    common = sorted(old.keys() & new.keys())
    diff = [n for n in common if old[n] != new[n]]
    for name in diff:
        print(f"DIFF: {name}")
        if show:
            sys.stdout.writelines(
                line + "\n" for line in difflib.unified_diff(
                    old[name], new[name], "old", "new", lineterm=""))
    print(f"rows: {len(common) - len(diff)}/{len(old.keys() | new.keys())} "
          "identical")
    return 1 if bad or diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
