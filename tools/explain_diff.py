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
    batch timestamp after `stateStoreCkptIds`;
  * lambda variables of higher-order functions (`lambda x_4#`) and
    common subexpressions (`_common_expr_524#`), whose numbers come
    from JVM-wide counters (an earlier row shifts them): renumbered
    from 1 within each row, in order of first appearance.

A row with several DISTINCT aggregates plans an Expand whose distinct
groups come out in a different order from one JVM run to the next
(llm_bm25, llm_dataset_card). Each such Expand (one with a `gid#`
output) is put in a canonical order: its distinct groups (gid != 0) are
sorted by their projected expressions, the columns each group owns move
with it, gid values are renumbered in that order, every attribute list
of the block holding all those columns is reordered to match, and
`gid# = N` tests below the Expand use the new numbers.

Rows present on one side only are listed. Prints the name of every row
whose normalised plan differs (with --show, a unified diff of it too)
and exits 1 if any row differs or is missing, 0 otherwise.
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


COUNTED = [re.compile(r"(lambda x_)(\d+)"), re.compile(r"(_common_expr_)(\d+)")]


def canonical_counters(lines):
    """Lines of one block with each counter-numbered name numbered
    1, 2, … in order of first appearance."""
    for pattern in COUNTED:
        seen = {}
        def renumber(m):
            return f"{m.group(1)}{seen.setdefault(m.group(2), len(seen) + 1)}"
        lines = [pattern.sub(renumber, line) for line in lines]
    return lines


def normalise(line):
    for pattern, repl in NORMALISE:
        line = pattern.sub(repl, line)
    return line.rstrip()


OPEN, CLOSE = "([", ")]"


def split_items(text):
    """Top-level ", "-separated items of `text` (brackets and quotes
    nest)."""
    items, depth, quote, start = [], 0, False, 0
    for i, ch in enumerate(text):
        if ch == "'":
            quote = not quote
        elif quote:
            continue
        elif ch in OPEN:
            depth += 1
        elif ch in CLOSE:
            depth -= 1
        elif depth == 0 and text.startswith(", ", i):
            items.append(text[start:i])
            start = i + 2
    items.append(text[start:])
    return items


def reorder_lists(line, rank):
    """Reorder, inside every bracketed list of `line` whose items include
    all of `rank`'s keys, those items into `rank` order in place."""
    out, stack, quote = [], [], False
    for ch in line:
        if ch == "'":
            quote = not quote
        if not quote and ch in OPEN:
            stack.append(len(out))
        if not quote and ch in CLOSE and stack:
            start = stack.pop() + 1
            items = split_items("".join(out[start:]))
            if set(rank) <= set(items):
                slots = [i for i, it in enumerate(items) if it in rank]
                moved = sorted((items[i] for i in slots), key=rank.get)
                for i, it in zip(slots, moved):
                    items[i] = it
                out[start:] = list(", ".join(items))
        out.append(ch)
    return "".join(out)


EXPAND_ARGS = re.compile(r"^Arguments: \[(.*)\], \[(.*)\]$")


def canonical_expand(line):
    """(line, rank, gid map) for an Expand `Arguments:` line of distinct
    groups, or None when `line` is not one."""
    m = EXPAND_ARGS.match(line)
    if not m:
        return None
    rows = [split_items(r[1:-1]) for r in split_items(m.group(1))]
    outs = split_items(m.group(2))
    if "gid#" not in outs or any(len(r) != len(outs) for r in rows):
        return None
    g = outs.index("gid#")
    distinct = [i for i, r in enumerate(rows) if r[g] != "0"]
    # a column belongs to the one distinct row that projects it
    owner = {}
    for c in range(len(outs)):
        live = [i for i, r in enumerate(rows) if r[c] != "null"]
        if c != g and len(live) == 1 and live[0] in distinct:
            owner[c] = live[0]
    order = sorted(distinct, key=lambda i: sorted(
        rows[i][c] for c in owner if owner[c] == i))
    pos = {i: n for n, i in enumerate(order)}
    cols = sorted(owner, key=lambda c: (pos[owner[c]], c))
    perm = list(range(len(outs)))
    for slot, c in zip(sorted(owner), cols):
        perm[slot] = c
    gids = sorted(int(rows[i][g]) for i in distinct)
    gid_map = {int(rows[i][g]): gids[pos[i]] for i in distinct}
    new_rows = list(rows)
    for slot, i in zip(distinct, order):
        new_rows[slot] = list(rows[i])
        new_rows[slot][g] = str(gid_map[int(rows[i][g])])
    rendered = ", ".join(
        "[" + ", ".join(r[c] for c in perm) + "]" for r in new_rows)
    new_line = (f"Arguments: [{rendered}], "
                f"[{', '.join(outs[c] for c in perm)}]")
    rank = {outs[c]: n for n, c in enumerate(cols)}
    return new_line, rank, gid_map


GID_TEST = re.compile(r"gid# = (\d+)")


def canonical_expands(lines):
    """Lines of one block with every distinct-group Expand canonical."""
    found = [(n, canonical_expand(line)) for n, line in enumerate(lines)]
    found = [(n, c) for n, c in found if c]
    if not found:
        return lines
    lines = list(lines)
    for k, (n, (new_line, rank, gid_map)) in enumerate(found):
        lines[n] = new_line
        end = found[k + 1][0] if k + 1 < len(found) else len(lines)
        for j in range(len(lines)):
            if j == n:
                continue
            if len(rank) > 1:
                lines[j] = reorder_lists(lines[j], rank)
            if n < j < end:
                lines[j] = GID_TEST.sub(
                    lambda m: f"gid# = {gid_map.get(int(m.group(1)), m.group(1))}",
                    lines[j])
    return lines


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
    for name, lines in out.items():
        while lines and not lines[-1]:
            lines.pop()
        out[name] = canonical_expands(canonical_counters(lines))
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
