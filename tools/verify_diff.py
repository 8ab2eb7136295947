#!/usr/bin/env python3
"""Diff two graft.Verify dumps. Usage:
    python3 tools/verify_diff.py OLD_OUT NEW_OUT

Each dump is the directory graft.Verify writes: one parquet directory
per query plus oracle_sql.json. A refactor that should not change any
output is checked here before compare.py runs the oracle:

  * every table present on both sides is compared with pyarrow
    Table.equals (schema, row order and every cell);
  * tables present on only one side are listed — a query that failed
    in one run leaves no table, and Verify only reports the failure
    as "[verify] <name> failed" on stderr;
  * oracle_sql.json is compared as a parsed map (key order and JSON
    escaping do not matter; a changed SQL string does);
  * each side's verify_failures.txt (one `name<TAB>message` line per
    row that failed) is printed when it is non-empty.

Exit 1 on any difference, 0 when both dumps are identical.
"""
import json
import os
import sys

import pyarrow.parquet as pq


def tables(out):
    return {d for d in os.listdir(out)
            if os.path.isdir(os.path.join(out, d))}


def read(out, name):
    return pq.read_table(os.path.join(out, name))


def print_failures(side, out):
    path = os.path.join(out, "verify_failures.txt")
    if os.path.isfile(path):
        with open(path) as f:
            for line in f.read().splitlines():
                print(f"FAILED IN {side}: {line}")


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    old_out, new_out = argv[1], argv[2]
    old_t, new_t = tables(old_out), tables(new_out)
    bad = False
    print_failures("OLD", old_out)
    print_failures("NEW", new_out)

    for side, only in (("OLD", old_t - new_t), ("NEW", new_t - old_t)):
        for name in sorted(only):
            print(f"ONLY IN {side}: {name}")
            bad = True

    common = sorted(old_t & new_t)
    diff = [n for n in common
            if not read(old_out, n).equals(read(new_out, n))]
    for name in diff:
        print(f"DIFF: {name}")
    bad = bad or bool(diff)
    print(f"tables: {len(common) - len(diff)}/{len(old_t | new_t)} equal")

    with open(os.path.join(old_out, "oracle_sql.json")) as f:
        old_o = json.load(f)
    with open(os.path.join(new_out, "oracle_sql.json")) as f:
        new_o = json.load(f)
    for side, only in (("OLD", old_o.keys() - new_o.keys()),
                       ("NEW", new_o.keys() - old_o.keys())):
        for name in sorted(only):
            print(f"ORACLE ONLY IN {side}: {name}")
            bad = True
    changed = sorted(k for k in old_o.keys() & new_o.keys()
                     if old_o[k] != new_o[k])
    for name in changed:
        print(f"ORACLE DIFF: {name}")
    bad = bad or bool(changed)
    print(f"oracle: {len(old_o)} vs {len(new_o)} entries, "
          f"{len(changed)} changed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
