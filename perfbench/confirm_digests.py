#!/usr/bin/env python3
"""Derive and confirm the expected per-row digests.

    python3 perfbench/confirm_digests.py [--write]

For every corpus the workloads use, each row runs at local[1] and at
local[cores], in the row orders of two workload seeds, and its digest
(in memory and after a parquet round trip) must be the same every time.
On the sf0.1 corpus, every row with oracle SQL (SparkEntry.oracleSql)
is also compared cell-exact with DuckDB on the same parquet files. With
--write, the digests go to expected_digests.json and the evidence to
digest_confirmation.json; without it, the script only checks the
stored digests against what it derived.
"""
import argparse
import datetime
import decimal
import json
import math
import os
import sys
import time

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import stats  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def dump(classes, jars, cdir, rows, cpus, tag, heap):
    out = os.path.join(run.BUILD, "tmp", f"dump-{tag}")
    plan = {"mode": "dump", "cpus": cpus, "corpus": cdir, "out": out,
            "rows": ",".join(rows), "result": out + ".json"}
    path = out + ".properties"
    run.write_plan(path, plan)
    run.run_java(run.java_cmd(classes, jars, heap, "graft.perfbench.Harness", path),
                 deadline=time.time() + 3600)
    with open(plan["result"]) as f:
        return out, {r["row"]: r for r in json.load(f)}


def cell(v):
    """Canonical cell for the exact compare: datetime-likes as ISO text,
    NaN as a token; everything else compares by value and type."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, list):
        return tuple(cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, cell(x)) for k, x in v.items()))
    return v


def kind(v):
    if isinstance(v, (datetime.datetime, datetime.date)):
        return "datetime"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    return type(v).__name__


def compare(spark_table, oracle_table):
    """None when equal; else the first difference. Columns are matched
    by name, rows compared in order (oracle SQL orders by a unique key)."""
    scols, ocols = sorted(spark_table.column_names), sorted(oracle_table.column_names)
    if scols != ocols:
        return f"columns: spark={scols} oracle={ocols}"
    s = spark_table.select(scols).to_pylist()
    o = oracle_table.select(scols).to_pylist()
    if len(s) != len(o):
        return f"rows: spark={len(s)} oracle={len(o)}"
    for i, (a, b) in enumerate(zip(s, o)):
        for c in scols:
            if a[c] is not None and b[c] is not None and kind(a[c]) != kind(b[c]):
                return f"row {i} column {c}: type {kind(a[c])} vs {kind(b[c])}"
            if cell(a[c]) != cell(b[c]):
                return f"row {i} column {c}: spark={a[c]!r} oracle={b[c]!r}"
    return None


def oracle_check(cdir, out, dumped):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{cdir}/{t}.parquet'")
    verdicts = {}
    for row, r in sorted(dumped.items()):
        if not r.get("oracle"):
            continue
        try:
            spark_table = pq.read_table(os.path.join(out, row))
            oracle_table = con.execute(r["oracle"]).arrow()
            diff = compare(spark_table, oracle_table)
        except Exception as e:  # noqa: BLE001 - any failure is a verdict
            diff = f"error: {e}"
        verdicts[row] = "exact" if diff is None else diff
    return verdicts


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--write", action="store_true")
    ap.add_argument("--seeds", default="1,2")
    a = ap.parse_args()
    spec = run.load_json("workloads.json")
    jars = run.spark_jars()
    os.makedirs(run.BUILD, exist_ok=True)
    classes = run.build(jars)
    n = run.cores()
    seeds = [int(s) for s in a.seeds.split(",")]
    digests, evidence, problems = {}, {}, []
    for key in sorted({w["digests"] for w in spec["workloads"].values()}):
        ws = [w for w in spec["workloads"].values() if w["digests"] == key]
        cname = ws[0]["corpus"]
        run.prepare_corpora(spec, classes, jars, n, time.time() + 3600)
        cdir = run.corpus_dir(cname, spec)
        rows = sorted({r for w in ws for r in w["rows"]})
        parquet = any(w.get("write") for w in ws)
        heap = max((w["heap"] for w in ws), key=lambda h: int(h.rstrip("g")))
        runs = {}
        for seed in seeds:
            order = stats.pass_orders(rows, seed, 1)[0]
            runs[f"local[{n}] seed {seed}"] = dump(classes, jars, cdir, order, n,
                                                   f"{key}-{n}-{seed}", heap)
        runs[f"local[1] seed {seeds[0]}"] = dump(
            classes, jars, cdir, stats.pass_orders(rows, seeds[0], 1)[0], 1, f"{key}-1", heap)
        field = "parquet_digest" if parquet else "digest"
        first_out, first = next(iter(runs.values()))
        digests[key] = {}
        for row in rows:
            seen = {label: d[row].get(field, "error: " + str(d[row].get("error")))
                    for label, (_, d) in runs.items()}
            values = set(seen.values())
            if len(values) != 1 or any(v.startswith("error") for v in values):
                problems.append(f"{key} {row}: {seen}")
                continue
            digests[key][row] = values.pop()
        verdicts = oracle_check(cdir, first_out, first) if cname == "sf0.1" else {}
        for row, v in verdicts.items():
            if v != "exact":
                problems.append(f"{key} {row}: DuckDB {duckdb.__version__}: {v}")
        evidence[key] = {
            "corpus": cname, "runs": sorted(runs), "duckdb": duckdb.__version__,
            "rows": {row: {"digest": digests[key].get(row),
                           "oracle": verdicts.get(row, "no oracle SQL" if cname == "sf0.1"
                                                  else "MakeBigSf data: repeat check only")}
                     for row in rows}}
    for p in problems:
        print("PROBLEM", p)
    stored = run.load_json("expected_digests.json") if os.path.exists(
        os.path.join(HERE, "expected_digests.json")) else {}
    if a.write:
        with open(os.path.join(HERE, "expected_digests.json"), "w") as f:
            json.dump(digests, f, indent=1, sort_keys=True)
            f.write("\n")
        with open(os.path.join(HERE, "digest_confirmation.json"), "w") as f:
            json.dump(evidence, f, indent=1, sort_keys=True)
            f.write("\n")
    else:
        for key, ds in digests.items():
            for row, d in ds.items():
                if stored.get(key, {}).get(row) != d:
                    problems.append(f"{key} {row}: stored {stored.get(key, {}).get(row)} derived {d}")
                    print("PROBLEM", problems[-1])
    print(f"{sum(len(d) for d in digests.values())} digests, {len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
