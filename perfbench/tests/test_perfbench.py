"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests -v

The pure-Python tests run in well under a second. The JVM tests
(digest invariance, the end-to-end command) build the engine on first
use and take a few minutes; set PERFBENCH_SKIP_JVM=1 to skip them.
"""
import json
import os
import subprocess
import sys
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402
import stats  # noqa: E402

SKIP_JVM = os.environ.get("PERFBENCH_SKIP_JVM") == "1"


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_above(self):
        # 91 distinct samples leave 9 above their p90, 92 leave 10.
        self.assertIsNone(stats.tail_percentile([float(i) for i in range(91)], 90))
        p = stats.tail_percentile([float(i) for i in range(92)], 90)
        self.assertAlmostEqual(p, 81.9)
        self.assertEqual(sum(1 for i in range(92) if i > p), 10)

    def test_rule_follows_sample_count(self):
        for n in (1, 10, 50, 91, 92, 500):
            xs = [float(i) for i in range(n)]
            self.assertEqual(stats.tail_percentile(xs, 90) is not None, n >= 92, n)
        # Ties at the percentile do not count as above it.
        self.assertIsNone(stats.tail_percentile([1.0] * 500, 90))
        self.assertIsNotNone(stats.tail_percentile([1.0] * 500, 90, min_above=0))

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 50), 3.0)
        self.assertAlmostEqual(stats.percentile([0.0, 10.0], 90), 9.0)

    def test_end_to_end_leaves_out_unsupported_p90(self):
        rows = [{"row": "r", "wall_s": 1.0, "action_s": 0.5, "ok": True}] * 20
        result = {"setup_s": 12.0, "peak_rss_mb": 900.0,
                  "passes": [{"index": 0, "wall_s": 20.0, "cpu_s": 40.0, "rows": rows}]}
        m = stats.end_to_end(result, 1 << 20)
        self.assertNotIn("row_p90_s", m)
        self.assertEqual(m["setup_s"]["value"], 12.0)
        self.assertEqual(m["row_p50_s"]["n"], 20)
        self.assertEqual(m["failed_frac"]["value"], 0.0)


class Orders(unittest.TestCase):
    def test_seed_fixes_orders(self):
        rows = [f"r{i}" for i in range(30)]
        self.assertEqual(stats.pass_orders(rows, 3, 4), stats.pass_orders(rows, 3, 4))
        self.assertNotEqual(stats.pass_orders(rows, 3, 1), stats.pass_orders(rows, 4, 1))
        for order in stats.pass_orders(rows, 5, 3):
            self.assertEqual(sorted(order), sorted(rows))


def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def traced_result():
    """A minimal traced-run result with one traced and one plain pass."""
    keys = {k for k, _ in stats.ROW_SUMS.values()} | {
        "wall_s", "plan_s", "action_s", "tables_jobs", "peak_exec_mem_mb", "storage_mem_mb",
        "persisted_rdds"}
    row = {k: 0.1 for k in keys}
    row["wall_s"] = 1.0
    passes = [{"index": i, "traced": i == 1, "wall_s": 2.0 + i, "cpu_s": 4.0,
               "rows": [dict(row, row="memo_x"), dict(row, row="q")],
               "tables_resolve_s": 0.3, "memo_disk_mb": 1.0}
              for i in range(2)]
    return {"setup_s": 1.0, "passes": passes, "peak_rss_mb": 1.0,
            "run_wall_s": 10.0, "timed_s": 5.0, "cores": 4}


class Names(unittest.TestCase):
    def test_metric_and_workload_names(self):
        bench = bench_json()
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in bench[k]]
        names += [w["name"] for w in bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertEqual(stats.bad_names(names + list(stats.ROW_SUMS)), [])
        self.assertEqual(stats.bad_names(["ok.name-1", "bad name", "x/y"]), ["bad name", "x/y"])

    def test_benchmark_metrics_are_the_computed_ones(self):
        bench = bench_json()
        layers = stats.per_layer(traced_result(), corpus_gen_s=2.0)
        self.assertEqual(sorted(layers), sorted(m["name"] for m in bench["per_layer"]))
        for m in bench["per_layer"]:
            self.assertEqual(layers[m["name"]]["unit"], m["unit"], m["name"])
        e2e = stats.end_to_end(dict(traced_result(), passes=[
            dict(p, rows=[dict(r, ok=True) for r in p["rows"]])
            for p in traced_result()["passes"]]), 1 << 20)
        for m in bench["end_to_end"]:
            self.assertEqual(e2e[m["name"]]["unit"], m["unit"], m["name"])

    def test_workloads_and_digests_agree(self):
        spec = run.load_json("workloads.json")
        digests = run.load_json("expected_digests.json")
        for w in bench_json()["workloads"]:
            self.assertIn(w["name"], spec["workloads"])
        for name, w in spec["workloads"].items():
            missing = [r for r in w["rows"] if r not in digests[w["digests"]]]
            self.assertEqual(missing, [], name)


def harness(plan):
    jars = run.spark_jars()
    classes = run.build(jars)
    path = os.path.join(run.BUILD, "tmp", "test-plan.properties")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    run.write_plan(path, plan)
    run.run_java(run.java_cmd(classes, jars, "3g", "graft.perfbench.Harness", path),
                 deadline=time.time() + 600)
    with open(plan["result"]) as f:
        return json.load(f)


@unittest.skipIf(SKIP_JVM, "PERFBENCH_SKIP_JVM=1")
class DigestInvariance(unittest.TestCase):
    def test_digest_ignores_order_and_partitions(self):
        os.makedirs(run.BUILD, exist_ok=True)
        cdir = run.corpus_dir("sf0.1", run.load_json("workloads.json"))
        res = harness({"mode": "digest-check", "cpus": 2, "corpus": cdir,
                       "rows": "agg_pricing_summary,join_multiway,llm_dedup_exact",
                       "result": os.path.join(run.BUILD, "tmp", "test-digest.json")})
        for r in res:
            self.assertEqual(len(set(r["variants"])), 1, r)
            self.assertNotEqual(r["dropped_one"], r["variants"][0], r)


@unittest.skipIf(SKIP_JVM, "PERFBENCH_SKIP_JVM=1")
class Command(unittest.TestCase):
    def bench(self, *extra, workload="smoke", env=None):
        cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
               "--seed", "1", "--seconds", "1", *extra]
        return subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.PIPE, text=True, env=env)

    def test_prints_every_metric_and_passes(self):
        r = self.bench("--trace", "0")
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        lines = r.stdout.strip().splitlines()
        last = json.loads(lines[-1])
        self.assertTrue(last["correct"])
        for m in bench_json()["end_to_end"]:
            self.assertEqual(last["metrics"][m["name"]]["unit"], m["unit"])
        for name in ("setup_s", "pipeline_s", "row_p50_s", "cpu_s", "peak_rss_mb", "failed_frac"):
            self.assertTrue(any(line.startswith(f"{name} = ") and "(n=" in line
                                for line in lines), name)

    def test_traced_write_run(self):
        r = self.bench("--trace", "1", workload="smoke_write")
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        lines = r.stdout.strip().splitlines()
        last = json.loads(lines[-1])
        self.assertTrue(last["correct"])
        metrics = last["metrics"]
        for m in bench_json()["per_layer"]:
            self.assertEqual(metrics[m["name"]]["unit"], m["unit"], m["name"])
        self.assertGreater(metrics["write_s"]["value"], 0)
        self.assertGreaterEqual(metrics["output_files"]["value"], 2)
        self.assertGreater(metrics["output_mb"]["value"], 0)
        for name in ("write_mb_per_s", "out_bytes_per_in_byte"):
            self.assertTrue(any(line.startswith(f"{name} = ") for line in lines), name)
        reconcile = next(x for x in lines if "reconciliation: " in x).split("reconciliation: ")[1]
        with open(reconcile) as f:
            table = f.read().splitlines()
        self.assertEqual(len(table), 1 + 2 * 2)  # header, two rows in each of two traced passes

    def test_digest_mismatch_exits_nonzero(self):
        digests = run.load_json("expected_digests.json")
        spec = run.load_json("workloads.json")["workloads"]["smoke"]
        key = spec["digests"]
        digests[key] = dict(digests[key])
        digests[key][spec["rows"][0]] = "0:0:0"
        path = os.path.join(run.BUILD, "tmp", "tampered-digests.json")
        with open(path, "w") as f:
            json.dump(digests, f)
        r = self.bench("--trace", "0", env=dict(os.environ, PERFBENCH_DIGESTS=path))
        self.assertNotEqual(r.returncode, 0)
        last = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(last["correct"])
        self.assertGreater(last["failed"], 0)


if __name__ == "__main__":
    unittest.main()
