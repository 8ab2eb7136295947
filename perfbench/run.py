#!/usr/bin/env python3
"""ETL batch benchmark for the graft Spark engine.

    python3 perfbench/run.py --workload short_sf01 --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The first run compiles the
engine (src/main/scala) together with the harness (perfbench/scala)
and generates the 10x corpus, both under .bench_build/; later runs
reuse them. The sf0.1 corpus is stored with the benchmark
(perfbench/data/sf0.1); the 10x corpus is generated from it. One JVM
then sets up (timed from its spawn) and runs the workload's rows in
passes at local[cores]; every row is timed as its builder call plus
one digest action (or a parquet write), and every digest is checked
against perfbench/expected_digests.json.

With --trace 0 the last stdout line is a JSON object with the
end-to-end metrics of BENCHMARK.json; with --trace 1 the run is traced
(SparkListener + QueryExecutionListener) and the line carries the
per-layer metrics. Lines before it print every metric the run
supports, with unit and sample count. The exit code is non-zero when a
row fails or a digest differs.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170  # a run (after the one-time build) must end within this
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def load_json(name):
    """A JSON file, by path relative to this directory."""
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the one pyspark
    ships. It must hold the Scala compiler the build uses."""
    dirs = [os.path.join(os.environ["SPARK_HOME"], "jars")] if "SPARK_HOME" in os.environ else []
    try:
        import pyspark
        dirs.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for jars in dirs:
        if os.path.isdir(jars) and any(j.startswith("scala-compiler") for j in os.listdir(jars)):
            return jars
    raise BenchError(f"no Spark jars with a Scala compiler in {dirs}; set SPARK_HOME")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BenchError(f"engine sources not found at {main}")
    files = []
    for d in (main, os.path.join(HERE, "scala")):
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compile engine + harness once per source state; return the class dir."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def java_cmd(classes, jars, heap, main, *args):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{heap}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(tmp, 'spark-local')}",
            f"-Dspark.graft.scratch.dir={os.path.join(tmp, 'scratch')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", main, *args]


def run_java(cmd, deadline, env=None):
    """Run a JVM to completion or kill it at the deadline."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, env=env, cwd=BUILD)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        raise BenchError(f"JVM exceeded its time limit: {' '.join(cmd[-3:])}")
    if p.returncode != 0:
        raise BenchError(f"JVM exited {p.returncode}:\n" + out[-4000:])
    return out


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(d) for f in fs)


def corpus_dir(name, spec):
    """Directory of corpus `name`: stored with the benchmark, or
    generated under .bench_build/corpus."""
    c = spec["corpora"][name]
    return os.path.join(HERE, c["dir"]) if "dir" in c else os.path.join(BUILD, "corpus", name)


def generate(name, spec, path, classes, jars, cores, deadline):
    """Write the replicated corpus `name` to `path` with MakeBigSf;
    return the seconds it took."""
    c = spec["corpora"][name]
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.perf_counter()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    run_java(java_cmd(classes, jars, c["heap"], "graft.tools.MakeBigSf",
                      corpus_dir(c["base"], spec), path, str(c["replicas"])), deadline, env)
    return time.perf_counter() - t0


def prepare_corpora(spec, classes, jars, cores, deadline):
    """Generate every replicated corpus once per checkout."""
    for name, c in spec["corpora"].items():
        path = corpus_dir(name, spec)
        if "replicas" in c and not os.path.exists(os.path.join(path, ".ok")):
            generate(name, spec, path, classes, jars, cores, deadline)
            open(os.path.join(path, ".ok"), "w").close()


def cores():
    n = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return max(1, min(n or 1, 8))


def write_plan(path, plan):
    with open(path, "w") as f:
        for k, v in plan.items():
            f.write(f"{k}={v}\n")


def run(args):
    t_start = time.time()
    spec = load_json("workloads.json")
    if args.workload not in spec["workloads"]:
        raise BenchError(f"unknown workload {args.workload}; "
                         f"choose from {', '.join(spec['workloads'])}")
    w = spec["workloads"][args.workload]
    # PERFBENCH_DIGESTS points at another digest file (the tests use it
    # to check that a mismatch fails the run).
    expected = load_json(os.environ.get("PERFBENCH_DIGESTS", "expected_digests.json"))[w["digests"]]
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    n = cores()
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        classes = build(jars)
        # The one-time build and every corpus are prepared by the first
        # run in a checkout, whatever its workload.
        prepare_corpora(spec, classes, jars, n, time.time() + 900)
    cdir = corpus_dir(w["corpus"], spec)
    deadline = time.time() + RUN_LIMIT_S
    gen_s = None
    if args.trace:
        # corpus_gen_s: every traced run generates the 10x corpus afresh,
        # into a throwaway directory.
        fresh = os.path.join(BUILD, "tmp", "corpus-regen")
        gen_s = generate("x10", spec, fresh, classes, jars, n, deadline)
        shutil.rmtree(fresh, ignore_errors=True)

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    rdir = os.path.join(BUILD, "runs", run_id)
    os.makedirs(rdir, exist_ok=True)
    rows = w["rows"]
    plan = {
        "mode": "run", "corpus": cdir, "cpus": n, "trace": int(args.trace),
        "write": int(w.get("write", False)), "out": os.path.join(BUILD, "tmp", "out"),
        "scratch": os.path.join(BUILD, "tmp", "scratch"),
        # The warm-up is one untimed pass over the rows: JIT and first-use
        # costs land in setup_s instead of skewing the first timed pass.
        "seconds": args.seconds, "warmup": ",".join(rows),
        "run_id": run_id, "result": os.path.join(rdir, "result.json"),
        "spans": os.path.join(rdir, "spans.jsonl"), "passes": spec["max_passes"],
        "min_passes": spec["min_passes"],
    }
    for i, order in enumerate(stats.pass_orders(rows, args.seed, spec["max_passes"])):
        plan[f"order.{i}"] = ",".join(order)
    plan["spawn_ms"] = int(time.time() * 1000)
    write_plan(os.path.join(rdir, "plan.properties"), plan)
    run_java(java_cmd(classes, jars, w["heap"], "graft.perfbench.Harness",
                      os.path.join(rdir, "plan.properties")), deadline)
    with open(plan["result"]) as f:
        result = json.load(f)
    result["run_wall_s"] = time.time() - plan["spawn_ms"] / 1000
    attempted, failed, mismatches = stats.check_rows(result, expected)
    for m in mismatches:
        print(f"[perfbench] pass {m[0]} row {m[1]}: digest {m[2]} expected {m[3]}"
              + (f" error {m[4]}" if m[4] else ""), file=sys.stderr)
    # End-to-end figures come from untraced passes only.
    plain = dict(result, passes=[p for p in result["passes"] if not p["traced"]])
    e2e = stats.end_to_end(plain, dir_bytes(cdir))
    bench = load_json(os.path.join(os.pardir, "BENCHMARK.json"))
    if args.trace:
        layers = stats.per_layer(result, gen_s)
        with open(os.path.join(rdir, "reconcile.txt"), "w") as f:
            f.write("\n".join(stats.reconcile(result)) + "\n")
        report, wanted = {**e2e, **layers}, [m["name"] for m in bench["per_layer"]]
        print(f"[perfbench] spans: {plan['spans']}  reconciliation: "
              f"{os.path.join(rdir, 'reconcile.txt')}")
    else:
        report, wanted = e2e, [m["name"] for m in bench["end_to_end"]]
    for name, m in report.items():
        print(f"{name} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    missing = [k for k in wanted if k not in report]
    if missing:
        raise BenchError(f"run produced no value for {', '.join(missing)}")
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": report[k]["value"], "unit": report[k]["unit"]}
                        for k in wanted}}
    print(f"[perfbench] {args.workload} seed {args.seed}: {time.time() - t_start:.1f} s")
    print(json.dumps(line))
    return 0 if failed == 0 else 1


def main(argv=None):
    ap = argparse.ArgumentParser(description="ETL batch benchmark for the graft engine")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        return run(args)
    except BenchError as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
