"""Statistics and metric assembly for the benchmark.

The JVM harness writes raw samples (every set-up, every pass, every
row); this module turns them into the end-to-end and per-layer metrics.
All samples count: nothing here picks a best or drops an outlier.
"""
import math
import random
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")

# Rule for tail percentiles: a percentile is reported only when at least
# this many samples lie strictly above it.
MIN_ABOVE = 10


def median(values):
    return statistics.median(values) if values else None


def mean(values):
    return statistics.fmean(values) if values else None


def percentile(values, q):
    """q-th percentile (0-100) by linear interpolation between ranks."""
    xs = sorted(values)
    if not xs:
        return None
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values, q, min_above=MIN_ABOVE):
    """The q-th percentile, or None when fewer than `min_above` samples
    lie above it (the tail would rest on too few points)."""
    p = percentile(values, q)
    if p is None or sum(1 for v in values if v > p) < min_above:
        return None
    return p


def pass_orders(rows, seed, passes):
    """Row order of every pass: a seeded shuffle per pass, so the same
    seed always gives the same orders."""
    orders = []
    for i in range(passes):
        order = list(rows)
        random.Random(f"{seed}:{i}").shuffle(order)
        orders.append(order)
    return orders


def check_rows(result, expected):
    """Mark each row sample failed when it threw or its digest differs
    from the expected one. Returns (attempted, failed, mismatches)."""
    attempted = failed = 0
    mismatches = []
    for p in result["passes"]:
        for r in p["rows"]:
            attempted += 1
            want = expected.get(r["row"])
            got = r.get("digest")
            r["ok"] = "error" not in r and got is not None and got == want
            if not r["ok"]:
                failed += 1
                mismatches.append((p["index"], r["row"], got, want, r.get("error")))
    return attempted, failed, mismatches


def _m(value, unit, n):
    return {"value": value, "unit": unit, "n": n}


def end_to_end(result, corpus_bytes):
    """End-to-end metrics of an untraced run, each with unit and sample
    count. Metrics a run cannot support (a tail percentile with too few
    samples above it, write figures of a run that writes nothing) are
    left out rather than reported as zero.

    Pass figures are the mean over the run's passes. Every run makes
    the same number of passes, and they differ by design (the first is
    the coldest), so the mean weighs each the same way in every run."""
    passes = result["passes"]
    rows = [r for p in passes for r in p["rows"]]
    walls = [r["wall_s"] for r in rows]
    out = {
        "setup_s": _m(result["setup_s"], "s", 1),
        "pipeline_s": _m(mean([p["wall_s"] for p in passes]), "s", len(passes)),
        "row_p50_s": _m(median(walls), "s", len(walls)),
        "cpu_s": _m(mean([p["cpu_s"] for p in passes]), "s", len(passes)),
        "peak_rss_mb": _m(result["peak_rss_mb"], "MB", 1),
        "failed_frac": _m(sum(not r["ok"] for r in rows) / len(rows), "fraction", len(rows)),
    }
    p90 = tail_percentile(walls, 90)
    if p90 is not None:
        out["row_p90_s"] = _m(p90, "s", len(walls))
    written = [p for p in passes if p.get("output_mb")]
    if written:
        write_s = sum(r["action_s"] for p in written for r in p["rows"])
        mb = sum(p["output_mb"] for p in written)
        out["write_mb_per_s"] = _m(mb / write_s, "MB/s", len(written))
        out["out_bytes_per_in_byte"] = _m(
            median([p["output_mb"] * 1048576 / corpus_bytes for p in written]),
            "ratio", len(written))
    return out


# Per-row figures the traced passes sum per pass: metric name -> (key in
# the row record, unit).
ROW_SUMS = {
    "build_s": ("build_s", "s"),
    "build_jobs": ("build_jobs", "count"),
    "plan.analysis_s": ("plan_analysis_s", "s"),
    "plan.optimization_s": ("plan_optimization_s", "s"),
    "plan.planning_s": ("plan_planning_s", "s"),
    "exec_s": ("exec_s", "s"),
    "jobs": ("jobs", "count"),
    "stages": ("stages", "count"),
    "tasks": ("tasks", "count"),
    "executor_run_s": ("executor_run_s", "s"),
    "executor_cpu_s": ("executor_cpu_s", "s"),
    "jvm_gc_s": ("jvm_gc_s", "s"),
    "sched_delay_s": ("sched_delay_s", "s"),
    "shuffle_write_mb": ("shuffle_write_mb", "MB"),
    "shuffle_read_mb": ("shuffle_read_mb", "MB"),
    "spill_mem_mb": ("spill_mem_mb", "MB"),
    "spill_disk_mb": ("spill_disk_mb", "MB"),
    "write_s": ("write_s", "s"),
    "output_files": ("written_files", "count"),
    "output_mb": ("written_mb", "MB"),
}


def unattributed(r):
    """Row wall time not covered by the builder, the three planning
    phases and execution."""
    return r["wall_s"] - r["build_s"] - r["plan_analysis_s"] - \
        r["plan_optimization_s"] - r["plan_planning_s"] - r["exec_s"]


def per_layer(result, corpus_gen_s):
    """Per-layer metrics of a traced run: per-pass figures over the
    traced passes, reported as their median."""
    traced = [p for p in result["passes"] if p["traced"]]
    plain = [p for p in result["passes"] if not p["traced"]]
    n = len(traced)

    def med(f):
        return median([f(p) for p in traced])

    out = {}
    for name, (key, unit) in ROW_SUMS.items():
        out[name] = _m(med(lambda p, k=key: sum(r.get(k, 0) for r in p["rows"])), unit, n)
    out["tables.jobs"] = _m(med(lambda p: sum(r["tables_jobs"] for r in p["rows"]) /
                                len(p["rows"])), "jobs/row", n)
    out["tables.resolve_s"] = _m(med(lambda p: p["tables_resolve_s"]), "s", n)
    # Task time over core time across the rows' windows: builders run
    # jobs too (memo builds, eager actions), so exec_s alone is too short
    # a base.
    out["slot_util"] = _m(med(lambda p: sum(r["executor_run_s"] for r in p["rows"]) /
                              max(1e-9, sum(r["wall_s"] for r in p["rows"]) * result["cores"])),
                          "ratio", n)
    out["peak_exec_mem_mb"] = _m(med(lambda p: max(r.get("peak_exec_mem_mb", 0) for r in p["rows"])), "MB", n)
    memo = lambda p: [r for r in p["rows"] if r["row"].startswith("memo_")]
    out["memo.build_s"] = _m(med(lambda p: sum(r["wall_s"] for r in memo(p))), "s", n)
    out["memo.disk_mb"] = _m(med(lambda p: p["memo_disk_mb"]), "MB", n)
    out["persisted_rdds_left"] = _m(med(lambda p: max(r["persisted_rdds"] for r in p["rows"])), "count", n)
    out["storage_mem_mb"] = _m(med(lambda p: max(r.get("storage_mem_mb", 0) for r in p["rows"])), "MB", n)
    out["unattributed_s"] = _m(med(lambda p: sum(unattributed(r) for r in p["rows"] if "error" not in r)), "s", n)
    out["harness_s"] = _m(result["run_wall_s"] - result["timed_s"], "s", 1)
    out["trace_overhead"] = _m(median([p["wall_s"] for p in traced]) /
                               median([p["wall_s"] for p in plain]), "ratio", len(plain))
    out["corpus_gen_s"] = _m(corpus_gen_s, "s", 1)
    return out


def reconcile(result):
    """Per-row reconciliation lines for a traced run: builder, planning
    phases and execution against the row's wall time."""
    lines = ["pass row wall_s build_s plan_s exec_s unattributed_s"]
    for p in result["passes"]:
        if not p["traced"]:
            continue
        for r in p["rows"]:
            if "error" in r:
                lines.append(f"{p['index']} {r['row']} failed: {r['error']}")
                continue
            plan = r["plan_analysis_s"] + r["plan_optimization_s"] + r["plan_planning_s"]
            lines.append(f"{p['index']} {r['row']} {r['wall_s']:.4f} {r['build_s']:.4f} "
                         f"{plan:.4f} {r['exec_s']:.4f} {unattributed(r):.4f}")
    return lines


def bad_names(names):
    return [n for n in names if not NAME_RE.match(n)]
