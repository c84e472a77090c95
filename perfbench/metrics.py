"""Metrics of one run, derived from the run record the JVM writes.

Everything here is plain Python over the record, so the rules are unit
tested (tests/test_metrics.py): percentile choice, task-interval unions,
span self time and failure accounting.
"""
import math
import statistics

MB = 1024.0 * 1024.0
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Linear-interpolated p-th percentile of a non-empty sample."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values, min_beyond=10):
    """The highest percentile with at least `min_beyond` samples beyond it:
    (percentile, value, sample count). Falls back to the median when the
    sample is too small for any tail."""
    n = len(values)
    for p in PERCENTILES:
        if math.floor(n * (100.0 - p) / 100.0 + 1e-9) >= min_beyond:
            return p, percentile(values, p), n
    return 50.0, percentile(values, 50.0), n


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of [start, end) intervals, clipped to
    [lo, hi] when given."""
    spans = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            spans.append((s, e))
    spans.sort()
    total, cur_s, cur_e = 0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def uncovered(start, end, intervals):
    """Time in [start, end] that none of `intervals` covers: a span's self
    time given its children, or its driver-only time given its tasks."""
    return (end - start) - union_length(intervals, start, end)


class Ledger:
    """Operations attempted and failed. An operation fails when it throws
    or when the check of its answer fails; a failure never stops the
    count."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures = []

    def record(self, name, error=None, ok=True):
        self.attempted += 1
        if error is not None or not ok:
            self.failed += 1
            self.failures.append(f"{name}: {error if error is not None else 'wrong answer'}")

    @property
    def fail_frac(self):
        return self.failed / self.attempted if self.attempted else 1.0


def account(record):
    """Ledger of a run record: every declared operation of every pass is
    attempted; one the pass never reached counts as failed; a failed
    check fails every attempt of its operation (the answer of the last
    pass is checked, and the engine is deterministic)."""
    bad = {c["op"]: c["detail"] for c in record["checks"] if not c["ok"]}
    ledger = Ledger()
    for p in record["passes"]:
        ran = {o["name"]: o for o in p["ops"]}
        for name in record["op_names"]:
            o = ran.get(name)
            if o is None:
                ledger.record(name, error="not reached: an earlier operation of the pass failed")
            elif o["error"] is not None:
                ledger.record(name, error=o["error"])
            elif name in bad or "*" in bad:
                ledger.record(name, ok=False)
            else:
                ledger.record(name)
    return ledger


def op_walls(record, name):
    return [o["wall_s"] for p in record["passes"] for o in p["ops"] if o["name"] == name]


# Steady steps of a loop: supersteps 2..21. The first pays warm-up, and a
# fixed index window keeps seeds whose loops run longer (and so spend more
# supersteps JIT-warm) comparable with seeds whose loops stop early.
STEADY = slice(1, 21)


def steps_ms(record):
    """The workload's unit steps: steady PageRank supersteps, steady CC and
    LP supersteps, or query walls."""
    w = record["workload"]
    out = []
    for p in record["passes"]:
        d = p["detail"]
        if w == "crawl_rank":
            out += d.get("pr_steps_ms", [])[STEADY]
        elif w == "graph_ops":
            out += d.get("cc_steps_ms", [])[STEADY] + d.get("lp_steps_ms", [])[STEADY]
        else:
            out += [o["wall_s"] * 1000.0 for o in p["ops"]]
    return [float(x) for x in out]


def first_step_ms(record):
    """The first unit step of the first pass, which pays JIT and codegen
    warm-up."""
    d = record["passes"][0]["detail"]
    if record["workload"] == "curation":
        ops = record["passes"][0]["ops"]
        return ops[0]["wall_s"] * 1000.0 if ops else 0.0
    first = d.get("pr_steps_ms") or d.get("cc_steps_ms") or [0.0]
    return float(first[0])


def end_to_end(record, ledger):
    setup = record["setup"]
    steps = steps_ms(record) or [0.0]
    return {
        "setup_s": (setup["jvm_s"] + setup["session_s"] + statistics.median(setup["input_s"]), "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in record["passes"]), "s"),
        "step_p50_ms": (statistics.median(steps), "ms"),
        "peak_storage_mb": (record["peak_storage_bytes"] / MB, "MB"),
        "ok_frac": (1.0 - ledger.fail_frac, "ratio"),
    }


def _median_op(record, name):
    walls = op_walls(record, name)
    return statistics.median(walls) if walls else float("nan")


def named(record, ledger):
    """The workload's own end-to-end numbers, by the names the benchmark
    document uses."""
    w = record["workload"]
    passes = record["passes"]
    out = {"fail_frac": (ledger.fail_frac, "ratio")}
    if w == "crawl_rank":
        out["crawl_to_rank_s"] = (statistics.median(
            sum(o["wall_s"] for o in p["ops"] if o["name"] in (
                "ingest.link_extract", "core.graph_build", "operators.pagerank.solve"))
            for p in passes), "s")
        out["pr_solve_s"] = (_median_op(record, "operators.pagerank.solve"), "s")
        steady = steps_ms(record)
        arcs = passes[-1]["detail"].get("arcs", 0)
        if steady:
            out["pr_arcs_per_s"] = (arcs / (statistics.median(steady) / 1000.0), "arcs/s")
        out["pr_resumable_s"] = (statistics.median(
            sum(o["wall_s"] for o in p["ops"] if o["name"].startswith("operators.pagerank.")
                and o["name"] != "operators.pagerank.solve") for p in passes), "s")
    elif w == "graph_ops":
        for op in ("cc", "lp", "triangles"):
            out[f"{op}_s"] = (_median_op(record, f"operators.{op}"), "s")
        bfs = [c for c in record["checks"] if c["op"] == "operators.bfs"]
        if bfs and "reached" in bfs[0]:
            out["bfs_nodes_per_s"] = (bfs[0]["reached"] / _median_op(record, "operators.bfs"), "nodes/s")
    else:
        out["curation_s"] = (statistics.median(
            sum(o["wall_s"] for o in p["ops"]) for p in passes), "s")
    return out


class Trace:
    """Index over a traced run's spans, jobs and tasks."""

    def __init__(self, record):
        self.record = record
        cols = record.get("task_columns", [])
        self.tasks = [dict(zip(cols, t)) for t in record.get("tasks", [])]
        self.jobs = record.get("jobs", [])
        self.spans = record.get("spans", [])
        self.window = record["window_us"]

    def span_ids(self, prefix):
        return {s["id"] for s in self.spans if s["name"] == prefix or s["name"].startswith(prefix + ".")}

    def spans_named(self, prefix):
        ids = self.span_ids(prefix)
        return [s for s in self.spans if s["id"] in ids]

    def tasks_of(self, ids):
        return [t for t in self.tasks if t["span"] in ids]

    def jobs_of(self, ids):
        return [j for j in self.jobs if j["span"] in ids]

    def driver_only_s(self, spans, tasks):
        iv = [(t["launch_us"], t["finish_us"]) for t in tasks]
        return sum(uncovered(s["start_us"], s["end_us"], iv) for s in spans) / 1e6

    def self_s(self, span):
        """Span duration minus what its child spans and its jobs cover."""
        children = [(c["start_us"], c["end_us"]) for c in self.spans if c["parent"] == span["id"]]
        children += [(j["start_us"], j["end_us"]) for j in self.jobs
                     if j["span"] == span["id"] and j["end_us"] >= 0]
        return uncovered(span["start_us"], span["end_us"], children) / 1e6

    def layer(self, prefix):
        """Counters of every span under `prefix` (summed over passes)."""
        spans = self.spans_named(prefix)
        ids = {s["id"] for s in spans}
        tasks = self.tasks_of(ids)
        wall = sum(s["end_us"] - s["start_us"] for s in spans) / 1e6
        busy = sum(t["run_ms"] for t in tasks) / 1e3
        return {
            "s": wall,
            "self_s": sum(self.self_s(s) for s in spans),
            "jobs": len(self.jobs_of(ids)),
            "tasks": len(tasks),
            "shuffle_records": sum(t["shuffle_write_records"] for t in tasks),
            "shuffle_mb": sum(t["shuffle_write_bytes"] for t in tasks) / MB,
            "spill_mb": sum(t["spill_bytes"] for t in tasks) / MB,
            "task_busy_s": busy,
            "gc_s": sum(s["gc_ms"] for s in spans) / 1e3,
            "driver_only_s": self.driver_only_s(spans, tasks),
            "driver_only_frac": self.driver_only_s(spans, tasks) / wall if wall else 0.0,
            "task_skew": task_skew(tasks),
        }

    def window_tasks(self):
        lo, hi = self.window
        return [t for t in self.tasks if lo <= t["launch_us"] <= hi]


def task_skew(tasks):
    """Median over stages (with at least two tasks) of the slowest task's
    run time over the stage's median task run time."""
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    ratios = [max(r) / max(statistics.median(r), 1.0) for r in by_stage.values() if len(r) >= 2]
    return statistics.median(ratios) if ratios else 1.0


def per_layer(record):
    """The generic per-layer metrics every workload reports from its traced
    run, over the measured window."""
    tr = Trace(record)
    lo, hi = tr.window
    tasks = tr.window_tasks()
    jobs = [j for j in tr.jobs if lo <= j["start_us"] <= hi]
    window_s = (hi - lo) / 1e6
    driver_only = uncovered(lo, hi, [(t["launch_us"], t["finish_us"]) for t in tasks]) / 1e6
    steps = steps_ms(record)
    _, tail_ms, n = tail(steps or [0.0])
    plan = record.get("plan", {})
    return {
        "spark.jobs": (len(jobs), "count"),
        "spark.tasks": (len(tasks), "count"),
        "spark.tasks_failed": (sum(t["failed"] for t in tasks), "count"),
        "spark.stages_retried": (record.get("stages_retried", 0), "count"),
        "spark.shuffle_write_mb": (sum(t["shuffle_write_bytes"] for t in tasks) / MB, "MB"),
        "spark.shuffle_records": (sum(t["shuffle_write_records"] for t in tasks), "count"),
        "spark.spill_mb": (sum(t["spill_bytes"] for t in tasks) / MB, "MB"),
        "spark.task_busy_s": (sum(t["run_ms"] for t in tasks) / 1e3, "s"),
        "spark.task_cpu_s": (sum(t["cpu_ms"] for t in tasks) / 1e3, "s"),
        "spark.driver_only_s": (driver_only, "s"),
        "spark.driver_only_frac": (driver_only / window_s if window_s else 0.0, "ratio"),
        "spark.task_skew": (task_skew(tasks), "ratio"),
        "jvm.gc_s": (record["gc_ms"] / 1e3, "s"),
        "jvm.heap_peak_mb": (record["heap_peak_bytes"] / MB, "MB"),
        "catalyst.plan_s": (plan.get("plan_ms", 0) / 1e3, "s"),
        "step.count": (len(steps) / max(1, len(record["passes"])), "count"),
        "step.tail_ms": (tail_ms, "ms"),
        "step.samples": (n, "count"),
        "step.first_ms": (first_step_ms(record), "ms"),
    }


def layer_detail(record):
    """The per-layer numbers named after the engine's modules, for the
    workload at hand (printed and kept in the run summary)."""
    tr = Trace(record)
    w = record["workload"]
    steps = steps_ms(record) or [0.0]
    out = {"step.tail_pct": (tail(steps)[0], "pct"), "trace.spans": (len(tr.spans), "count")}
    npass = max(1, len(record["passes"]))

    def put(prefix, stats, keys, units):
        for k in keys:
            out[f"{prefix}.{k}"] = (stats[k] / npass if k not in ("driver_only_frac", "task_skew") else stats[k],
                                    units.get(k, "s"))

    units = {"jobs": "count", "tasks": "count", "shuffle_records": "count", "shuffle_mb": "MB",
             "spill_mb": "MB", "driver_only_frac": "ratio", "task_skew": "ratio"}
    if w == "crawl_rank":
        put("ingest.link_extract", tr.layer("ingest.link_extract"), ("s", "self_s", "shuffle_mb"), units)
        put("core.graph_build", tr.layer("core.graph_build"), ("s", "self_s", "shuffle_mb", "spill_mb"), units)
        pr = tr.layer("operators.pagerank.solve")
        steps = [float(x) for p in record["passes"] for x in p["detail"].get("pr_steps_ms", [])]
        if not steps:  # the pass failed before PageRank ran
            return out
        n_steps = len(steps)
        steady = steps_ms(record) or steps
        p, v, n = tail(steady)
        out["operators.pagerank.supersteps"] = (len(steps) / npass, "count")
        out["operators.pagerank.superstep_p50_ms"] = (statistics.median(steady), "ms")
        out[f"operators.pagerank.superstep_p{p:g}_ms"] = (v, "ms")
        out["operators.pagerank.superstep_samples"] = (n, "count")
        out["operators.pagerank.first_superstep_ms"] = (steps[0], "ms")
        out["operators.pagerank.jobs_per_superstep"] = (pr["jobs"] / n_steps, "count")
        out["operators.pagerank.shuffle_records_per_superstep"] = (pr["shuffle_records"] / n_steps, "count")
        out["operators.pagerank.shuffle_mb_per_superstep"] = (pr["shuffle_mb"] / n_steps, "MB")
        out["operators.pagerank.driver_only_frac"] = (pr["driver_only_frac"], "ratio")
        out["operators.pagerank.task_skew"] = (pr["task_skew"], "ratio")
        out["operators.pagerank.gc_frac"] = (pr["gc_s"] / pr["s"] if pr["s"] else 0.0, "ratio")
        out["operators.pagerank.self_s"] = (pr["self_s"] / npass, "s")
        last = record["passes"][-1]["detail"]
        out["core.checkpoint.commits"] = (last.get("checkpoint_commits", 0), "count")
        out["core.checkpoint.written_mb"] = (last.get("checkpoint_bytes", 0) / MB, "MB")
        resume = op_walls(record, "operators.pagerank.resume")
        if resume:
            out["core.resume.overhead_s"] = (
                resume[-1] - sum(last.get("resume_steps_ms", [])) / 1e3, "s")
    elif w == "graph_ops":
        keys = ("s", "self_s", "jobs", "shuffle_records", "shuffle_mb", "spill_mb", "driver_only_frac",
                "task_busy_s", "gc_s")
        last = record["passes"][-1]["detail"]
        for op in ("cc", "lp", "triangles", "bfs"):
            put(f"operators.{op}", tr.layer(f"operators.{op}"), keys, units)
        out["operators.cc.supersteps"] = (last.get("cc_supersteps", 0), "count")
        out["operators.lp.supersteps"] = (last.get("lp_supersteps", 0), "count")
        bfs = next((c for c in record["checks"] if c["op"] == "operators.bfs"), {})
        levels = bfs.get("levels", 0)
        out["operators.bfs.supersteps"] = (levels, "count")
        tri = last.get("triangles", 0)
        if tri:
            out["operators.triangles.shuffle_records_per_triangle"] = (
                out["operators.triangles.shuffle_records"][0] / tri, "count")
        if levels:
            out["operators.bfs.ms_per_level"] = (
                1000.0 * statistics.median(op_walls(record, "operators.bfs")) / levels, "ms")
    else:
        for fam in ("dedup", "ann", "text", "ingest"):
            put(f"queries.{fam}", tr.layer(f"queries.{fam}"),
                ("s", "self_s", "jobs", "shuffle_mb", "driver_only_frac"), units)
        walls = {}
        for p in record["passes"]:
            for o in p["ops"]:
                walls.setdefault(o["name"].split(".")[-1], []).append(o["wall_s"])
        heavy = sorted(walls, key=lambda q: -statistics.median(walls[q]))[:5]
        for q in heavy:
            out[f"queries.{q}.s"] = (statistics.median(walls[q]), "s")
    return out
