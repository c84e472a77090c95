#!/usr/bin/env python3
"""graft benchmark: one workload run in one fresh JVM.

    python3 perfbench/run.py --workload crawl_rank --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 20

Run from the repository root. The first run compiles the engine and the
benchmark driver with sbt into .bench_build (or $CARGO_TARGET_DIR).
Prints every metric by name and unit; the last line of standard output
is one JSON object {correct, attempted, failed, metrics}. --all runs every
workload untraced and traced and reports the tracing overhead.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import curation  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("crawl_rank", "graph_ops", "curation")
CURATION_DOCS, CURATION_VECTORS = 1000, 600
RUN_LIMIT_S = 170
KEEP_RUNS = 12
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    return os.path.abspath(d)


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME/jars, else the one
    whose spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark installation: set SPARK_HOME or put spark-submit on the PATH", 3)
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def build(bdir):
    """Compile engine + driver once per source digest; returns the classpath."""
    digest = source_digest()
    stamp, cp_file = os.path.join(bdir, "build.stamp"), os.path.join(bdir, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), digest
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", GRAFT_BENCH_TARGET=os.path.join(bdir, "sbt-target"),
               GRAFT_SPARK_JARS=spark_jars(), JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g"
                       + f" -Djava.io.tmpdir={os.path.join(bdir, 'sbt-tmp')}")
    os.makedirs(os.path.join(bdir, "sbt-tmp"), exist_ok=True)
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=HERE, env=env, stdout=out,
                            stderr=subprocess.STDOUT, timeout=800).returncode
    lines = open(log).read().splitlines()
    if rc != 0 or not lines:
        fail(f"build failed (sbt exit {rc}); see {log}:\n" + "\n".join(lines[-25:]), 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp, digest


def driver_mem():
    """Tier-1 formula: half the machine's memory in GiB, clamped to [2, 8]."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(8, max(2, g))}g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prune_runs(runs_dir):
    dirs = sorted(glob.glob(os.path.join(runs_dir, "*")), key=os.path.getmtime)
    for d in dirs[:-KEEP_RUNS]:
        shutil.rmtree(d, ignore_errors=True)


def run_jvm(cp, bdir, workload, seed, seconds, trace, deadline):
    runs = os.path.join(bdir, "runs")
    out = os.path.join(runs, f"{workload}-s{seed}-t{trace}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(out, "tmp"))
    data = os.path.join(bdir, "data")
    if workload == "curation":
        data = os.path.join(data, f"curation-d{CURATION_DOCS}-v{CURATION_VECTORS}-s{seed}")
        curation.generate(data, seed, CURATION_DOCS, CURATION_VECTORS)
    mem = driver_mem()
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", f"-Xmx{mem}", f"-Xms{mem}",
              "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}/tmp", "-cp", cp, "graftbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--cores", str(cores()), "--data", data, "--out", out])
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=out)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload}: run exceeded its time limit; see {log}", 4)
    rec_path = os.path.join(out, "record.json")
    if rc != 0 or not os.path.exists(rec_path):
        tail = open(log, errors="replace").read().splitlines()[-30:]
        fail(f"{workload}: JVM exited {rc} without a record; see {log}:\n" + "\n".join(tail), 5)
    with open(rec_path) as f:
        record = json.load(f)
    if workload == "curation":
        queries = [{"name": q.split(".")[-1], "op": q} for q in record["op_names"]]
        record["checks"] += curation.check(data, out, record.get("oracle_sql", {}), queries,
                                           os.path.join(bdir, "oracle-cache"))
    for entry in os.listdir(out):  # keep the record and the log, drop outputs
        if os.path.isdir(os.path.join(out, entry)):
            shutil.rmtree(os.path.join(out, entry), ignore_errors=True)
    prune_runs(runs)
    return record, out


def fingerprint_ok(record):
    pinned = json.load(open(os.path.join(HERE, "fingerprints.json")))
    want = pinned.get(record["workload"], {}).get(str(record["seed"]))
    return want is None or want == record["fingerprint"], want


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                           env=dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT)))
        return p.stdout.strip() if p.returncode == 0 else None
    except OSError:
        return None


def summarize(record, out, digest):
    ledger = metrics.account(record)
    fp_ok, fp_want = fingerprint_ok(record)
    checks_ok = all(c["ok"] for c in record["checks"])
    summary = {
        "workload": record["workload"], "seed": record["seed"], "traced": record["traced"],
        "env": dict(record["env"], source_digest=digest, git_commit=git_commit()), "sizes": record["sizes"],
        "fingerprint": record["fingerprint"], "fingerprint_pinned": fp_want,
        "checks": record["checks"], "failures": ledger.failures,
        "end_to_end": metrics.end_to_end(record, ledger),
        "named": metrics.named(record, ledger),
    }
    if record["traced"]:
        summary["per_layer"] = metrics.per_layer(record)
        summary["layers"] = metrics.layer_detail(record)
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    correct = checks_ok and fp_ok and ledger.failed == 0
    return summary, ledger, correct, fp_ok


def show(summary, fp_ok):
    w = summary["workload"]
    print(f"== {w} seed={summary['seed']} traced={summary['traced']} sizes={summary['sizes']}")
    print(f"   env {json.dumps(summary['env'])}")
    print(f"   input fingerprint {json.dumps(summary['fingerprint'])}"
          + ("" if fp_ok else f"  MISMATCH, pinned {json.dumps(summary['fingerprint_pinned'])}"))
    for c in summary["checks"]:
        print(f"   check {'ok  ' if c['ok'] else 'FAIL'} {c['op']}: {c['detail']}")
    for f in summary["failures"][:20]:
        print(f"   failed {f}")
    for group in ("end_to_end", "named", "per_layer", "layers"):
        for name, (value, unit) in summary.get(group, {}).items():
            print(f"   {group:<10} {name:<52} {value:>16.6g} {unit}")


def one(args, cp, digest, bdir, workload, trace, deadline):
    record, out = run_jvm(cp, bdir, workload, args.seed, args.seconds, trace, deadline)
    summary, ledger, correct, fp_ok = summarize(record, out, digest)
    show(summary, fp_ok)
    return summary, ledger, correct


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="every workload, untraced and traced")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not args.all and not args.workload:
        ap.error("--workload or --all is required")
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    start = time.time()
    bdir = build_dir()
    cp, digest = build(bdir)
    if not args.all:
        # The run limit counts from after the build (the first run may build).
        deadline = max(start, time.time() - 20) + RUN_LIMIT_S
        summary, ledger, correct = one(args, cp, digest, bdir, args.workload, args.trace, deadline)
        group = "per_layer" if args.trace else "end_to_end"
        print(json.dumps({
            "correct": correct, "attempted": ledger.attempted, "failed": ledger.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in summary[group].items()}}))
        return
    everything_ok, attempted, failed = True, 0, 0
    for w in WORKLOADS:
        plain, l0, c0 = one(args, cp, digest, bdir, w, 0, time.time() + RUN_LIMIT_S)
        traced, l1, c1 = one(args, cp, digest, bdir, w, 1, time.time() + RUN_LIMIT_S)
        for name, (v, unit) in plain["end_to_end"].items():
            t = traced["end_to_end"][name][0]
            if v:
                print(f"   overhead   {w}.{name:<43} {100.0 * (t - v) / v:>15.2f} % (traced {t:.6g} vs {v:.6g} {unit})")
        everything_ok &= c0 and c1
        attempted += l0.attempted + l1.attempted
        failed += l0.failed + l1.failed
    print(json.dumps({"correct": everything_ok, "attempted": attempted, "failed": failed}))


if __name__ == "__main__":
    main()
