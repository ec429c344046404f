#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload etl_month --seed 1 --seconds 10 --trace 0

Run it from the root of a graft checkout. The first run builds graft and
the harness from source into `.bench_build/`; later runs reuse the build
while the sources are unchanged. A run generates its inputs from the
seed (perfbench/gen.py), drives graft in one JVM (perfbench/harness),
checks the outputs with computations made apart from graft
(perfbench/checks.py) and prints, as its last line,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics
derived from the trace (`--trace 1`). `--small` runs the small inputs.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ("etl_month", "query_families")

# Spark 4 on JDK 17 outside spark-submit needs these opens (the list
# spark-submit injects).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def heap():
    """A quarter of the host's memory, between 2 and 6 GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(2, min(6, kb // (4 * 1024 * 1024)))}g"


def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            if "target" in dirs:
                dirs.remove("target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft's sources and the harness; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("no graft sources under ./src/main/scala: run from a graft checkout")
        sys.exit(2)
    cp_file = os.path.join(BUILD, "sbt-target", "classpath.txt")
    stamp = os.path.join(BUILD, "sources.sha256")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                "-Dsbt.offline=true"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Xmx2g")
    log("building graft and the harness")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(cmd + ["compile", "writeClasspath"], cwd=HARNESS, env=env,
                           stdout=out, stderr=subprocess.STDOUT, timeout=600)
    if r.returncode != 0 or not os.path.exists(cp_file):
        log(f"build failed, see {os.path.join(BUILD, 'build.log')}")
        sys.exit(3)
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read()


def run_jvm(classpath, workload, inputs, work, seconds, trace):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC", "-Dderby.system.home=" + tmp]
           + opens + ["-cp", classpath, "graftbench.Main", workload, inputs, work,
                      str(seconds), str(trace), str(cpus())])
    with open(os.path.join(work, "jvm.log"), "w") as out:
        r = subprocess.run(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT, timeout=150)
    if r.returncode != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        log(f"harness failed ({r.returncode}):\n{tail}")
        sys.exit(4)


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def median(xs):
    return statistics.median(xs) if xs else 0.0


MB = 1e6


def du(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ------------------------------------------------------------ end to end

def end_to_end(workload, ops, work):
    """The figures a user of graft sees, medians over the run's rounds."""
    setup = median([o["s"] for o in ops if o["kind"] == "setup"])
    rounds = sorted({o["round"] for o in ops if o["round"] > 0})
    cold, warm, written, footprint = [], [], [], []
    for r in rounds:
        rops = [o for o in ops if o["round"] == r]
        if workload == "etl_month":
            # ops are named <warehouse>/<day>: r<n> holds the month,
            # r<n>_empty the first day again on another empty warehouse
            days = {}
            for o in rops:
                days.setdefault(o["name"], []).append(o)
            month = sorted(d for d in days if d.startswith(f"r{r}/"))
            empty = [month[0]] + [d for d in days if d.startswith(f"r{r}_empty/")]
            cold.append(statistics.fmean([sum(o["s"] for o in days[d]) for d in empty]))
            warm.append(statistics.fmean([sum(o["s"] for o in days[d]) for d in month[1:]]))
            mops = [o for d in month for o in days[d]]
            written.append(sum(v for o in mops for k, v in o.items()
                               if k.startswith("bytes.")) / MB)
            footprint.append(mops[-1]["stored"] / MB)
        else:
            cold.append(sum(o["s"] for o in rops if o["kind"] in ("query.cold", "corpus.cold")))
            best = {}
            for o in rops:
                if o["kind"] == "query.warm":
                    best[o["name"]] = min(best.get(o["name"], o["s"]), o["s"])
            warm.append(sum(best.values()))
            written.append(du(os.path.join(work, "queries", f"r{r}")) / MB)
            footprint.append(next(o["bytes"] for o in rops if o["kind"] == "cached") / MB)
    return {
        "setup_s": (setup, "s"),
        "cold_s": (median(cold), "s"),
        "warm_s": (median(warm), "s"),
        "written_mb": (median(written), "MB"),
        "footprint_mb": (median(footprint), "MB"),
    }


def checks_and_counts(workload, ops, work, inputs, plan):
    """Run the checks on every round's output. Returns (correct,
    attempted, failed, messages): every timed call is an operation, and
    in etl_month so is each day's SCD2 run-log audit."""
    con = checks.connect(cpus())
    oracle = checks.load_oracle(work)
    rounds = sorted({o["round"] for o in ops if o["round"] > 0})
    attempted = sum(1 for o in ops if o["round"] > 0 and o["kind"] != "cached")
    failed, msgs = 0, []
    for r in rounds:
        if workload == "etl_month":
            days = plan["days"].split(",")
            for name, ds in ((f"r{r}", days), (f"r{r}_empty", days[:1])):
                base = os.path.join(work, "etl", name)
                msgs += checks.etl_round(con, base, inputs, ds, oracle["q20_fraud_report"],
                                         mart_rows=len(ds) > 1)
                audit = checks.scd2_log_audit(con, base, ds)
                attempted += len(audit)
                failed += sum(1 for a in audit if a)
                if r == rounds[0]:
                    for a in audit:
                        if a:
                            log(f"SCD2 run-log audit failed: {a}")
        else:
            base = os.path.join(work, "queries", f"r{r}")
            msgs += checks.queries_round(con, base, inputs, plan["queries"].split(","), oracle)
    con.close()
    return not msgs, attempted, failed, msgs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true")
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    a = ap.parse_args()

    classpath = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    t0 = time.time()
    gen.generate(a.workload, a.seed, inputs, "small" if a.small else "full")
    log(f"inputs generated in {time.time() - t0:.1f}s")
    run_jvm(classpath, a.workload, inputs, work, a.seconds, a.trace)
    ops = read_jsonl(os.path.join(work, "ops.jsonl"))
    plan = dict(line.rstrip("\n").split("=", 1)
                for line in open(os.path.join(inputs, "plan.properties")))
    correct, attempted, failed, msgs = checks_and_counts(a.workload, ops, work, inputs, plan)
    for m in msgs:
        log(f"CHECK FAILED: {m}")
    if a.trace:
        metrics = layers.per_layer(a.workload, ops, work)
    else:
        metrics = end_to_end(a.workload, ops, work)
    if not a.keep:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
