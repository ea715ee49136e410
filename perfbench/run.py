#!/usr/bin/env python3
"""Benchmark of the Spark engine: two workloads, end to end and per layer.

Run one measurement:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (into the checkout's own target/ and
.bench_build/ directories); later runs reuse the build while no source
file changed. Every run starts one JVM, measures one workload with one
closed-loop client and checks its results. The last line of standard
output is one JSON object: correct, attempted, failed and metrics
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).

Compare two sets of runs (files of lines written with --record):

    python3 perfbench/run.py compare A.jsonl B.jsonl

See perfbench/NOTES.md for the workloads, metrics and first readings.
"""

import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["ref_apps", "index_maint"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# The heap is fixed (-Xms = -Xmx): a growable one shrinks at every GC the
# benchmark requests between ops, and warm passes then keep speeding up
# for many passes as it grows back.
HEAP = "3g"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads, so edits trigger a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, log_path, timeout, env=None):
    """Run cmd in its own process group; kill the group on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=30):
    try:
        with open(path) as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to the benchmark (build.sbt, src/main/scala)")
    os.makedirs(OUT, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as f:
                    return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    rc = run_bounded(["sbt", "-J-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                      f"-Djna.tmpdir={tmp}", "--batch",
                      "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"],
                     HERE, log, BUILD_TIMEOUT_S, env)
    if rc != 0:
        sys.stderr.write(tail(log))
        fail(f"build failed (exit {rc}); log in {log}")
    cp = None
    with open(log) as f:
        for line in f:
            line = line.strip()
            if line.startswith("[info]") or line.startswith("[success]"):
                continue
            if ".jar" in line and os.pathsep in line:
                cp = line
    if not cp:
        fail(f"no classpath in build output; log in {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def measure(args):
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    if args.trace not in (0, 1):
        fail("--trace takes 0 or 1")
    cp = build()
    work = os.path.join(OUT, "work")
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(work, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    result = os.path.join(OUT, "result.json")
    if os.path.exists(result):
        os.remove(result)
    logs = os.path.join(OUT, "logs")
    os.makedirs(logs, exist_ok=True)
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        f"-Djna.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores()),
        "--data", os.path.join(HERE, "data", "sf0.01"),
        "--work", work,
        "--expected", os.path.join(HERE, "expected"),
        "--out", result,
        "--trace-out", os.path.join(OUT, "traces", f"{tag}.json"),
    ]
    log = os.path.join(logs, f"{tag}.log")
    t0 = time.time()
    rc = run_bounded(cmd, work, log, RUN_TIMEOUT_S)
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(tail(log))
        fail(f"{args.workload} run failed (exit {rc}); log in {log}")
    with open(result) as f:
        res = json.load(f)
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"cores {cores()} ({time.time() - t0:.1f} s in the JVM)")
    report = res.pop("report")
    for line in report:
        print(line)
    for name, m in res["metrics"].items():
        print(f"{name} {m['value']} {m['unit']}")
    line = json.dumps(res)
    if args.record:
        with open(args.record, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                "trace": args.trace, **res, "report": report}) + "\n")
    print(line)


def compare(paths):
    """Per workload and metric: median and quartiles of each result set."""
    sets = []
    for p in paths:
        runs = {}
        with open(p) as f:
            for line in f:
                if line.strip():
                    r = json.loads(line)
                    for name, m in r["metrics"].items():
                        runs.setdefault((r["workload"], name), []).append(m["value"])
        sets.append(runs)
    keys = sorted(set().union(*[s.keys() for s in sets]))
    print("workload     metric                              " +
          "  ".join(f"{os.path.basename(p)[:28]:>28}" for p in paths) + "   delta")
    for k in keys:
        cells, medians = [], []
        for s in sets:
            v = s.get(k, [])
            if not v:
                cells.append(f"{'-':>28}")
                medians.append(None)
                continue
            q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
            med = statistics.median(v)
            medians.append(med)
            cells.append(f"{med:>10.4g} [{q[0]:.4g}, {q[2]:.4g}] n={len(v):<2}")
        delta = ""
        if len(medians) == 2 and None not in medians and medians[0]:
            delta = f"{(medians[1] - medians[0]) / medians[0] * 100:+.1f}%"
        print(f"{k[0]:<12} {k[1]:<35} " + "  ".join(cells) + f"   {delta}")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        if len(sys.argv) < 3:
            fail("compare takes one or more result files")
        compare(sys.argv[2:])
        return
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--record", help="append the result, tagged, to this file")
    measure(ap.parse_args())


if __name__ == "__main__":
    main()
