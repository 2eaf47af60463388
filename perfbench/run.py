#!/usr/bin/env python3
"""graft's per-change benchmark: one command, one workload per run.

Run from the repository root:

    python3 perfbench/run.py --workload tick_stream --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

The first call builds graft's main classes and the harness into
.bench_build/ (see perfbench/Makefile); later calls reuse the build while
the sources are unchanged. Each run starts one JVM, which generates its
inputs from --seed, measures for --seconds, checks its outputs, and
writes a one-line result. That line is printed as the last line of
stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
A full record of every run goes to .bench_build/records/, and the spans
of a traced run to .bench_build/traces/. See perfbench/README.md.
"""

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("tick_stream", "tick_backlog", "lakehouse_serving")
JSA = os.path.join(OUT, "classes.jsa")
RUN_TIMEOUT_S = 165
SELFTEST_TIMEOUT_S = 900
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 needs these outside spark-submit (build.sbt sets the
# same list for forked runs).
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


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against
    (its `unmanagedBase`), so the benchmark uses the build's own jars."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no "
                         "unmanagedBase jar directory)")
    return m.group(1)


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(no src/main/scala here)")
    jars = spark_jars()
    cmd = ["make", "-s", "-f", os.path.join("perfbench", "Makefile"),
           "OUT=.bench_build", f"SPARK_JARS={jars}"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: build failed ({r.returncode})")
    if not os.path.exists(JSA + ".tried"):
        # once per build: the Makefile drops both files when it rebuilds
        open(JSA + ".tried", "w").close()
        work = fresh_work("warm")
        try:
            code = run_jvm(["--warm", "1"], work, dump_classes=True,
                           timeout=SELFTEST_TIMEOUT_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if code != 0 or not os.path.exists(JSA):
            log(f"class-data archive not written (exit {code}); runs "
                "start without it")


def run_jvm(args, work, dump_classes=False, timeout=RUN_TIMEOUT_S):
    cp = ":".join([os.path.join(OUT, "perfbench.jar"),
                   os.path.join(OUT, "graft.jar"),
                   os.path.join(spark_jars(), "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # Class-data sharing: runs map the classes the build's warm-up run
    # dumped instead of parsing thousands of jar entries at start-up.
    if dump_classes:
        cmd += [f"-XX:ArchiveClassesAtExit={JSA}"]
    elif os.path.exists(JSA):
        cmd += [f"-XX:SharedArchiveFile={JSA}"]
    # A fixed, pre-touched heap: peak RSS then moves with off-heap and
    # metaspace use, not with when G1 happened to grow the heap.
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-Xss4m",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", "--work", work] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {timeout}s; stopping it")
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def fresh_work(tag):
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def run_workload(a):
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = fresh_work(tag)
    result = os.path.join(work, "result.json")
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--result", result,
                "--record", os.path.join(OUT, "records", f"{tag}.json")]
        if a.trace:
            args += ["--spans", os.path.join(OUT, "traces", f"{tag}.jsonl")]
        code = run_jvm(args, work)
        if code != 0 or not os.path.exists(result):
            log(f"run failed (exit {code}), no result")
            return 1
        with open(result) as f:
            line = f.read().strip()
        json.loads(line)  # must be one valid JSON object
        print(line, flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def selftest():
    """Tiny runs of each workload must pass every gate and report every
    metric named in BENCHMARK.json with its unit; each planted wrong
    reference must be rejected by its gate."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = {w["name"] for w in spec["workloads"]}
    work = fresh_work("selftest")
    result = os.path.join(work, "result.jsonl")
    problems = []
    try:
        code = run_jvm(["--selftest", "1", "--result", result], work,
                       timeout=SELFTEST_TIMEOUT_S)
        if code != 0 or not os.path.exists(result):
            problems.append(f"self-test JVM failed (exit {code})")
            cases = []
        else:
            with open(result) as f:
                cases = [json.loads(x) for x in f if x.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    planted_gate = {"tick_file": "fact_vs_batch_aggregation",
                    "dml_count": "row_count_vs_dml_results",
                    "dashboard": "dashboard.",
                    "graftpq": "graftpq_vs_readTable"}
    seen = set()
    for c in cases:
        what = f"{c['workload']} plant={c['plant'] or '-'}"
        if not c["plant"]:
            seen.add(c["workload"])
            if not c["correct"] or c["failed"]:
                problems.append(f"{what}: gates {c['failed_gates']}, "
                                f"{c['failed']} failed ops")
            if c["units"] != want:
                missing = sorted(set(want) - set(c["units"]))
                extra = sorted(set(c["units"]) - set(want))
                wrong = sorted(k for k in want if k in c["units"]
                               and c["units"][k] != want[k])
                problems.append(f"{what}: metrics differ from BENCHMARK.json "
                                f"(missing {missing}, extra {extra}, "
                                f"unit mismatch {wrong})")
        else:
            g = planted_gate[c["plant"]]
            if c["correct"] or not any(x.startswith(g)
                                       for x in c["failed_gates"]):
                problems.append(f"{what}: planted error not rejected by {g}")
        log(f"selftest {what}: correct={c['correct']} "
            f"failed_gates={c['failed_gates']}")
    if not names <= seen:
        problems.append(f"workloads {sorted(names - seen)} not self-tested")
    for p in problems:
        log(f"SELFTEST PROBLEM: {p}")
    log("selftest " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    t0 = time.time()
    build()
    log(f"build ready in {time.time() - t0:.1f}s")
    if a.selftest:
        return selftest()
    if not a.workload:
        p.error("--workload is required")
    return run_workload(a)


if __name__ == "__main__":
    sys.exit(main())
