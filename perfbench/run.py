#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload flood_day --seed 1 --seconds 15 --trace 0

Builds the engine with the benchmark (perfbench/build.py) if a source
changed, then runs the workload in one JVM: set-up, then the measured
iterations (see perfbench/README.md). Every metric is printed by name and
unit; the last line of stdout is one JSON object with `correct`,
`attempted`, `failed` and `metrics` — the end-to-end metrics BENCHMARK.json
declares with `--trace 0`, its per-layer metrics with `--trace 1`.
`--trace-out FILE` also keeps the traced run's spans, jobs and
per-iteration layer metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("flood_day", "query_suite", "corpus_prep")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--trace-out", help="write the traced run's spans and jobs here")
    return p.parse_args()


def main():
    a = parse()
    root = build.root_dir()
    classpath = build.build()
    work = os.path.join(build.build_dir(), "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.system.home={work}",
           f"-Dderby.stream.error.file={work}/derby.log",
           f"-Dlog4j2.configurationFile={os.path.join(root, 'perfbench', 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", root, "--work", work, "--result", result,
            "--launch-ms", repr(time.time() * 1000.0)]
    trace_file = os.path.join(work, "trace.json")
    if a.trace:
        cmd += ["--trace-file", trace_file]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: {a.workload} exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        code = -1
    try:
        if code != 0 or not os.path.exists(result):
            print(f"perfbench: run failed (exit {code})", file=sys.stderr)
            return 1
        with open(result) as f:
            r = json.load(f)
        if a.trace and a.trace_out:
            shutil.copyfile(trace_file, a.trace_out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for section in ("metrics", "report"):
        for name, m in r[section].items():
            print(f"{a.workload:12s} {name:40s} {m['value']:>16.6g} {m['unit']}")
    # the result line carries exactly the metrics BENCHMARK.json declares
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = [m["name"] for m in json.load(f)["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in declared if n not in r["metrics"]]
    if missing:
        print(f"perfbench: run did not measure {', '.join(missing)}", file=sys.stderr)
        return 1
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"],
                      "metrics": {n: r["metrics"][n] for n in declared}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
