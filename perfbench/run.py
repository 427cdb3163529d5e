#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, runs one workload
as a single-process closed loop and prints one JSON result as the last line
of standard output.

    python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 12 --trace 0

Run from the checkout root. Workloads and metrics are listed in
BENCHMARK.json. With --trace 0 the result carries the end-to-end metrics,
with --trace 1 the per-layer ones (spans go to .bench_build/traces/).
--record FILE (with --workload catalog) instead writes the expected
outputs of every catalog query.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("etl_cycle", "catalog")
RUN_LIMIT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the checkout root: src/main/scala not found", 2)
    try:
        classes = build.build(root)
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(str(e), 3)

    cores = len(os.sched_getaffinity(0))
    base = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(base, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(base, "logs", f"{a.workload}-{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)

    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m"] + opens +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", os.pathsep.join([classes, os.path.join(root, "src", "main", "resources"),
                                    os.path.join(jars, "*")]),
            "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--cores", str(cores)])
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]

    result = None
    with open(log_path, "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)

        timed_out = []

        def kill(*_):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

        signal.signal(signal.SIGTERM, lambda *x: (kill(), sys.exit(6)))
        signal.signal(signal.SIGALRM, lambda *x: (timed_out.append(1), kill()))
        if not a.record:
            signal.alarm(RUN_LIMIT_S)
        try:
            for line in proc.stdout:
                if line.startswith("PERFBENCH_RESULT "):
                    result = json.loads(line[len("PERFBENCH_RESULT "):])
                else:
                    sys.stdout.write(line)
                    sys.stdout.flush()
            code = proc.wait()
        finally:
            signal.alarm(0)
            kill()
            proc.wait()

    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.move(spans, os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    if a.record:
        sys.exit(code)
    if timed_out or code != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"run failed (exit {code}, timed out: {bool(timed_out)}); log: {log_path}", 4)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
