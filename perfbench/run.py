#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload kmodes_fit --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark first (perfbench/build.py), then runs
graftbench.Main in one JVM on local[min(4, nproc)]. Everything the run
writes stays under .bench_build/ in the checkout and is removed at the
end, except the span dump of a traced run (.bench_build/traces/).
The line before the result is a detail object: the workload's named
metrics, per-operation sample counts and tails, input sizes and digests.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    a = p.parse_args()

    b = subprocess.run([sys.executable, os.path.join(HERE, "build.py")],
                       stdout=subprocess.PIPE, text=True)
    if b.returncode != 0:
        sys.exit(b.returncode or 1)
    classpath = b.stdout.strip().splitlines()[-1]

    bench = os.path.join(ROOT, ".bench_build")
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    work = os.path.join(bench, "work", run_id)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(bench, "logs", run_id + ".log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    if a.trace == "1":
        cmd += ["--spans", os.path.join(bench, "traces", run_id + ".json")]

    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                sys.exit(f"run: timed out after {RUN_TIMEOUT_S} s (log: {log_path})")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = {}
    for line in out.splitlines():
        tag, _, body = line.partition(" ")
        if tag in ("GRAFTBENCH-DETAIL", "GRAFTBENCH-RESULT"):
            lines[tag] = body
    if proc.returncode != 0 or "GRAFTBENCH-RESULT" not in lines:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"run: workload exited with code {proc.returncode} and no result")
    os.remove(log_path)
    result = json.loads(lines["GRAFTBENCH-RESULT"])
    if "GRAFTBENCH-DETAIL" in lines:
        print("detail " + lines["GRAFTBENCH-DETAIL"])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
