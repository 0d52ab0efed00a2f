#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program and the
benchmark (perfbench/build.py) and records a class-data archive of them
(see `archive`); later runs reuse both while the sources are unchanged.
The JVM's log goes to .bench_build/logs, the per-run detail (samples,
tails, host telemetry, spans) to .bench_build/out.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["medallion_dag", "cow_mix"]
RUN_TIMEOUT_S = 170
TRAIN_TIMEOUT_S = 400
# Spark on JDK 17 outside spark-submit needs these (the same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java(cp, work, main_class, args, flags=()):
    # no perf-data file: the JVM would write it outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", *flags,
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join(cp), main_class, *args]


def fresh(work):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))


def archive(cp, base, work, logs):
    """A class-data archive of the classes a run loads, made once per
    build by a training JVM (perfbench.Train: every workload's set-up).
    With it a JVM maps those classes instead of loading and verifying
    each from the jars, which takes several seconds off every set-up.
    A failed training is recorded and the runs go on without an archive.
    """
    h = hashlib.sha256()
    for j in cp:
        h.update(j.encode())
        h.update(str(os.path.getsize(j)).encode())
    for j in cp[:2]:  # the benchmark's and the program's jars
        with open(j, "rb") as f:
            h.update(f.read())
    path = os.path.join(base, "cds", h.hexdigest()[:16] + ".jsa")
    if os.path.exists(path):
        return path
    if os.path.exists(path + ".failed"):
        return None
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fresh(work)
    tmp = path + ".tmp"
    print("perfbench: recording the class-data archive", file=sys.stderr)
    with open(os.path.join(logs, "train.log"), "w") as log:
        proc = subprocess.Popen(
            java(cp, work, "perfbench.Train", ["--work", work],
                 [f"-XX:ArchiveClassesAtExit={tmp}"]),
            stdout=log, stderr=log, start_new_session=True)
        try:
            code = proc.wait(timeout=TRAIN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = -1
    shutil.rmtree(work, ignore_errors=True)
    if code == 0 and os.path.exists(tmp):
        os.replace(tmp, path)
        return path
    if os.path.exists(tmp):
        os.remove(tmp)
    open(path + ".failed", "w").close()
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build.build()
    root = os.getcwd()
    base = os.path.join(root, build.BUILD)
    work = os.path.join(base, "work")
    logs = os.path.join(base, "logs")
    os.makedirs(logs, exist_ok=True)
    jsa = archive(cp, base, work, logs)
    fresh(work)
    cmd = java(cp, work, "perfbench.Main",
               ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work],
               [f"-XX:SharedArchiveFile={jsa}"] if jsa else [])
    log = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"perfbench: {a.workload} exceeded {RUN_TIMEOUT_S} s; log: {log}",
                  file=sys.stderr)
            return 1
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write("".join(l + "\n" for l in lines[-20:]))
        print(f"perfbench: {a.workload} produced no result (exit {proc.returncode}); "
              f"log: {log}", file=sys.stderr)
        return 1
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
