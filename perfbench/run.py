#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

Run from the repository root. The first run compiles the engine's sources
together with the benchmark (sbt, in perfbench/); later runs start the JVM
directly on the compiled classes. Scratch files go to .bench_work/ and are
removed at exit; each run's artifact (and, traced, its spans) is kept in
.bench_out/. `--workload all` runs every workload in turn and prints one
result line per workload.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
ENGINE_SRC = ROOT / "src" / "main"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "perfbench.stamp"
WORKLOADS = ["ingest", "console", "dedup_release"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, BENCH / "src" / "main", BENCH / "build.sbt", BENCH / "project"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*")
                                               if p.is_file() and "target" not in p.parts)
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == digest:
        return
    log("compiling the engine and the benchmark (sbt)")
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "Compile/copyResources"],
                          cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.exit(f"[perfbench] build failed with code {proc.returncode}")
    STAMP.write_text(digest)
    log(f"compiled in {time.time() - t0:.1f} s")


def run_one(workload, seed, seconds, trace, deadline):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        sys.exit("[perfbench] SPARK_HOME is not set")
    work = ROOT / ".bench_work" / f"{workload}-{seed}-{os.getpid()}"
    out = ROOT / ".bench_out"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    out.mkdir(exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}{os.pathsep}{Path(spark_home) / 'jars' / '*'}",
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", str(work), "--out", str(out)]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        sys.exit(f"[perfbench] {workload} did not finish in time")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if not lines:
        sys.exit(f"[perfbench] {workload} printed no result (exit code {proc.returncode})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"[perfbench] malformed result line: {lines[-1]}")
    return result, proc.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated runner still stops its JVM (run_one's finally kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not ENGINE_SRC.is_dir():
        sys.exit(f"[perfbench] engine sources not found under {ENGINE_SRC.relative_to(ROOT)}")
    build()
    if a.workload != "all":
        result, code = run_one(a.workload, a.seed, a.seconds, a.trace,
                               time.time() + RUN_TIMEOUT_S)
        print(json.dumps(result))
        sys.exit(code)
    worst = 0
    for w in WORKLOADS:
        result, code = run_one(w, a.seed, a.seconds, a.trace, time.time() + RUN_TIMEOUT_S)
        for name, m in sorted(result["metrics"].items()):
            print(f"{w:14s} {name:34s} {m['value']!s:>22} {m['unit']}")
        print(json.dumps({"workload": w, **result}))
        worst = max(worst, code, 0 if result["correct"] else 1)
    sys.exit(worst)


if __name__ == "__main__":
    main()
