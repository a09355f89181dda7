#!/usr/bin/env python3
"""Run one workload of the ER benchmark.

    python3 perfbench/run.py --workload <er_batch|er_fold> --seed <n> \
        --seconds <s> --trace <0|1>

Run it from the root of a checkout. It compiles the engine (src/main/scala)
together with the benchmark (perfbench/src/main/scala) with sbt when the
sources are newer than the last build, then runs perfbench.ErBench in one
local[4] Spark JVM and relays its output. The last line of standard output
is the JSON result. Everything it writes goes under .bench_build/perfbench
in the checkout; the JVM's own log goes to a file there. SPARK_HOME names
the Spark distribution whose jars the build and the run use.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
ENGINE_SRC = ROOT / "src" / "main" / "scala" / "graft"
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = OUT / "build.stamp"
HEAP = "3g"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(code, message):
    print(f"perfbench: {message}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    inputs = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for src in (ROOT / "src" / "main" / "scala", BENCH / "src" / "main" / "scala"):
        inputs.extend(src.rglob("*.scala"))
    return inputs


def build():
    """Compile with sbt unless the last build is newer than every source."""
    newest = max(p.stat().st_mtime for p in build_inputs())
    if STAMP.exists() and CLASSES.is_dir() and STAMP.stat().st_mtime >= newest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    started = time.time()
    try:
        done = subprocess.run(
            ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "compile"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(3, f"build did not finish in {BUILD_TIMEOUT_S} s")
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-4000:])
        fail(3, f"build failed with exit code {done.returncode}")
    STAMP.write_text(f"built in {time.time() - started:.1f} s\n")
    print(f"build: sbt compile {time.time() - started:.1f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    if not ENGINE_SRC.is_dir() or not (BENCH / "build.sbt").is_file():
        fail(2, f"run from the root of a relikspark checkout ({ENGINE_SRC} not found)")
    if not os.environ.get("SPARK_HOME"):
        fail(2, "SPARK_HOME must point at the Spark distribution to run against")
    spark_jars = Path(os.environ["SPARK_HOME"]) / "jars"
    OUT.mkdir(parents=True, exist_ok=True)
    build()

    for stale in ("work", "spark-local", "tmp"):
        shutil.rmtree(OUT / stale, ignore_errors=True)
    (OUT / "tmp").mkdir()
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += [f"-Djava.io.tmpdir={OUT / 'tmp'}", "-Dspark.ui.enabled=false",
            "-cp", f"{CLASSES}{os.pathsep}{spark_jars / '*'}", "perfbench.ErBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--out", str(OUT)]
    log_path = OUT / f"jvm-{args.workload}-seed{args.seed}-trace{args.trace}.log"
    env = dict(os.environ, MALLOC_ARENA_MAX="2")

    # a terminated benchmark still stops its JVM (see the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    last = ""
    timed_out = threading.Event()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        watchdog = threading.Timer(RUN_TIMEOUT_S, lambda: (timed_out.set(), proc.kill()))
        watchdog.start()
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                if line.strip():
                    last = line
                print(line, flush=True)
            proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
            proc.wait()
    if timed_out.is_set():
        fail(4, f"run did not finish in {RUN_TIMEOUT_S} s (log: {log_path})")
    if proc.returncode != 0:
        fail(proc.returncode, f"benchmark exited with {proc.returncode} (log: {log_path})")
    try:
        result = json.loads(last)
    except json.JSONDecodeError:
        fail(5, f"last output line is not a JSON result: {last!r}")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(5, f"unexpected result keys: {sorted(result)}")


if __name__ == "__main__":
    main()
