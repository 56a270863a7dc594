#!/usr/bin/env python3
"""Run one benchmark workload and print its result JSON as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--size full|tiny]

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (the benchmark's own build in this
directory depends on the repository's build one level up) and caches the
runtime classpath under .bench_build/perfbench, keyed by a hash of every
source and build file; later runs start the JVM directly. Every file the
benchmark writes stays under .bench_build/perfbench, and each run's
working directory is deleted when the run ends.

With --trace 1 the run also writes its spans to
.bench_build/perfbench/traces/<workload>-<seed>.jsonl and prints the
per-layer report of perfbench/trace_report.py before the result line.
"""

import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880
JVM_HEAP = "3g"

# Spark on JDK 17 needs these when started outside spark-submit
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file whose content decides the build, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build_stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    return env


def classpath():
    """The runtime classpath of a build of the current sources."""
    stamp_file = OUT / f"classpath-{build_stamp()}.txt"
    if stamp_file.exists():
        return stamp_file.read_text().strip()
    print("[perfbench] building program and benchmark with sbt", file=sys.stderr)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export perfbench/Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                           timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout)
        fail("build failed", 3)
    cp = lines[-1].strip()
    OUT.mkdir(parents=True, exist_ok=True)
    for old in OUT.glob("classpath-*.txt"):
        old.unlink()
    stamp_file.write_text(cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, help="rates-polite, corpus-warc or web-drain")
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    a = ap.parse_args()

    # the program is built from the checkout's sources; without them there
    # is nothing to measure
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("no program sources next to the benchmark (build.sbt, src/main/scala/graft)")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    cp = classpath()
    start = time.monotonic()
    work = OUT / f"run-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--size", a.size,
            "--work", str(work)])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = lines[-1] if lines else ""
    for line in lines[:-1]:
        print(line)
    print(f"[perfbench] run took {time.monotonic() - start:.1f} s", file=sys.stderr)
    if proc.returncode != 0 or not result.startswith("{"):
        if result:
            print(result, file=sys.stderr)
        fail(f"benchmark exited with code {proc.returncode}", proc.returncode or 1)
    if a.trace == "1":
        spans = OUT / "traces" / f"{a.workload}-{a.seed}.jsonl"
        sys.stdout.flush()
        subprocess.run([sys.executable, str(HERE / "trace_report.py"), str(spans)], check=False)
    print(result, flush=True)


if __name__ == "__main__":
    main()
