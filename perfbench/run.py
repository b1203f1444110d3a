#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of the checkout. The first run builds the program and the
harness from source with sbt (offline) and caches the classpath under
.bench_build/perfbench; later runs reuse it until a source file changes.
The harness JVM prints a report and, as its last line, the result JSON.
"""
import argparse
import hashlib
import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = pathlib.Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build" / "perfbench"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175

# Spark 4 on JDK 17 outside spark-submit needs these (see the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             BENCH / "build.sbt", BENCH / "project", BENCH / "src" / "main"]
    out = set()
    for r in roots:
        if r.is_file():
            out.add(r)
        elif r.is_dir():
            out.update(p for p in r.rglob("*") if p.is_file() and "target" not in p.parts)
    return sorted(out)


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt(*tasks, timeout):
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks]
    try:
        return subprocess.run(cmd, cwd=BENCH, env=sbt_env(), capture_output=True, text=True,
                              timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"sbt {' '.join(tasks)} did not finish in {timeout} s")


def classpath():
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    want = stamp()
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == want:
        return cp_file.read_text().strip()
    res = sbt("export perfbench/Runtime/fullClasspath", timeout=BUILD_TIMEOUT_S)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        fail("build failed")
    lines = [l for l in res.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(want)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("run from the root of a checkout of the program (no build.sbt or src/main/scala here)")
    if a.self_test:
        res = sbt("perfbench/test", timeout=BUILD_TIMEOUT_S)
        sys.stdout.write(res.stdout[-6000:])
        sys.exit(res.returncode)
    if not a.workload:
        fail("--workload is required")
    cp = classpath()
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx2g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(BUILD)]
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"workload did not finish in {RUN_TIMEOUT_S} s")
    sys.exit(code)


if __name__ == "__main__":
    main()
