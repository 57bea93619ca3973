#!/usr/bin/env python3
"""Build the program with the benchmark harness, then run one benchmark.

Usage, from the repository root:

    python3 perfbench/run.py --workload route_serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke      # every workload once, tiny, checked
    python3 perfbench/run.py --selftest   # wrong answers must count as failed

The build (sbt, offline) compiles the repository's `src/main/scala` together
with `perfbench/src` into `.bench_build/`; it is skipped while no source file
changed; sbt also keeps its own state under `perfbench/target` and
`perfbench/project/target`. Everything a run writes stays under
`.bench_build/`. The last line of standard output is the JSON result.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main")
INPUTS = [PROGRAM_SOURCES, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
          os.path.join(HERE, "project", "build.properties")]

# Spark on JDK 17 needs these outside spark-submit (as in the root build.sbt).
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    for top in INPUTS:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def git_commit():
    """The checkout's commit, or "none" where it is not a git repository."""
    try:
        p = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "none"
    return p.stdout.strip() if p.returncode == 0 else "none"


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s", 3)
    return proc.returncode, out


def classpath(stamp):
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "wb") as log:
        code, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
             "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE, stderr=log)
    lines = out.decode(errors="replace").splitlines()
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); see {os.path.join(BUILD, 'build.log')}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.smoke or a.selftest):
        fail("give --workload NAME, --smoke or --selftest")
    if not os.path.isdir(os.path.join(PROGRAM_SOURCES, "scala")):
        fail(f"no program sources at {PROGRAM_SOURCES}; run from a full checkout")

    stamp = source_hash()
    cp = classpath(stamp)
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)  # one run's data at a time
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if a.smoke or a.selftest:
        args = ["--selftest" if a.selftest else "--smoke"]
        name, timeout = args[0].lstrip("-"), BUILD_TIMEOUT_S
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace]
        name, timeout = f"{a.workload}-{a.seed}-trace{a.trace}", RUN_TIMEOUT_S
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log_path = os.path.join(BUILD, "logs", f"{name}.log")
    cmd = ["java", *OPENS, f"-Xmx{HEAP}", "-Xss64m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main", *args,
           "--work", work, "--source-hash", stamp[:16], "--commit", git_commit()]
    with open(log_path, "wb") as log:
        code, out = run_bounded(cmd, timeout, cwd=ROOT, stdout=subprocess.PIPE, stderr=log)
    text = out.decode(errors="replace")
    sys.stdout.write(text)
    if code != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"benchmark exited with {code}; log in {log_path}", code or 1)


if __name__ == "__main__":
    main()
