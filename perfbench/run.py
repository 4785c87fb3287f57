#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload repl_trickle --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --pin     # re-pin the llm_corpus checksums

Builds first (perfbench/build.py) when the sources changed. Everything a
run writes goes under .bench_build/ in the checkout and is removed at the
end. Exit code 0 only when every operation succeeded and every correctness
gate passed; a failing run still prints its result line first.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["repl_trickle", "llm_corpus"]
TIMEOUT_S = 170
WORK = os.path.join(build.OUT, "work")
PINS = os.path.join(build.ROOT, "perfbench", "pins.json")

# Spark on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java(main, args, timeout=TIMEOUT_S):
    """Run `main` on the built classes with a fresh work dir; returns
    (exit code, stdout), or (None, "") after killing it on timeout."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java", "-Xmx4g", "-Xss8m", f"-Djava.io.tmpdir={WORK}/tmp",
            f"-Dderby.system.home={WORK}", f"-Dderby.stream.error.file={WORK}/derby.log",
            "-Dspark.ui.enabled=false"] + opens +
           ["-cp", build.CLASSES + os.pathsep + build.classpath(), main] + args)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true", help="rewrite perfbench/pins.json")
    a = ap.parse_args()
    if not a.pin and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    rc = build.build()
    if rc != 0:
        return rc
    if a.pin:
        rc, _ = java("graft.perfbench.Main", ["--work", WORK, "--write-pins", PINS], timeout=900)
        shutil.rmtree(WORK, ignore_errors=True)
        return 1 if rc is None else rc

    result = os.path.join(WORK, "result.json")
    rc, out = java("graft.perfbench.Main",
                   ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--work", WORK, "--result", result, "--pins", PINS])
    for line in out.splitlines():
        print(line, file=sys.stdout if line.startswith("{") else sys.stderr)
    line = None
    if os.path.exists(result):
        with open(result) as f:
            line = f.read().strip()
    shutil.rmtree(WORK, ignore_errors=True)
    if rc is None:
        print(f"perfbench: {a.workload} exceeded {TIMEOUT_S}s", file=sys.stderr)
        return 3
    if not line:
        print(f"perfbench: {a.workload} produced no result (exit {rc})", file=sys.stderr)
        return rc or 4
    print(line, flush=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
