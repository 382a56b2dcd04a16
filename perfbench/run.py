#!/usr/bin/env python3
"""Benchmark of the reporting pipeline and the query surface.

    python3 perfbench/run.py --workload backfill|steady|query_sweep \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine together
with the benchmark (sbt, offline) into perfbench/target and records the
runtime classpath under perfbench/.work; later runs reuse it until a
source file changes. The last line of stdout is one JSON object with the
keys correct, attempted, failed and metrics. The exit code is 0 only when
every operation succeeded and every output check held.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("backfill", "steady", "query_sweep")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# The JDK packages Spark reflects into; build.sbt opens the same list for the tests.
ADD_OPENS_FILE = os.path.join(BENCH, "add-opens.txt")


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """The runtime classpath, building first when the sources changed."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fc:
                    return fc.read().strip()
    os.makedirs(WORK, exist_ok=True)
    print("perfbench: building engine and benchmark (sbt, offline)", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = out.stdout.strip().splitlines()
    cp = lines[-1].strip() if lines else ""
    if out.returncode != 0 or ".jar" not in cp:
        sys.stderr.write(out.stdout[-4000:])
        die("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be positive")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no engine sources under {ROOT}; run from the root of a full checkout")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            die(f"{tool} is not on PATH")

    cp = build()
    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}"]
    with open(ADD_OPENS_FILE) as fh:
        for p in fh.read().split():
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--root", ROOT,
            "--bench", os.path.relpath(BENCH, ROOT)]

    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        proc.wait()
        die(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s", 3)
    finally:
        stop()
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for l in lines[:-1] if result else lines:
        print(l, file=sys.stderr)
    if result is None:
        die(f"{a.workload} printed no result (exit {proc.returncode})", proc.returncode or 1)
    print(result)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
