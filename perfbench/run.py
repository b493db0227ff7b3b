#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload rag_query --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt) and caches the
classpath under .bench_build/perfbench/, keyed on the sources; later runs
start the JVM directly. The last line on stdout is the result object
{"correct", "attempted", "failed", "metrics"}; everything else goes to
stderr. Run records, spans and count fingerprints are written to
.bench_build/perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("rag_query", "ingest_churn", "curate_batch")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_key(root):
    """Hash of every input of the build, so an edit forces a rebuild."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/main"]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_bounded(cmd, cwd, timeout, stdout):
    """Run cmd in its own process group; kill the group on timeout or when
    this script is terminated, and wait for it, so no process outlives
    the call."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True,
                         text=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout} s", 4)
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, signal.SIG_DFL)
    return p.returncode, out


def classpath(root, work):
    key = source_key(root)
    cached = os.path.join(work, f"classpath-{key}.txt")
    if os.path.isfile(cached):
        with open(cached) as fh:
            return fh.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it builds the engine", 3)
    os.environ.setdefault("COURSIER_MODE", "offline")
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        os.path.join(root, "perfbench"), BUILD_TIMEOUT_S, subprocess.PIPE)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out)
        fail("build failed", 3)
    for old in os.listdir(work):
        if old.startswith("classpath-"):
            os.remove(os.path.join(work, old))
    with open(cached, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail(f"no engine sources under {root}: run from a full checkout")
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    cp = classpath(root, work)

    tmp = os.path.join(work, "tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace,
            "--out", os.path.join(work, "out"), "--tmp", tmp]
    try:
        code, out = run_bounded(cmd, root, RUN_TIMEOUT_S, subprocess.PIPE)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if code != 0 or not lines:
        fail(f"run exited with {code}", code or 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 5)
    print(lines[-1])


if __name__ == "__main__":
    main()
