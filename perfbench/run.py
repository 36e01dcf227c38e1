#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload hvac_power --seed 1 --seconds 5 --trace 0

Builds the engine and the harness from source with sbt when the
sources changed since the last build (perfbench/target), then runs the
harness in one JVM. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. Logs and the
run artifacts (diagnostics, spans) go to perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("hvac_power", "corpus_curation", "ingest_epochs")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and
    wait for it, so nothing it started outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise


def build():
    """Returns the classpath and the JVM flags the build wrote."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    opts_file = os.path.join(TARGET, "java-options.txt")
    stamp_file = os.path.join(TARGET, "sources.sha256")
    want = stamp()
    if all(map(os.path.exists, (cp_file, opts_file, stamp_file))):
        with open(stamp_file) as fh, open(cp_file) as cp:
            # the classpath is absolute: a moved checkout builds again
            if fh.read().strip() == want and os.path.isdir(cp.read().split(os.pathsep)[0]):
                return cp_file, opts_file
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        code, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                              BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(cp_file) or not os.path.exists(opts_file):
        fail(f"build failed (exit {code}); see {os.path.relpath(log, ROOT)}", 1)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp_file, opts_file


def main():
    # a SIGTERM unwinds through run_bounded, which kills and reaps the child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")

    cp_file, opts_file = build()
    with open(cp_file) as fh:
        classpath = fh.read().strip()
    with open(opts_file) as fh:
        java_opts = fh.read().split()
    tmp = os.path.join(OUT, "tmp")
    logs = os.path.join(OUT, "logs")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    # serial GC: no parallel GC workers spinning while the host steals
    # cores, which would inflate the CPU-time metrics. A fixed heap and
    # metaspace: a heap grown on demand ran a 0.3-0.5 s full collection
    # in every third operation or so, the largest part of the
    # operation-to-operation spread.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:MetaspaceSize=256m", "-XX:+UseSerialGC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"] + java_opts
    cmd += ["-cp", classpath, "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--out", OUT]
    log = os.path.join(logs, f"{run_id}.log")
    with open(log, "w") as fh:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, stderr=fh,
                                stdin=subprocess.DEVNULL, text=True)
    if code is None:
        fail(f"run timed out after {RUN_TIMEOUT_S} s; see {os.path.relpath(log, ROOT)}", 1)
    result = None
    for line in reversed(out.strip().splitlines()):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and set(obj) == {"correct", "attempted", "failed", "metrics"}:
            result = obj
            break
    if code != 0 or result is None:
        fail(f"run failed (exit {code}); see {os.path.relpath(log, ROOT)}", 1)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
