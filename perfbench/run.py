#!/usr/bin/env python3
"""graft benchmark runner.

Builds the engine from source together with the harness in this directory
(an sbt project of its own, see build.sbt), then runs one workload in one
JVM and relays its output. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload replay_backlog --seed 1 --seconds 10 --trace 0

Every file the run writes lives under perfbench/.work (build stamp, input
cache, scratch tables, Spark local dirs, traces).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("replay_backlog", "read_mor_layered", "query_suite")
MAIN_CLASS = "graft.perfbench.Main"
JVM_DEADLINE_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings (the
# root build passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every file the build reads: engine sources and the harness."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            files = [r]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(r)
                           for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt once per source state; returns
    the runtime classpath."""
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log("building engine + harness with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.server.forcestart=false",
         "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = proc.stdout.strip().splitlines()
    cp = lines[-1].strip() if lines else ""
    if proc.returncode != 0 or "perfbench" not in cp:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        raise SystemExit("engine sources not found next to perfbench/ "
                         "(run from the root of a graft checkout)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise SystemExit("sbt and java are required")
    os.makedirs(WORK, exist_ok=True)
    cp = build()

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms4g", "-Xmx4g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, MAIN_CLASS,
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", WORK]
    # own process group: a timeout or signal takes Spark's threads with it
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    # a run must end within 180 s of the JVM's start: kill a hung one
    watchdog = threading.Timer(JVM_DEADLINE_S, os.killpg,
                               (proc.pid, signal.SIGKILL))
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{\"correct\""):
                result = line
            else:
                print(line, flush=True)
        rc = proc.wait()
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        watchdog.cancel()
        shutil.rmtree(tmp, ignore_errors=True)
    if result is None:
        raise SystemExit(f"benchmark JVM exited {rc} without a result")
    print(result, flush=True)
    if rc != 0 or not json.loads(result)["correct"]:
        sys.exit(rc or 1)


if __name__ == "__main__":
    main()
