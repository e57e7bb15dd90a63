#!/usr/bin/env python3
"""Run one workload of the CDC benchmark and print its result.

    python3 perfbench/run.py --workload cdc_tail --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. The first run builds the engine
and the benchmark program with sbt (perfbench/build.sbt depends on the
checkout's own build) and caches the runtime classpath under
.bench_build/perfbench/, keyed by a hash of every source file; later
runs start the benchmark JVM directly. The last line of standard output is
the result object: {"correct", "attempted", "failed", "metrics"}.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("cdc_tail", "dedup_ingest")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600
# A fixed, pre-touched heap: peak RSS then moves with native and
# off-heap memory rather than with the collector's sizing decisions.
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these opens (the set
# org.apache.spark.launcher.JavaModuleOptions lists).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, relative to ROOT, sorted."""
    out = [f for f in ("build.sbt", "perfbench/build.sbt")
           if os.path.isfile(os.path.join(ROOT, f))]
    for d in ("project", "perfbench/project"):
        full = os.path.join(ROOT, d)
        if os.path.isdir(full):
            out += [f"{d}/{f}" for f in os.listdir(full)
                    if os.path.isfile(os.path.join(full, f))]
    for tree in ("src/main", "perfbench/src/main"):
        for d, _, files in os.walk(os.path.join(ROOT, tree)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:24]


def run_bounded(cmd, limit, **kw):
    """Run cmd in its own process group; kill the group past `limit` s."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {limit} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def classpath():
    """Build once per source hash; return the benchmark's runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources under {ROOT} (build.sbt, src/main/scala)")
    files = source_files()
    cp_file = os.path.join(STATE, f"classpath-{source_hash(files)}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as fh:
        code, _ = run_bounded(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export Runtime/fullClasspath"],
            BUILD_LIMIT_S, cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cp = lines[-1] if lines else ""
    if code != 0 or ".jar" not in cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {code}); log in {log}")
    for old in os.listdir(STATE):
        if old.startswith("classpath-"):
            os.remove(os.path.join(STATE, old))
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = classpath()
    os.makedirs(STATE, exist_ok=True)
    out = os.path.join(STATE, f"result-{a.workload}.json")
    if os.path.exists(out):
        os.remove(out)
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--root", ROOT, "--out", out])
    log = os.path.join(STATE, f"run-{a.workload}.log")
    t0 = time.time()
    with open(log, "w") as fh:
        code, stdout = run_bounded(cmd, RUN_LIMIT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                   stderr=fh, stdin=subprocess.DEVNULL, text=True)
    sys.stdout.write(stdout)
    if code != 0 or not os.path.isfile(out):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM exited {code} after {time.time() - t0:.1f} s; log in {log}")
    with open(out) as fh:
        result = json.load(fh)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
