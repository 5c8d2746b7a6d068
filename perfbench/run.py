#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 10 --trace 0

Builds the benchmark (graft's main sources plus the harness in
perfbench/src) with sbt on first use, then runs one JVM that sets up,
warms up, measures and checks the workload. Everything the run writes
(build stamp, generated data, per-run table copies, spans) lands under
.bench_build/ in the current directory. The last stdout line is the
result JSON; see perfbench/README.md for the metrics.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
HOME = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(HOME, "classpath.txt")
STAMP = os.path.join(HOME, "build.stamp")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Fingerprint of every input of the build: a change rebuilds."""
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        if not os.path.exists(top):
            fail(f"missing build input {os.path.relpath(top, ROOT)}: run from the repository root")
        walk = ([(os.path.dirname(top), [], [os.path.basename(top)])] if os.path.isfile(top)
                else os.walk(top))
        for d, dirs, files in walk:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"timed out after {timeout}s: {' '.join(cmd[:3])}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return open(CLASSPATH).read().strip(), stamp
    os.makedirs(HOME, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp, stamp


def main():
    # a SIGTERM must still reach the child's process group (run_bounded
    # kills it on any exception, SystemExit included)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["lake_ingest", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--ops", type=int, default=0,
                    help="run exactly this many timed ops instead of --seconds")
    ap.add_argument("--record", action="store_true",
                    help="record the pipeline result hashes instead of checking them")
    a = ap.parse_args()

    cp, stamp = build()
    # a fixed-size heap (no resizing during a run) and the throughput
    # collector (no concurrent GC threads competing with the task slots)
    tmp = os.path.join(HOME, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--home", HOME, "--stamp", stamp[:12],
            "--expected", os.path.join(HERE, "expected", "pipeline_hashes.json")]
    if a.ops:
        cmd += ["--ops", str(a.ops)]
    if a.record:
        cmd += ["--record", "1"]
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out[-4000:])
        fail(f"benchmark JVM exited with {code} and no result")
    for l in lines:
        print(l)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
