#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark (the program's sources plus perfbench/src) with sbt the
first time, or whenever a source file changed, then launches one JVM that
sets up the workload, runs its closed loop and checks every output. The
build lands in perfbench/target; each run works in perfbench/work (removed
afterwards) and leaves its full record in perfbench/runs.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("tracking_lake", "hybrid_index")  # as perfbench.Workloads.names
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
JVM_HEAP = "2g"
# Spark 4 on JDK 17 outside spark-submit needs these opens
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Run `cmd` in its own process group; kill the whole group at `limit_s`."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {limit_s}s and was stopped", 3)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def build(digest):
    """Compile with sbt once per source digest; returns the runtime classpath."""
    stamp = os.path.join(BENCH, "target", "bench-build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("digest") == digest:
            return s["classpath"]
    print("[perfbench] building (sbt compile)", file=sys.stderr)
    t = time.time()
    # keep sbt's global state, temp files, sockets and JNA extraction inside the checkout
    tmp = os.path.join(BENCH, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    sbt_opts = " ".join([os.environ.get("SBT_OPTS", ""), "-XX:-UsePerfData",
                         "-Dsbt.global.base=" + os.path.join(BENCH, "target", "sbt-global"),
                         "-Djava.io.tmpdir=" + tmp, "-Djna.tmpdir=" + tmp, "-Dsbt.ipcsocket.tmpdir=" + tmp,
                         "-Dsbt.server.autostart=false"])
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=BENCH, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
        env=dict(os.environ, SBT_OPTS=sbt_opts.strip(), TMPDIR=tmp,
                 JAVA_TOOL_OPTIONS=(os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()),
        text=True)
    if code != 0:
        sys.stderr.write(out[-6000:])
        fail(f"build failed (sbt exit {code})", 4)
    cp = [l for l in out.splitlines() if l.endswith(".jar") and os.pathsep in l and not l.startswith("[")]
    if not cp:
        fail("build printed no classpath", 4)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1]}, fh)
    print(f"[perfbench] built in {time.time() - t:.0f}s", file=sys.stderr)
    return cp[-1]


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    # a SIGTERM unwinds through run_bounded, which stops the JVM's whole group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not 1 <= a.seconds <= 120:
        fail("--seconds must be between 1 and 120")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"program sources not found under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")

    t0 = time.time()
    digest = source_digest()
    tb = time.time()
    classpath = build(digest)
    t0 += time.time() - tb  # a build may use the first run's longer allowance
    work = os.path.join(BENCH, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--runs", os.path.join(BENCH, "runs"),
        "--commit", git_commit(), "--source-digest", digest,
    ]
    try:
        code, out = run_bounded(cmd, RUN_LIMIT_S - (time.time() - t0), cwd=ROOT, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, env=dict(os.environ, TMPDIR=os.path.join(work, "tmp")),
                                text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        fail(f"benchmark JVM exited with {code}", code or 1)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("benchmark printed no result line", 1)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result keys {sorted(result)}", 1)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
