#!/usr/bin/env python3
"""Run one workload of graft's retrieval benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline, into perfbench/target and
.bench_build/); later runs reuse that build until a source file changes.
The JVM gets local[nproc], a maximum heap sized from MemTotal the way the
repo's tier-1 command sizes it, and a fresh work dir that is deleted
afterwards. The last line of standard output is the result JSON; the exit
code is non-zero when the build, a run step or a correctness check fails.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(BUILD, "build.stamp")
JAVA_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: engine sources, harness sources, build files."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs.sort()
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _die_with_parent():
    """Child pre-exec hook: get SIGKILL when this launcher dies (Linux)."""
    try:
        import ctypes
        ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except (OSError, AttributeError):
        pass


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group and wait for it. On timeout or on
    SIGTERM/SIGINT/SIGHUP to this launcher, kill the group and wait."""
    p = subprocess.Popen(cmd, start_new_session=True, preexec_fn=_die_with_parent, **kw)

    def stop(*_):
        raise KeyboardInterrupt

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGHUP)}
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        for s, h in old.items():
            signal.signal(s, h)
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's global base (and with it the launcher's boot dir), its temp files
    # and no hsperfdata: the build writes only inside the checkout
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt')}",
           "-J-XX:-UsePerfData", f"-J-Djava.io.tmpdir={tmp}",
           "compile", "writeClasspath"]
    print("run.py: building engine and harness with sbt ...", file=sys.stderr)
    with open(log, "w") as out:
        rc = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env,
                         stdin=subprocess.DEVNULL, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {rc}); log in {log}", 3)
    with open(STAMP, "w") as f:
        f.write(stamp)


def heap_gb():
    """MemTotal/2 in GiB, clamped to [2, 8] — tier-1's SPARK_DRIVER_MEM rule."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}: run from a full checkout", 2)
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    gb = heap_gb()
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{gb}g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}",
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work,
            "--trace-dir", os.path.join(BUILD, "trace")]
    try:
        rc = run_bounded(cmd, JAVA_TIMEOUT_S, cwd=work, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"workload {a.workload} exceeded {JAVA_TIMEOUT_S} s", 4)
    sys.exit(rc)


if __name__ == "__main__":
    main()
