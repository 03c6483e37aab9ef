#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload <tier_cycle|curation_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine sources of this checkout (src/main) together with the
benchmark (perfbench/src) through perfbench/build.sbt, then runs one workload
in a fresh JVM with pinned flags. The build is reused only while a SHA-256 over
every build input matches the one recorded next to it, so a run never measures
classes compiled from another tree. Everything a run writes lives under
.perfbench/ at the checkout root; its scratch directory is removed at exit.
The last line of standard output is the JSON result.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main")
STATE = os.path.join(ROOT, ".perfbench")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("tier_cycle", "curation_mix")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
MAX_CORES = 4
HEAP = "3g"
YOUNG = "1g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file the build reads from this checkout, in a stable order."""
    roots = [ENGINE, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
        h.update(b"\0")
    return h.hexdigest()


def build():
    """Return the runtime classpath, compiling first unless the recorded
    stamp matches this tree."""
    stamp = source_stamp()
    try:
        with open(STAMP) as fh:
            rec = json.load(fh)
        cp = rec["classpath"]
        if rec["stamp"] == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    except (OSError, ValueError, KeyError):
        pass
    if os.path.exists(STAMP):
        os.remove(STAMP)
    tmp = os.path.join(STATE, "build-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip()
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(HERE, "target")
    cps = [l.strip() for l in p.stdout.splitlines() if l.strip().startswith(classes)]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    print(f"# build compiled in {time.time() - t0:.0f}s", file=sys.stderr)
    with open(STAMP, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, fh)
    return cps[-1]


def sweep_stale_runs():
    """Remove scratch dirs of runs that were killed before their cleanup."""
    if not os.path.isdir(STATE):
        return
    for name in os.listdir(STATE):
        if name.startswith("run-"):
            try:
                os.kill(int(name[4:]), 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(STATE, name), ignore_errors=True)
            except (ValueError, PermissionError):
                pass


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE}")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"'{tool}' not on PATH")
    sweep_stale_runs()
    classpath = build()

    nproc = len(os.sched_getaffinity(0))
    cores = min(MAX_CORES, nproc)
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    jtmp = os.path.join(run_dir, "jvm-tmp")
    os.makedirs(jtmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC",
            f"-XX:ParallelGCThreads={cores}", "-XX:-UseAdaptiveSizePolicy", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={jtmp}", f"-Dderby.system.home={run_dir}/derby"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.bench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--tmp", run_dir,
              "--trace-out", os.path.join(STATE, "trace"),
              "--cores", str(cores), "--nproc", str(nproc)])
    proc = None

    def stop(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    try:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, text=True)
        timed_out = threading.Event()

        def expire():
            timed_out.set()
            proc.kill()

        watchdog = threading.Timer(RUN_TIMEOUT_S, expire)
        watchdog.start()
        try:
            for line in proc.stdout:
                sys.stdout.write(line)
                sys.stdout.flush()
            code = proc.wait()
        finally:
            watchdog.cancel()
        if timed_out.is_set():
            fail(f"run exceeded {RUN_TIMEOUT_S}s")
        return code
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
