#!/usr/bin/env python3
"""Repository benchmark: builds the program and the benchmark from source
with sbt (once per source state), then runs one workload in one JVM.

    python3 perfbench/run.py --workload serve|commit --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest            # comparator checks
    python3 perfbench/run.py --failures --seed N   # list WAND failures

A run prints, as the last line of stdout, one JSON object with the keys
correct, attempted, failed and metrics. Everything it writes stays under
perfbench/target/ and the sbt build's own target directories; each run
removes its work directory.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch")
BUILD_TIMEOUT_S = 800
# a run's JVM is stopped after --seconds plus this allowance: set-up, the
# round under way at the deadline and the checks take about 50 s today, so a
# change that makes them several times slower is still measured
RUN_ALLOWANCE_S = 600
HEAP = "-Xmx3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file whose change must trigger a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"{cmd[0]} exceeded {timeout} s and was stopped")
        return None, None
    return proc.returncode, out


def ensure_built():
    """Compiles the program and the benchmark unless the last build saw the
    same sources; returns (classpath, jvm options)."""
    want = stamp()
    stamp_file = os.path.join(LAUNCH, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == want):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        # no JVM perf-data file and no sbt server socket outside the tree
        opts = ("-Dsbt.offline=true -Dsbt.server.autostart=false "
                "-XX:-UsePerfData -Xmx2g")
        if os.path.exists(repos):
            opts = ("-Dsbt.override.build.repos=true "
                    f"-Dsbt.repository.config={repos} " + opts)
        env.setdefault("SBT_OPTS", opts)
        log("building with sbt")
        t0 = time.time()
        code, _ = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr,
            stdin=subprocess.DEVNULL)
        if code != 0:
            sys.exit(f"[perfbench] build failed (exit {code})")
        os.makedirs(LAUNCH, exist_ok=True)
        for name in ("classpath.txt", "javaopts.txt"):
            shutil.copy(os.path.join(TARGET, name), os.path.join(LAUNCH, name))
        with open(stamp_file, "w") as fh:
            fh.write(want)
        log(f"built in {time.time() - t0:.0f} s")
    cp = open(os.path.join(LAUNCH, "classpath.txt")).read().split("\n")
    opts = open(os.path.join(LAUNCH, "javaopts.txt")).read().split("\n")
    # the program's JVM options, with the benchmark's own heap size
    opts = [o for o in opts if o and not o.startswith("-Xmx")]
    return ":".join(p for p in cp if p), opts


def java(cp, opts, work, args, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opts + [
        HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "perfbench.Main"] + args)
    return run_bounded(cmd, timeout, cwd=work, stdout=subprocess.PIPE,
                       stdin=subprocess.DEVNULL, text=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["serve", "commit"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--failures", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.failures):
        ap.error("one of --workload, --selftest, --failures is required")

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit(f"[perfbench] no program sources next to {HERE}: expected "
                 "the repository's build.sbt and src/main/scala")
    cp, opts = ensure_built()

    work = os.path.join(TARGET, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            args = ["selftest"]
        elif a.failures:
            args = ["failures", "--seed", str(a.seed), "--work", work]
        else:
            args = ["run", "--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--work", work]
        code, out = java(cp, opts, work, args, a.seconds + RUN_ALLOWANCE_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        if out:
            sys.stderr.write(out)
        sys.exit(f"[perfbench] benchmark exited with {code}")
    if not a.workload:
        sys.stdout.write(out)
        return
    lines = [l for l in out.splitlines() if l.strip()]
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("[perfbench] malformed result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
