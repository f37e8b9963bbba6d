#!/usr/bin/env python3
"""Ingest-path benchmark launcher.

    python3 ingestbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark from
source with sbt (once per source state; the classpath is cached under
.bench_build/), then runs one workload in one JVM against local[2] and
passes its output through: the last stdout line is the result object.

Everything the run writes stays inside the checkout: the build cache in
.bench_build/, one temp root per run in .bench_tmp/ (warehouse, stream
checkpoints, staged source, Spark scratch; deleted when the run ends) and
the traced run's span files in .bench_out/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.basename(HERE)
WORKLOADS = ("append-json", "upsert-pk", "curate-text", "read-mix")
HEAP = "2g"
# C1 only: with C2, which code paths a run's profile-driven compiles favour
# moved read-mix's MERGE and read medians by up to 45 % between runs on a
# quiet host; C1 code is slower but compiles the same way every run and is
# warm after one untimed step.
JIT = "-XX:TieredStopAtLevel=1"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when a session is created outside
# spark-submit (the same list the root build passes to forked runs).
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
    print(f"[ingestbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    """Digest of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    inputs = ["build.sbt", os.path.join("project", "build.properties"),
              os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for base in ("src", os.path.join(BENCH, "src")):
        for d, dirs, files in os.walk(os.path.join(root, base)):
            dirs.sort()
            inputs += [os.path.relpath(os.path.join(d, f), root) for f in sorted(files)]
    for rel in inputs:
        p = os.path.join(root, rel)
        if os.path.isfile(p):
            h.update(rel.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, build_dir):
    """Compile engine + benchmark; return the runtime classpath."""
    digest = source_digest(root)
    stamp = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip(), digest
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             f"export {BENCH}/Runtime/fullClasspath"],
            cwd=os.path.join(root, BENCH), env=sbt_env(), stdout=subprocess.PIPE,
            stderr=out, stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        out.write(proc.stdout)
    # `export` prints the classpath as a bare line among sbt's [info] lines
    cps = [l.strip() for l in proc.stdout.splitlines()
           if l.strip() and not l.startswith("[") and os.pathsep in l]
    if proc.returncode != 0 or not cps:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    cp = cps[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp, digest


def git_commit(root):
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.isfile(head):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the engine sources (build.sbt, src/) are missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp, digest = build(root, os.path.join(root, ".bench_build", BENCH))
    tmp = os.path.join(root, ".bench_tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", JIT, f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dingestbench.commit={git_commit(root)}", f"-Dingestbench.source={digest[:16]}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--tmp", tmp, "--out", os.path.join(root, ".bench_out")])
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    # a terminated launcher takes its JVM down with it (see `finally`)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write("\n".join(l for l in lines if not l.startswith('{"correct"')) + "\n")
        fail(f"benchmark JVM exited with {proc.returncode} without a result")
    sys.stdout.write(out if out.endswith("\n") else out + "\n")


if __name__ == "__main__":
    main()
