#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one result line.

Run from the repository root:

    python3 perfbench/run.py --workload stream_pipe --seed 1 --seconds 4 --trace 0

`--scale 2` doubles every input size (for scaling measurements; the
default is 1).

The first run builds the program and the harness from source with sbt
(the program through its own build.sbt) into `.bench_build/` and the
sbt `target/` directories; later runs reuse that build while no source
changes. Each run then starts one JVM for the workload, which generates
the inputs from the seed, sets up, measures, checks the outputs and
prints the result as the last line of stdout. See BENCHMARK.json for the
workloads and metrics.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("stream_pipe", "graph_loops")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# program's build.sbt passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads: the program's and the harness's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    """sbt strictly offline: the toolchain's caches hold every artifact."""
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def finish(proc, limit_s, what, cleanup=lambda: None):
    """Wait for `proc` and its process group; kill the group past `limit_s`
    or when this script is told to stop, so nothing outlives the run."""
    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        cleanup()

    def stop(*_):
        kill()
        fail(f"{what} interrupted", 3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        kill()
        fail(f"{what} exceeded {limit_s:.0f} s", 3)
    # a child that forked helpers into its group must not leave them behind
    kill()
    return out


def build():
    """The runtime classpath of program + harness, built when stale."""
    fp = fingerprint()
    stamp = os.path.join(BUILD, "classpath.json")
    try:
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached["fingerprint"] == fp and all(os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"], fp, False
    except (OSError, ValueError, KeyError):
        pass
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=fh, text=True,
            start_new_session=True)
        out = finish(proc, BUILD_LIMIT_S, "build")
        fh.write(out)
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed, see {log}", 1)
    classpath = lines[-1].split(os.pathsep)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": classpath}, fh)
    return classpath, fp, True


def git_sha():
    try:
        top = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        out = top.stdout.split()
        if top.returncode == 0 and len(out) == 2 and os.path.samefile(out[0], ROOT):
            return out[1]
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args()
    if not args.scale > 0:
        fail("--scale must be positive")
    started = time.monotonic()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not beside perfbench/")
    classpath, fp, built = build()
    if built:  # a run that builds first has the build's own limit on top
        started = time.monotonic()

    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    # the whole heap is touched at start, so peak RSS does not follow how
    # much of it the collector happened to use in this run
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", os.pathsep.join(classpath), "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", work, "--cores", str(cores), "--source-sha", fp,
              "--git-sha", git_sha(), "--scale", repr(args.scale),
              "--trace-out", os.path.join(traces, f"{args.workload}-{args.seed}.jsonl")])
    # Spark's scratch space (shuffle files, checkpoints) stays in the run's directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    out = finish(proc, RUN_LIMIT_S - (time.monotonic() - started), "run",
                 cleanup=lambda: shutil.rmtree(work, ignore_errors=True))
    lines = out.splitlines()
    if proc.returncode != 0:
        sys.stdout.write("".join(l + "\n" for l in lines if not l.startswith("{")))
        fail(f"benchmark JVM exited with {proc.returncode}", 1)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    sys.stdout.write("".join(l + "\n" for l in lines))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
