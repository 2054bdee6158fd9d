#!/usr/bin/env python3
"""Repository benchmark: builds the program from source, runs one workload
for one seed and prints one JSON result as the last line of stdout.

    python3 perfbench/run.py --workload backtest_universe --seed 1 \
        --seconds 12 --trace 0

Run it from the root of a checkout. The first run builds with sbt into
`target/` and records the classpath in `.bench_build/`; later runs reuse
it until a source file changes. Each run works in its own directory
under `.bench_run/` and removes it when done. See perfbench/README.md.
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
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
DATA = os.path.join(HERE, "data", "sf0.01")
DIGESTS = os.path.join(HERE, "digests.tsv")
WORKLOADS = ("backtest_universe", "query_suite")
MAX_CORES = 2
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880

# Spark on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same list to forked runs).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and returns (returncode, stdout).
    The whole group is killed and reaped on timeout, on SIGTERM and on
    any error, so no process outlives the run."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def source_files():
    """Every file the build reads: the repository's main sources and build
    definition, and the benchmark's own."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, building first when the sources
    changed since the last build."""
    digest = source_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest_file = os.path.join(BUILD, "source.sha256")
    if os.path.isfile(cp_file) and os.path.isfile(digest_file):
        with open(digest_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    code, out = run_child(cmd, BUILD_LIMIT_S, cwd=HERE, env=env,
                          stderr=subprocess.STDOUT)
    if code is None:
        fail("build timed out")
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(digest_file, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


def fs_type(path):
    """Filesystem type of the mount holding `path` (tmpfs, ext4, ...)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as fh:
            for line in fh:
                parts = line.split()
                mnt = parts[1]
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) \
                        and len(mnt) >= len(best):
                    best, kind = mnt, parts[2]
    except OSError:
        pass
    return kind


def cpu_ticks():
    """Cumulative CPU ticks of the whole machine: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def git_head():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--digests", default=DIGESTS,
                    help="pinned suite digests (the self-test swaps in a "
                         "wrong one)")
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the repository's sources are missing; run from a full checkout")
    for need in (DATA, args.digests):
        if not os.path.exists(need):
            fail(f"missing {need}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    t_start = time.monotonic()
    cp = build()
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, scratch = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "scratch")
    os.makedirs(tmp)
    os.makedirs(scratch)
    # spark.local.dir is kept inside the checkout: ScratchDir.tune honours
    # SPARK_GRAFT_LOCAL_DIR before any default of its own
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=scratch)
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the compiler threads stay alive for the whole run, so the CPU time
    # they use can be told apart from the program's (see Main.timedPass)
    cmd += ["-Xmx3g", "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace),
            str(cores), run_dir, DATA, os.path.abspath(args.digests)]
    log_path = os.path.join(RUNS, f"{args.workload}-{args.seed}.log")
    ticks = cpu_ticks()
    try:
        with open(log_path, "w") as log:
            limit = max(10.0, RUN_LIMIT_S - (time.monotonic() - t_start))
            code, out = run_child(cmd, limit, cwd=ROOT, env=env, stderr=log)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    ticks = [b - a for a, b in zip(ticks, cpu_ticks())]
    if code is None:
        fail(f"run timed out; log in {log_path}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark exited with {code}")
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        extra = json.loads(line)
        if "env" in extra:
            env_rec = extra["env"]
            env_rec.update({
                "git_head": git_head(),
                "source_sha256": source_digest(),
                "spark_local_dir_fs": fs_type(env_rec["spark_local_dir"]),
                # CPU time the hypervisor gave to other guests while the
                # run wanted it: the main cause of run-to-run spread on a
                # shared host
                "cpu_steal_pct": round(100.0 * ticks[7] / max(1, sum(ticks)), 2),
            })
            line = json.dumps(extra)
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    # a terminated run unwinds through run_child's cleanup
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    main()
