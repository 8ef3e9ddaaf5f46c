#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--cores <n>]
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first call builds the program (root
sbt build, offline) and the benchmark package (perfbench/build.sbt) and
stamps the build with a hash of their sources; later calls reuse it until
a source changes. Each call then runs one workload in a fresh JVM at
local[nproc] (or local[--cores]) and relays its JSON result as the last line of stdout.
Generated data and Spark scratch live under perfbench/.work/ and are
removed when the run ends.
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
WORK = os.path.join(HERE, ".work")
STAMP = os.path.join(WORK, "build.stamp")
WORKLOADS = ("join_tiles", "geo_aggregate", "dup_clusters")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the program's build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_gb():
    """A quarter of physical memory, 1-6 GiB: the program's build.sbt
    defaults forked runs to -Xmx32g, more than small hosts have."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return 2
    return max(1, min(6, kb // (4 * 1024 * 1024)))


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt(cwd, commands, extra_env=None):
    """Runs sbt offline with the repository's Tier-1 settings; returns the
    classpath printed by the trailing `export` command."""
    env = dict(os.environ)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx4g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env.update(COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    env.update(extra_env or {})
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true"] + commands + ["export Runtime/fullClasspath"]
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(p)
        raise SystemExit("sbt timed out")
    if p.returncode != 0:
        sys.stderr.write(out[-6000:])
        raise SystemExit(f"sbt failed in {cwd} (exit {p.returncode})")
    cp = [l.strip() for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if not cp:
        sys.stderr.write(out[-3000:])
        raise SystemExit("sbt printed no classpath")
    return cp[-1]


def build():
    """Builds program and benchmark unless the stamp matches the sources;
    returns the runtime classpath."""
    digest = source_hash()
    if os.path.isfile(STAMP):
        with open(STAMP) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1]
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise SystemExit("sbt and java are needed to build the benchmark")
    log("building the program (sbt package)")
    program_cp = sbt(ROOT, ["package"])
    log("building the benchmark package")
    cp = sbt(HERE, ["package"], {"PERFBENCH_PROGRAM_CP": program_cp})
    os.makedirs(WORK, exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(f"{digest}\n{cp}\n")
    return cp


def stop(p):
    """Ends the process group of `p` and waits for it."""
    try:
        os.killpg(p.pid, signal.SIGTERM)
        p.wait(timeout=20)
    except (ProcessLookupError, subprocess.TimeoutExpired):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def java(main_class, args, run_dir, ncores):
    heap = heap_gb()
    # a fixed heap and young generation: G1 otherwise resizes both from
    # its pause times, and the resident high-water mark (peak_rss_mb)
    # followed host steal more than the program
    cmd = ["java", f"-Xms{heap}g", f"-Xmx{heap}g", f"-Xmn{heap * 256}m", f"-Djava.io.tmpdir={run_dir}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", build(), main_class] + args + ["--work", run_dir, "--cores", str(ncores)]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(p)
        raise SystemExit(f"{main_class} timed out after {RUN_TIMEOUT_S} s")
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--cores", type=int, default=cores(), help="Spark local[n] (default: nproc)")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit(f"{ROOT} holds no program sources (build.sbt, src/main/scala)")

    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if a.selftest:
            code, out = java("perfbench.SelfTest", [], run_dir, a.cores)
            sys.stdout.write(out)
            return code
        code, out = java("perfbench.Main", ["--workload", a.workload, "--seed", str(a.seed),
                                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
                         run_dir, a.cores)
        lines = [l for l in out.splitlines() if l.strip()]
        if code != 0 or not lines or not lines[-1].startswith("{"):
            sys.stdout.write(out)
            raise SystemExit(f"workload {a.workload} ended with exit code {code} and no result")
        print(lines[-1], flush=True)
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
