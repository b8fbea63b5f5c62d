#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the program and
the harness from source with sbt (offline) and records the runtime
classpath (all jars) under .bench_build/, keyed by a hash of the
sources; later calls with the same sources start the JVM directly, and
a call that finds the sources changed builds again (incrementally). The
first JVM after a build also dumps a class-data-sharing archive there,
which later JVMs map to start Spark faster. The last line of standard
output is the result JSON printed by the harness.
Workloads: medallion, dedup_chain, query_suite, sweep_catalog.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
SOURCE_KEY = os.path.join(BUILD, "source.key")
# what the packaged jars are built from, relative to ROOT
SOURCES = ("build.sbt", "project", os.path.join("src", "main"),
           os.path.join("perfbench", "build.sbt"), os.path.join("perfbench", "project"),
           os.path.join("perfbench", "src"))
WORKLOADS = ("medallion", "dedup_chain", "query_suite", "sweep_catalog")

# Spark on JDK 17 outside spark-submit needs these (as the program's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap():
    """The test suite's heap rule: half the RAM in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def source_files():
    """Every build input, in a fixed order; sbt's own output is skipped."""
    for top in SOURCES:
        full = os.path.join(ROOT, top)
        if os.path.isfile(full):
            yield full
            continue
        for d, subs, files in os.walk(full):
            subs[:] = sorted(x for x in subs if x not in ("target", "project"))
            yield from (os.path.join(d, f) for f in sorted(files))


def source_key():
    """SHA-256 over the path and content of every build input."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def read(path):
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return None


def build():
    """Compile and package program + harness; record the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: no program source ({need}) in {ROOT}")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]))
    os.makedirs(BUILD, exist_ok=True)
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspathAsJars"],
        timeout=600, cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    cp = [l.strip() for l in out.splitlines()
          if "perfbench" in l and os.pathsep in l and not l.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write(out[-4000:])
        sys.exit(f"perfbench: build failed (sbt exit {code})")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1] + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    key = source_key()
    if read(SOURCE_KEY) != key or read(CLASSPATH) is None:
        # the archive maps classes of the old jars: drop it with them
        for stale in (SOURCE_KEY, CDS_ARCHIVE):
            if os.path.exists(stale):
                os.remove(stale)
        build()
        with open(SOURCE_KEY, "w") as f:
            f.write(key + "\n")
    cp = read(CLASSPATH)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(BUILD, "spark-local"))
    cds = ("-XX:SharedArchiveFile=" if os.path.exists(CDS_ARCHIVE)
           else "-XX:ArchiveClassesAtExit=") + CDS_ARCHIVE
    cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}", cds,
            # JVM warnings (the archive dump's among them) go to stderr
            "-Xlog:disable", "-Xlog:all=error:stderr", "-XX:-UsePerfData",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--root", ROOT,
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace])
    try:
        code, out = run_group(cmd, timeout=170, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: run exceeded 170 s")
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        sys.exit(f"perfbench: harness failed (exit {code})")
    print(lines[-1])


if __name__ == "__main__":
    main()
