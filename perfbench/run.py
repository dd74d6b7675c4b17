#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the benchmark from source with sbt (perfbench/build.sbt depends on the
root build) into .bench_build/; later runs reuse the build while the
sources are unchanged. Each run starts one JVM with a local[nproc] Spark
session; its scratch files live under .bench_build/work and are removed
when it ends. Run context, metrics and (with --trace 1) trace spans are
kept under .bench_build/results.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850
# A fixed heap and young generation keep how often the collector runs,
# and so the timings, independent of its sizing decisions. The memory
# metric is the heap left after a full collection, which they do not set.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn768m"]

# Spark on JDK 17 needs these when it is started outside spark-submit
# (the same list as the root build's forked run).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, and this script, relative to ROOT."""
    out = []
    for top in ["src/main", "project", "perfbench/src", "perfbench/project"]:
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    out += ["build.sbt", "perfbench/build.sbt", "perfbench/run.py"]
    return sorted(p for p in out if os.path.isfile(os.path.join(ROOT, p)))


def source_stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(p.encode())
        with open(os.path.join(ROOT, p), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def jar_classpath(cp):
    """Packs the classpath's class directories into jars: the JVM's
    class-data archive covers classes loaded from jars only."""
    out = []
    for i, p in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(p):
            jar = os.path.join(BUILD, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, files in os.walk(p):
                    for f in sorted(files):
                        full = os.path.join(d, f)
                        z.write(full, os.path.relpath(full, p))
            p = jar
        out.append(p)
    return os.pathsep.join(out)


def build(stamp):
    """Compiles with sbt and records the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "SBT_OPTS" not in env:
        # a pre-provisioned offline toolchain: resolve only from it
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
        env.setdefault("COURSIER_MODE", "offline")
    # keep the build's scratch files inside the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (exit {p.returncode})")
    lines = [l for l in p.stdout.splitlines()
             if not l.startswith("[") and ".jar" in l]
    if not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build printed no classpath")
    for old in os.listdir(BUILD):
        if old.startswith("cds-"):
            os.remove(os.path.join(BUILD, old))
    cp = jar_classpath(lines[-1].strip())
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def result_line(stdout):
    for line in reversed(stdout.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                r = json.loads(line)
            except ValueError:
                continue
            if set(r) == {"correct", "attempted", "failed", "metrics"}:
                return r
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in ["build.sbt", "src/main/scala"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a full checkout")

    stamp = source_stamp()
    cp = build(stamp)
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Class-data sharing: the first run of a workload after a build
    # writes the classes it loaded to an archive as it exits, and later
    # runs map them from there instead of loading and verifying each, so
    # their JVM and session start cost less. A missing or stale archive
    # only turns sharing off.
    cds = os.path.join(BUILD, f"cds-{a.workload}.jsa")
    cds_flag = (f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
                else f"-XX:ArchiveClassesAtExit={cds}.tmp")
    cmd = (["java"] + JVM_MEMORY + [cds_flag, "-Xlog:cds=off,cds+dynamic=off",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--results", results, "--source", stamp[:16]])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("interrupted", 3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    shutil.rmtree(work, ignore_errors=True)
    r = result_line(out)
    for line in out.splitlines():
        print(line, file=sys.stderr)
    # the result line comes after the session has stopped, so an exit code
    # printed after it can only come from writing the archive
    dumped = cds_flag.startswith("-XX:ArchiveClassesAtExit")
    if r is None or (proc.returncode != 0 and not dumped):
        fail(f"run failed (exit {proc.returncode})", 5)
    if dumped and proc.returncode == 0 and os.path.exists(cds + ".tmp"):
        os.replace(cds + ".tmp", cds)
    print(json.dumps(r))


if __name__ == "__main__":
    main()
