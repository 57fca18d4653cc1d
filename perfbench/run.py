#!/usr/bin/env python3
"""graft benchmark: builds the harness in perfbench/ against the checkout's
graft sources, runs one workload in one JVM and prints the result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload daily_etl|stream_ingest \
        --seed N --seconds S --trace 0|1

Default seed 1; held-out seed 1009 (never used while tuning). The last
stdout line is one JSON object: correct, attempted, failed and the metrics
(end-to-end with --trace 0, per-layer with --trace 1). The lines before it
are a readable report. Build output and logs go to stderr.

Everything the run writes stays in the checkout: the build under
.bench_build/, the inputs and outputs under a temporary directory in
.bench_build/tmp/ that is deleted on exit, and the spans of a traced run
in .bench_build/traces/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("daily_etl", "stream_ingest")
CDS = os.path.join(BUILD, "classes.jsa")
HEAP = "3g"
RUN_LIMIT_S = 170  # a run must end within 180 s

JVM_OPTS = [
    "-Xmx" + HEAP, "-Xss4m", "-XX:+UseG1GC",
    # C1 only: in runs this short, C2 compilation was most of a stream
    # pass's CPU and swung with the order methods got hot; C1 finishes its
    # compiling in the warm-up
    "-XX:TieredStopAtLevel=1",
    "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
    # JVM log lines go to stderr: stdout carries only the report
    "-Xlog:disable", "-Xlog:all=warning:stderr",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and return (stdout, exit code);
    on any exit from here (error, timeout, signal) the whole group is killed
    and reaped, so no process it started outlives the benchmark."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return out, proc.returncode
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def jar_dirs(cp):
    """The classpath with each directory packed into a jar under the build
    directory: the JVM's class-data archive takes classes from jars only."""
    import zipfile
    out = []
    for i, p in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(p):
            jar = os.path.join(BUILD, f"cp{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, names in os.walk(p):
                    for n in sorted(names):
                        f = os.path.join(d, n)
                        z.write(f, os.path.relpath(f, p))
            p = jar
        out.append(p)
    return os.pathsep.join(out)


def build():
    """Compile graft and the harness with sbt (offline) unless the classpath
    recorded for the current sources is still valid; return the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.isfile(cp_file):
            with open(cp_file) as f:
                saved_stamp, cp = f.read().split("\n", 1)
            cp = cp.strip()
            if saved_stamp == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline" not in opts:
            opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if "-Dsbt.repository.config" not in opts and os.path.isfile(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        env["SBT_OPTS"] = opts + " -Dsbt.server.autostart=false"
        log("building (sbt, offline) ...")
        out, code = run_group(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stderr=subprocess.STDOUT, timeout=840)
        sys.stderr.write(out[-4000:])
        lines = [ln for ln in out.splitlines() if ln.strip()]
        if code != 0 or not lines or lines[-1].startswith("["):
            raise SystemExit("build failed")
        cp = jar_dirs(lines[-1].strip())
        archive_classes(cp)
        with open(cp_file, "w") as f:
            f.write(stamp + "\n" + cp + "\n")
        return cp


def java_cmd(cp, workload, seed, seconds, trace, work, extra=()):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    return [java] + JVM_OPTS + list(extra) + [
        f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--data", os.path.join(HERE, "data"), "--work", work,
        "--cpus", str(len(os.sched_getaffinity(0)))]


def archive_classes(cp):
    """Record the classes one daily_etl run loads in a class-data archive,
    which every later run maps instead of loading and verifying them
    again: loading Spark's classes is most of a cold JVM's start. Runs
    work without it (slower) if it cannot be made."""
    for f in (CDS, CDS + ".tmp"):
        if os.path.exists(f):
            os.remove(f)
    log("recording the class-data archive ...")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="archive-", dir=os.path.join(BUILD, "tmp"))
    try:
        _, code = run_group(java_cmd(cp, "daily_etl", 1, 0, 0, work,
                                     ["-XX:ArchiveClassesAtExit=" + CDS + ".tmp"]),
                            cwd=ROOT, stderr=subprocess.DEVNULL, timeout=RUN_LIMIT_S)
        if code == 0 and os.path.isfile(CDS + ".tmp"):
            os.replace(CDS + ".tmp", CDS)
        else:
            log(f"no class-data archive (exit {code})")
    except subprocess.TimeoutExpired:
        log("no class-data archive (timed out)")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit(f"no graft sources under {ROOT}/src/main/scala/graft: "
                         "run from the root of a graft checkout")
    def stop(*_):
        raise SystemExit("interrupted")
    signal.signal(signal.SIGTERM, stop)
    cp = build()

    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(BUILD, "tmp"))
    extra = ["-XX:SharedArchiveFile=" + CDS] if os.path.isfile(CDS) else []
    cmd = java_cmd(cp, a.workload, a.seed, a.seconds, a.trace, work, extra)
    if a.trace:
        cmd += ["--trace-out", os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.jsonl")]
    try:
        out, code = run_group(cmd, cwd=ROOT, timeout=RUN_LIMIT_S)
        lines = [ln for ln in out.splitlines() if ln.strip()]
        if code != 0 or not lines:
            raise SystemExit(f"benchmark JVM exited with {code}")
        result = json.loads(lines[-1])
        for ln in lines[:-1]:
            print(ln)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
