#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine's sources
together with the benchmark's (sbt, offline) into perfbench/target; later
runs reuse that build while the sources are unchanged. Each run starts one
JVM (perfbench.Main), which generates the inputs from the seed, measures
for the given seconds, checks every answer and prints the result record as
its last stdout line. Scratch data lives under .bench_build/perfbench and
is removed after the run; the per-run detail file stays in
.bench_build/perfbench/results.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("serve", "batch")
BUILD_TIMEOUT_S = 900
RUN_TIMEOUT_S = 170
HEAP = "2g"
# Spark on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest(root, bench):
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main"), os.path.join(bench, "src"),
                 os.path.join(bench, "build.sbt"), os.path.join(bench, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(root):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark install found (set SPARK_HOME)")
    return home


def build(root, bench, state, env):
    """Compile once per source digest; returns the runtime classpath."""
    digest = sources_digest(root, bench)
    stamp = os.path.join(state, "build.stamp")
    cp_file = os.path.join(state, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    sbt = shutil.which("sbt")
    if not sbt:
        die("sbt not found on PATH")
    opts = ["-Xmx2g", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    benv = dict(env, SBT_OPTS=" ".join(opts), COURSIER_MODE="offline")
    t0 = time.time()
    p = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=bench, env=benv, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    # `export` prints the classpath as one bare line; everything else is log
    lines = [l for l in p.stdout.splitlines() if not l.startswith("[") and ".jar" in l]
    sys.stderr.write("\n".join(l for l in p.stdout.splitlines()[-40:] if l not in lines) + "\n")
    if p.returncode != 0:
        die(f"build failed (sbt exit {p.returncode})")
    if not lines:
        die("build printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    root = os.getcwd()
    bench = os.path.join(root, "perfbench")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(bench, "build.sbt")):
        die("run from the repository root: the engine sources (src/main/scala) are missing")
    state = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    cp = build(root, bench, state, env)

    work = os.path.join(state, f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = str(len(os.sched_getaffinity(0)))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    cmd = [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={work}",
           f"-Dlog4j2.configurationFile={os.path.join(bench, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--work", work,
            "--results", os.path.join(state, "results"), "--cores", cores]
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode not in (0, 1) or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        die(f"benchmark process failed (exit {proc.returncode})", 3)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
