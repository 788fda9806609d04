#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source with sbt on first use
(again whenever a source file changes), then runs the workload in one JVM
and prints its JSON result as the last line of standard output. Build
outputs, scratch data and traces go to `.bench_build/` at the checkout
root. Self-test flags: `--tiny` shrinks every input, `--corrupt` perturbs
one expected value per check.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["grow_cold", "grow_warm", "curate", "queries"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 needs these when started outside spark-submit (the
# library's build file passes the same list to its forked runs).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a stale build is never reused."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.abspath(__file__)]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile library + benchmark; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("library sources not found next to the benchmark; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    # resolve only from the local dependency caches, never the network
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = env.get("SBT_OPTS") or " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if proc.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        sys.stderr.write("".join(l + "\n" for l in lines if "[error]" in l))
        fail(f"build failed (log: {log})")
    cp = jar_dirs(lines[-1].split(os.pathsep))
    with open(cp_file, "w") as f:
        f.write(cp)
    # Class-data archive of the library's and Spark's classes, mapped by
    # every run's JVM to cut start-up. One tiny run writes it here, so no
    # measured run pays for writing it or runs without it.
    jsa = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    code, _ = run_jvm(cp, f"-XX:ArchiveClassesAtExit={jsa}",
                      ["--workload", "queries", "--seed", "0", "--seconds", "1",
                       "--trace", "0", "--tiny"], "archive", BUILD_TIMEOUT_S)
    if code != 0 and os.path.exists(jsa):
        os.remove(jsa)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def jar_dirs(entries):
    """Replace class directories on the classpath by jars of them: a JVM
    class-data archive accepts only jar entries."""
    out_dir = os.path.join(BUILD, "jars")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    out = []
    for i, e in enumerate(entries):
        if os.path.isdir(e):
            jar = os.path.join(out_dir, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, names in os.walk(e):
                    for n in sorted(names):
                        full = os.path.join(d, n)
                        z.write(full, os.path.relpath(full, e))
            e = jar
        out.append(e)
    return os.pathsep.join(out)


def run_jvm(cp, cds, args, name, timeout):
    """Run perfbench.Main with `args` in a JVM of its own session and a
    scratch directory of its own; return its exit code and standard output.
    Spark's log goes to standard error."""
    work = os.path.join(BUILD, "work", f"{name}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a fixed set of JIT compiler threads, whose CPU time the benchmark
    # reads apart from the rest of the process's
    cmd = (["java", "-Xmx3g", cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args
           + ["--work", os.path.join(work, "run"), "--data", os.path.join(HERE, "data")])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)

    def stop(signum, _frame):
        # the JVM runs in its own session: take it down with us
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {timeout} s")
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    ap.add_argument("--record", help="write query outputs and digests to this directory")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    cp = build()
    jsa = os.path.join(BUILD, "classes.jsa")
    cds = f"-XX:SharedArchiveFile={jsa}" if os.path.isfile(jsa) else "-Xshare:auto"
    code, out = run_jvm(
        cp, cds,
        ["--workload", a.workload, "--seed", str(a.seed),
         "--seconds", str(a.seconds), "--trace", a.trace,
         "--trace-out", os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")]
        + (["--tiny"] if a.tiny else []) + (["--corrupt"] if a.corrupt else [])
        + (["--record", os.path.abspath(a.record)] if a.record else []),
        a.workload, RUN_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.strip()]
    result = lines[-1] if lines and lines[-1].startswith('{"correct"') else None
    for l in lines if result is None else lines[:-1]:
        print(l, file=sys.stderr)
    if code != 0 or (result is None and not a.record):
        fail(f"benchmark exited with code {code}")
    if result is not None:
        print(result)


if __name__ == "__main__":
    main()
