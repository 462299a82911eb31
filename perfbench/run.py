#!/usr/bin/env python3
"""Build the program from source (once per source digest) and run one
benchmark workload in a fresh JVM.

    python3 perfbench/run.py --workload xql_era5 --seed 1 --seconds 20 --trace 0

Everything it writes stays under perfbench/.work and the sbt target
directories of the checkout. The last line of standard output is the
run's JSON result; the exit code is 0 only when a result was printed.
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
BUILD = os.path.join(WORK, "build")
WORKLOADS = ("xql_era5", "ingest_tables")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Spark needs these module openings when the JVM is not started by
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build: the program's and the
    benchmark's sources and build definitions. It also keys the traced
    runs' record of structural counts, so only runs of one program are
    compared."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def jvm(cp, cores, digest):
    """The java command line for perfbench.Main, up to its arguments."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(WORK, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap size keeps the young generation, and so the resident
    # set, the same from run to run
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return cmd + ["-cp", cp, "perfbench.Main", "--work", WORK, "--cores", str(cores),
                  "--digest", digest]


def classpath(digest):
    """The runtime classpath, building with sbt when the sources changed."""
    cp_file = os.path.join(BUILD, "classpath")
    digest_file = os.path.join(BUILD, "digest")
    if os.path.exists(cp_file) and os.path.exists(digest_file):
        with open(digest_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    env = dict(os.environ)
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    cp = next((l for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
    if cp is None:
        fail(f"build printed no classpath; log in {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(digest_file, "w") as f:
        f.write(digest)
    return cp


def main():
    # a terminated run stops its JVM too (run_group kills the group on exit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources are missing: run from a checkout of the repository")
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    digest = source_digest()
    cp = classpath(digest)
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    cmd = jvm(cp, cores, digest) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace]
    log = os.path.join(logs, f"{a.workload}-{a.seed}-trace{a.trace}.log")
    out_path = os.path.join(logs, f"{a.workload}-{a.seed}-trace{a.trace}.out")
    with open(log, "w") as err, open(out_path, "w") as out:
        rc = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=out, stderr=err,
                       stdin=subprocess.DEVNULL)
    with open(out_path) as f:
        lines = f.read().splitlines()
    sys.stdout.write("".join(l + "\n" for l in lines[:-1]))
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"run failed (exit {rc}); log in {log}")
    print(lines[-1])


if __name__ == "__main__":
    main()
