#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload bfs_wide --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The first call builds the program with its own sbt build and then this
benchmark's sbt project (offline); later calls reuse the build while the
sources are unchanged. The measurement itself runs in one JVM
(perfbench.Main), whose last stdout line is the result JSON.
"""
import argparse
import fcntl
import hashlib
import os
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these; the same list as
# the root build's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             ROOT / "src" / "main", HERE / "build.sbt",
             HERE / "project" / "build.properties", HERE / "src"]
    for r in roots:
        if r.is_file():
            yield r
        elif r.is_dir():
            yield from sorted(p for p in r.rglob("*") if p.is_file())


def fingerprint():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt(cwd, *tasks):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks]
    out = subprocess.run(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        die(f"sbt {' '.join(tasks)} failed in {cwd}")
    return out.stdout


def build():
    """Compile the program and the benchmark; return the run classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        die("no program sources next to the benchmark (build.sbt, src/main)")
    WORK.mkdir(exist_ok=True)
    stamp, cp_file = WORK / "build.stamp", WORK / "run.classpath"
    with open(WORK / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp = fingerprint()
        if stamp.is_file() and stamp.read_text() == fp and cp_file.is_file():
            return cp_file.read_text()
        print("perfbench: building the program and the benchmark",
              file=sys.stderr)
        out = sbt(ROOT, "compile", "export Compile/fullClasspath")
        # export prints the classpath as the last plain stdout line
        lines = [l for l in out.splitlines()
                 if l and not l.startswith("[") and os.pathsep in l]
        if not lines:
            die("could not read the program classpath from sbt")
        program_cp = lines[-1].strip()
        (WORK / "program.classpath").write_text(program_cp)
        sbt(HERE, "compile")
        bench_classes = HERE / "target" / "scala-2.13" / "classes"
        cp = os.pathsep.join([str(bench_classes), program_cp])
        cp_file.write_text(cp)
        stamp.write_text(fp)
        return cp


def run_java(cp, args):
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile="
           f"{HERE / 'src' / 'main' / 'resources' / 'log4j2.properties'}",
           "-cp", cp, "perfbench.Main", "--work", str(WORK), *args]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check the input generators and exit")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    cp = build()
    if a.selftest:
        args = ["--selftest"]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    sys.exit(run_java(cp, args))


if __name__ == "__main__":
    main()
