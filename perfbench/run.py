#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the benchmark
(perfbench/build.sbt, which compiles against the checkout's graft sources)
with sbt and caches the classpath under perfbench/target; later runs reuse
it until a source file changes. The JVM's log goes to perfbench/out/, its
full result artifact too. The last line of standard output is the result
object; the exit code is non-zero, with no result printed, when the
benchmark cannot run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("snapshot_tableset", "cdc_replicate", "dedup_index")
CP_FILE = HERE / "target" / "bench-classpath.txt"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
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


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", ROOT / "project", HERE / "src"):
        files += sorted(p for p in base.rglob("*")
                        if p.is_file() and "target" not in p.parts)
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    stamp = source_stamp()
    if CP_FILE.is_file():
        cached_stamp, _, cp = CP_FILE.read_text().partition("\n")
        if cached_stamp == stamp:
            return cp.strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.server.autostart=false").strip()
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    CP_FILE.parent.mkdir(parents=True, exist_ok=True)
    CP_FILE.write_text(stamp + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources next to {HERE.name}/; run from a graft checkout")
    cp = classpath()
    out = HERE / "out"
    work = HERE / ".work" / f"{a.workload}-{os.getpid()}"
    out.mkdir(parents=True, exist_ok=True)
    log = out / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    java = shutil.which("java", path=os.path.join(os.environ.get("JAVA_HOME", ""), "bin")) \
        or shutil.which("java")
    if java is None:
        fail("java not found")
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--out", str(out)]
    work.mkdir(parents=True, exist_ok=True)
    try:
        with open(log, "w") as err:
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=err, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"benchmark exceeded {RUN_TIMEOUT_S} s; log in {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.rstrip("\n").splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(proc.stdout[-2000:])
        fail(f"no result line (exit {proc.returncode}); log in {log}")
    if proc.returncode != 0:
        fail(f"benchmark exited {proc.returncode}; log in {log}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
