#!/usr/bin/env python3
"""Run one workload of the Zarr-connector benchmark (see perfbench/README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call compiles the program's sources
together with the benchmark into .bench_build/perfbench/classes; later calls
reuse that build while the sources are unchanged. The last line of stdout is
the run's JSON result; the exit code is non-zero when the build fails, the
run fails, or any output was wrong.
"""
import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

WORKLOADS = ("scan_full", "cube_select", "pipeline")
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources(root):
    """Every file the build reads, as sorted paths relative to `root`."""
    out = [os.path.join("perfbench", "build.sh")]
    for top in ("src/main/scala", "src/main/resources", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.relpath(os.path.join(d, f), root) for f in files]
    return sorted(out)


def stamp(root):
    h = hashlib.sha256()
    for rel in sources(root):
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanagedBase that
    the repository's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    raise SystemExit("perfbench: set SPARK_HOME to a Spark installation")


def build(root, build_dir, jars):
    """Compile unless the classes match the current sources. Returns True if it built."""
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    want = stamp(root)
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return False
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["bash", os.path.join("perfbench", "build.sh"), classes, jars],
                             cwd=root, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: build failed (exit {rc})")
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    started = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("perfbench: run from the repository root (src/main/scala not found)")
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    jars = spark_jars(root)
    built = build(root, build_dir, jars)

    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    out_dir = os.path.join(build_dir, "out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(build_dir, "logs"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # a fixed, pre-touched heap: no run spends its timed rounds growing the
    # heap or faulting in fresh pages
    # -XX:-UsePerfData: the JVM writes nothing to the system's temp directory
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           "-Xss4m", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.path.join(build_dir, "classes") + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out_dir]

    # whole run within 180 s, or 900 s when this call compiled
    budget = (880 if built else 175) - (time.time() - started)
    log_path = os.path.join(build_dir, "logs", f"{a.workload}-{a.seed}-t{a.trace}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            stdout, _ = proc.communicate(timeout=max(budget, 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            stdout = None
        finally:
            shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in (stdout or "").splitlines() if l.strip()]
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    if result is None or proc.returncode not in (0, 1):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: {a.workload} failed (exit {proc.returncode}, log {log_path})")
    print(result)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
