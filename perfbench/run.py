#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 5 --trace 0

Run from the repository root (any directory works; paths are resolved
from this file). The first run compiles the library and the harness
(sbt, offline) into perfbench/target and generates the input tables into
perfbench/.work; later runs reuse both until a source file changes.

Workloads: batch, poll (see perfbench/README.md).
Extra options, not used by timed runs:
  --scale tiny       sf0.001 tables and 500-frame deliveries (self-test)
  --write-digests    record answer digests instead of checking them
  --corrupt-digest Q replace query Q's expected digest with a wrong one
  --dump             also write each batch result and its oracle SQL to
                     perfbench/.work/dump-batch, for tools/check.py
"""
import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
SCALES = {"bench": 0.1, "tiny": 0.001}
WORKLOADS = ("batch", "poll")
RUN_TIMEOUT_S = 170
DRIVER_HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# project's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def tree_digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        st = os.stat(p)
        h.update(("%s %d %d\n" % (os.path.relpath(p, ROOT), st.st_size,
                                  st.st_mtime_ns)).encode())
    return h.hexdigest()


def scala_sources():
    out = []
    for base in (LIB_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return out + [os.path.join(HERE, "build.sbt"),
                  os.path.join(HERE, "project", "build.properties")]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the project's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)',
                      open(os.path.join(ROOT, "build.sbt")).read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        sys.exit("Spark jars not found: set SPARK_HOME")
    return jars


def build():
    """Compile library + harness unless the compiled classes are current."""
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    want = tree_digest(scala_sources())
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    log("compiling library and harness (sbt, offline)")
    env = dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars(),
               COURSIER_MODE="offline", SBT_OPTS=(
                   "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=%s -Dsbt.offline=true -Xmx2g"
                   % os.path.expanduser("~/.sbt/repositories")))
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as f:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "compile"], cwd=HERE, env=env, stdout=f,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.exit("build failed (see perfbench/.work/build.log)")
    with open(stamp, "w") as f:
        f.write(want)


def ensure_data(scale):
    """Generate the fixed input tables once per scale and generator version."""
    gen = os.path.join(HERE, "gen_data.py")
    data = os.path.join(WORK, "data-" + scale)
    marker = os.path.join(data, "_GENERATED")
    want = hashlib.sha256(open(gen, "rb").read()).hexdigest()
    if os.path.exists(marker) and open(marker).read() == want:
        return data
    shutil.rmtree(data, ignore_errors=True)
    rc = subprocess.call([sys.executable, gen, data, str(SCALES[scale])])
    if rc != 0:
        sys.exit("data generation failed")
    with open(marker, "w") as f:
        f.write(want)
    return data


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "src-" + tree_digest(scala_sources())[:12]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench")
    ap.add_argument("--write-digests", action="store_true")
    ap.add_argument("--corrupt-digest", default=None)
    ap.add_argument("--dump", action="store_true")
    a = ap.parse_args()

    if not os.path.exists(os.path.join(LIB_SRC, "graft", "SparkEntry.scala")):
        sys.exit("graft sources not found at %s: run from a full checkout"
                 % LIB_SRC)
    build()
    t0_ns = time.time_ns()
    data = ensure_data(a.scale)
    run_dir = os.path.join(WORK, "run-%d" % os.getpid())
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    digests = os.path.join(HERE, "digests.tsv")
    if a.corrupt_digest:
        digests = os.path.join(run_dir, "digests.tsv")
        with open(os.path.join(HERE, "digests.tsv")) as src, \
                open(digests, "w") as dst:
            for line in src:
                f = line.rstrip("\n").split("\t")
                if f[1] == a.corrupt_digest:
                    rows, h = f[2].split(":")
                    f[2] = "%d:%s" % (int(rows) + 1, h)
                dst.write("\t".join(f) + "\n")

    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    cmd = ["java", "-Xmx" + DRIVER_HEAP, "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
            "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scale", a.scale, "--data", data, "--work", run_dir,
            "--out", OUT, "--digests", digests, "--t0-ns", str(t0_ns),
            "--commit", commit()]
    if a.write_digests:
        cmd.append("--write-digests")
    if a.dump:
        dump = os.path.join(WORK, "dump-" + a.workload)
        shutil.rmtree(dump, ignore_errors=True)
        cmd += ["--dump", dump]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    result = None
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit("run exceeded %d s" % RUN_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    shutil.rmtree(run_dir, ignore_errors=True)
    for line in out.splitlines():
        if line.startswith('{"correct"'):
            result = line
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        sys.exit("harness exited with code %d" % proc.returncode)
    print(result, flush=True)


if __name__ == "__main__":
    main()
