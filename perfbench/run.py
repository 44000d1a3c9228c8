#!/usr/bin/env python3
"""Benchmark entry point for graft.

    python3 perfbench/run.py --workload <hot_tail|cold_scan|batch_roster> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run compiles graft's main
sources together with the harness in perfbench/src (scalac from the Spark
distribution the sbt build compiles against) into one jar under
.bench_build/, and records a class-data-sharing archive from a short
training run. Later runs reuse both while the sources are unchanged.
Each run starts one JVM
(perfbench.Main), which prints the result JSON as its last stdout line; this
script re-checks that line and prints it last. Everything the run writes
(build, Spark scratch, store roots, traces) stays under .bench_build/.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build", "perfbench")
WORKLOADS = ("hot_tail", "cold_scan", "batch_roster")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# the module opens Spark needs on JDK 17 outside spark-submit (build.sbt)
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
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase),
    or $SPARK_HOME/jars when set."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        build_sbt = os.path.join(REPO, "build.sbt")
        if not os.path.isfile(build_sbt):
            fail("no build.sbt here: run from the root of a graft checkout")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build_sbt).read())
        if not m:
            fail("build.sbt names no unmanagedBase jar directory; set SPARK_HOME")
        d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        fail(f"no jars in {d}")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(REPO, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no src/main/scala sources here: run from the root of a graft checkout")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main + bench


def fingerprint(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()[:16]


def java(cp, extra):
    """The JVM command line for perfbench.Main: the module opens Spark
    needs, scratch and logs kept in the run's directory, JVM warnings on
    stderr (stdout carries only the result line)."""
    # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    return (["java", "-XX:-UsePerfData", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
             "-Xlog:disable", "-Xlog:all=warning:stderr",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
            + extra
            + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Main"])


def build(jars):
    """Compile once per source fingerprint into one jar, then record a
    class-data-sharing archive of the classes a short training run loads,
    so each run's JVM starts without re-reading them. Returns the build
    directory."""
    files = sources()
    out = os.path.join(BUILD, "build-" + fingerprint(files, jars))
    # the archive records the jar's path, so the build happens in place
    # and a marker file says it finished
    done = os.path.join(out, "done")
    if os.path.isfile(done):
        return out
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        fail("the jar directory holds no scala-compiler/library/reflect trio")
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars),
           "-d", classes, "@" + argfile]
    try:
        rc = subprocess.run(cmd, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        rc = -1
    if rc != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compilation failed")
    # class-data sharing takes jars only, no directories
    with zipfile.ZipFile(os.path.join(out, "app.jar"), "w", zipfile.ZIP_STORED) as z:
        for base in (classes, os.path.join(REPO, "src/main/resources")):
            for d, _, names in sorted(os.walk(base)):
                for n in sorted(names):
                    z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), base))
    shutil.rmtree(classes)
    train_dir = os.path.join(out, "train")
    os.makedirs(os.path.join(train_dir, "tmp"))
    print("[perfbench] recording the class-data-sharing archive", file=sys.stderr)
    cmd = java(app_classpath(out, jars),
               ["-XX:ArchiveClassesAtExit=" + os.path.join(out, "app.jsa"),
                "-Xlog:cds*=error:stderr",
                "-Djava.io.tmpdir=" + os.path.join(train_dir, "tmp")])
    cmd += ["--workload", "train", "--seed", "1", "--work", train_dir,
            "--data", os.path.join(HERE, "data")]
    try:
        rc = subprocess.run(cmd, stdout=sys.stderr, cwd=train_dir,
                            timeout=BUILD_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        rc = -1
    shutil.rmtree(train_dir, ignore_errors=True)
    if rc != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("the training run failed")
    open(done, "w").close()
    return out


def app_classpath(build_dir, jars):
    return ":".join([os.path.join(build_dir, "app.jar")] + jars)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    jars = spark_jars()
    build_dir = build(jars)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out_dir = os.path.join(BUILD, "out")
    os.makedirs(out_dir, exist_ok=True)
    cmd = java(app_classpath(build_dir, jars),
               ["-XX:SharedArchiveFile=" + os.path.join(build_dir, "app.jsa"),
                f"-Djava.io.tmpdir={tmp}"])
    cmd += ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", run_dir, "--out", out_dir, "--data", os.path.join(HERE, "data")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=run_dir)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError, IndexError):
        sys.stderr.write(out)
        fail(f"the JVM exited {proc.returncode} without a result line")
    if proc.returncode != 0:
        fail(f"the JVM exited {proc.returncode}")
    print("\n".join(lines[:-1]), file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
