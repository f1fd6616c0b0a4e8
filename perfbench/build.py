"""Build file of the benchmark: compiles the program and the runner.

The program (`src/main/scala`) and the benchmark runner (`perfbench/scala`)
are compiled with the Scala compiler that ships in Spark's jar directory,
against Spark's jars, into the build directory (`$CARGO_TARGET_DIR`, else
`.bench_build`). A stamp of the sources skips the build when nothing changed.

    python3 perfbench/build.py      # build only
"""

import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALA = "2.13.17"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the program's build.sbt
    declares as its unmanaged base."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read() if os.path.exists(sbt) else "")
        if not m:
            raise SystemExit("build: set SPARK_HOME (build.sbt names no Spark jars)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("build: no Spark jars under %s (set SPARK_HOME)" % jars)
    return jars


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(sub):
    return sorted(glob.glob(os.path.join(ROOT, sub, "**", "*.scala"), recursive=True) +
                  glob.glob(os.path.join(ROOT, sub, "**", "*.java"), recursive=True))


def stamp(files):
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out, files, log):
    compiler = ":".join(os.path.join(jars, "scala-%s-%s.jar" % (j, SCALA))
                        for j in ("compiler", "library", "reflect"))
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-classpath", classpath, "-d", out, "-Ybackend-parallelism", "4",
           "-nowarn", "@" + argfile]
    with open(log, "a") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise SystemExit("build: scalac failed for %s (see %s)" % (out, log))


def build():
    """Compile what changed; return the runtime classpath."""
    jars = spark_jars()
    program, runner = sources("src/main"), sources("perfbench/scala")
    if not program:
        raise SystemExit("build: no program sources under src/main")
    out = build_dir()
    spark_cp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    classes = os.path.join(out, "classes")
    bench = os.path.join(out, "bench-classes")
    log = os.path.join(out, "build.log")
    os.makedirs(out, exist_ok=True)
    want = stamp(program) + stamp(runner)
    stamp_file = os.path.join(out, "stamp")
    have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if have != want:
        for d in (classes, bench):
            subprocess.run(["rm", "-rf", d], check=True)
        with open(log, "w"):
            pass
        scalac(jars, spark_cp, classes, program, log)
        scalac(jars, spark_cp + ":" + classes, bench, runner, log)
        with open(stamp_file, "w") as f:
            f.write(want)
    return ":".join([bench, classes, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build())
    sys.exit(0)
