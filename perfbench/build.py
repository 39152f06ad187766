"""Build file of the benchmark: compiles the program (`src/main`) and
the benchmark's own sources (`perfbench/src`) with the Scala compiler
that ships in the Spark distribution's jars, into `.bench_build/classes`
of the checkout. Nothing is downloaded.

A build is skipped when a stamp of every source file's content
matches the last successful one.

    python3 perfbench/build.py            # build if needed, print classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory the project's own
    build.sbt names as its `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read()) if os.path.exists(sbt) else None
        if not m:
            raise SystemExit("set SPARK_HOME: build.sbt names no Spark jar directory")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler among the Spark jars in {jars}")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    bench = os.path.join(ROOT, "perfbench", "src")
    found = []
    for top in (main, bench):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(s.startswith(main) for s in found):
        raise SystemExit(f"no program sources under {main}")
    return sorted(found)


def classpath():
    return f"{CLASSES}{os.pathsep}{os.path.join(spark_jars(), '*')}"


def build(log=sys.stderr):
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit("compilation failed")
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, CLASSES, dirs_exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    print(build())
