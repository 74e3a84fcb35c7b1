"""Compile the project's main sources and the benchmark driver with scalac.

The project's sbt build is not used: the benchmark compiles
`src/main/scala` plus `pipebench/src` in one scalac run against the Spark
jars (`$SPARK_HOME/jars`, which also carry the Scala 2.13 compiler), and
generates the `graft.BuildInfo` object the sbt build would generate. The
classes land in `.pipebench/build`, reused while no source file changes.

    python3 pipebench/build.py      # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".pipebench", "build")


def spark_jars():
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("SPARK_HOME must point at the Spark installation")
    jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "pipebench", "src", "*.scala")))
    if not main:
        raise SystemExit(f"no project sources under {ROOT}/src/main/scala")
    return main + bench


def project_version():
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'version\s*:=\s*"([^"]+)"', f.read())
    return m.group(1) if m else "0.0.0"


def build():
    """Return the runtime classpath, compiling first when sources changed."""
    jars = spark_jars()
    srcs = sources()
    version = project_version()
    h = hashlib.sha256(version.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    resources = os.path.join(ROOT, "src", "main", "resources")
    cp = [classes, resources, os.path.join(jars, "*")]
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return os.pathsep.join(cp)

    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    gen = os.path.join(BUILD, "BuildInfo.scala")
    with open(gen, "w") as f:
        f.write('package graft\nobject BuildInfo {\n'
                f'  val version: String = "{version}"\n}}\n')
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs + [gen]) + "\n")
    print(f"[pipebench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("scalac failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return os.pathsep.join(cp)


if __name__ == "__main__":
    print(build())
