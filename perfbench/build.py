"""Builds the program and the benchmark harness from source.

The program's sources (src/main/scala) and the harness (perfbench/src) are
compiled together by the Scala compiler that ships in Spark's jars
directory, against those jars. Output goes to <build dir>/classes and is
reused while no source file changes.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars(root):
    """$SPARK_HOME/jars, else the jars directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                          open(os.path.join(root, "build.sbt")).read())
        jars = found.group(1) if found else ""
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars in '{jars}' (set SPARK_HOME)")
    return jars


def _sources(root):
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath(root, build_dir):
    """Runtime classpath: compiled classes, program resources, Spark."""
    return os.pathsep.join([os.path.join(build_dir, "classes"),
                            os.path.join(root, "src/main/resources"),
                            os.path.join(spark_jars(root), "*")])


def build(root, build_dir):
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        raise SystemExit("perfbench: program sources (src/main/scala) not found")
    sources = _sources(root)
    digest = hashlib.sha256()
    for path in sources:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, "BUILD_STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    jars = spark_jars(root)
    compiler = [glob.glob(os.path.join(jars, f"scala-{name}-2.13.*.jar"))[0]
                for name in ("compiler", "library", "reflect")]
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp, "@" + args_file]
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    with open(os.path.join(tmp, "BUILD_STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
