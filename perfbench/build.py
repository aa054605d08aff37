"""Build file of the benchmark package: compiles the engine's sources and
the benchmark harness (perfbench/scala) with the Scala compiler that ships
in Spark's jars, into one jar under perfbench/.work/build. Rebuilds only
when a source changed. No sbt start-up, no dependency resolution.

    python3 perfbench/build.py      # prints the classpath

A class-data archive (ARCHIVE) of the classes a run loads is dumped once
per build by run.py; it lives in the build directory, so a rebuild drops it.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".work", "build")
JAR = os.path.join(BUILD, "graft-bench.jar")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
RESOURCES = os.path.join(REPO, "src", "main", "resources")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the engine's own build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(REPO, "build.sbt")
    if not os.path.exists(sbt):
        raise SystemExit("no build.sbt next to perfbench/: run from a checkout of the engine")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return m.group(1)


def sources():
    srcs = []
    for base in (os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "scala")):
        if not os.path.isdir(base):
            raise SystemExit(f"missing source directory {os.path.relpath(base, REPO)}")
        for d, _, names in os.walk(base):
            srcs += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(srcs)


def classpath(jars):
    # explicit and sorted: a class-data archive only maps onto the exact
    # classpath it was dumped with
    return os.pathsep.join([JAR] + sorted(glob.glob(os.path.join(jars, "*.jar"))))


def ensure_built():
    """Compile if needed; return the run classpath."""
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"Spark jar directory {jars} not found")
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    resources = sorted(os.path.join(d, n) for d, _, names in os.walk(RESOURCES) for n in names)
    for s in srcs + resources:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_path = os.path.join(BUILD, "stamp")
    cp_jars = os.path.join(jars, "*")
    if os.path.exists(JAR) and open(stamp_path).read() == stamp:
        return classpath(jars)
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = os.path.join(BUILD, "classes")
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp_jars, "scala.tools.nsc.Main",
           "-nowarn", "-cp", cp_jars, "-d", tmp, "@" + args_file]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=840)
    # service registrations (the graft-lake data source) ride along
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
    # a jar, not a directory: class-data archives take classes from jars only
    os.rename(shutil.make_archive(JAR[:-len(".jar")], "zip", tmp), JAR)
    shutil.rmtree(tmp)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return classpath(jars)


if __name__ == "__main__":
    print(ensure_built())
