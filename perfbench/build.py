"""Build file of the benchmark package.

Compiles the engine (src/main/scala) together with the benchmark's own
sources (perfbench/src/main/scala) with the Scala compiler that ships
among the Spark jars, into .bench_build/classes-<hash>/. The hash covers
every source file and this script, so a changed tree rebuilds and an
unchanged one reuses the classes. No sbt, no dependency resolution.

    python3 perfbench/build.py      # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src", "main", "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the `unmanagedBase` the
    sbt build compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        text = open(sbt).read() if os.path.exists(sbt) else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BuildError(f"no Spark jars under '{jars}' (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {d}")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names
                      if n.endswith(".scala")]
    if not files:
        raise BuildError("no Scala sources found")
    return sorted(files)


def tree_hash(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def classpath(classes):
    return os.pathsep.join([classes, RESOURCES,
                            os.path.join(spark_jars(), "*")])


def ensure_built():
    """Return the classes directory for the current tree, compiling it
    first when needed. Raises BuildError on any failure."""
    files = sources()
    jars = spark_jars()
    out = os.path.join(BUILD_DIR, "classes-" + tree_hash(files))
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.13*.jar"))
                for p in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no scala-compiler/library/reflect jars in {jars}")
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", tmp, "-classpath",
                            os.path.join(jars, "*")] + files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp",
           os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=800)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    open(os.path.join(tmp, ".ok"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(ensure_built())
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
