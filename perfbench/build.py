"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's JVM harness (`perfbench/scala`) using the Scala compiler
that ships with the Spark distribution, into `.bench_build/classes`.

This is a second build path beside `build.sbt`, kept because sbt writes
outside the checkout (its boot and dependency caches). It takes everything
it can from `build.sbt` so the two do not drift: the jar directory
(`unmanagedBase`), the Scala version the compiler must have, literal
`scalacOptions`, and the JVM options of `sbt run` (`--add-opens`, `-D`
settings and the `-Xmx` heap) that `run.py` starts the benchmark with.

A stamp of every source file's path and content is kept next to the
classes, so an unchanged tree is not compiled twice.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def _sbt(root: str) -> str:
    with open(os.path.join(root, "build.sbt")) as fh:
        return fh.read()


def _setting(sbt: str, key: str) -> str:
    """The text of every statement that assigns `key` in build.sbt."""
    return " ".join(m.group(1) for m in
                    re.finditer(rf"^\s*(?:\w+\s*/\s*)*{key}\s*(?::=|\+\+=|\+=)(.*?)(?=^\S)",
                                sbt + "\nEND", re.M | re.S))


def java_options(root: str = "."):
    """The JVM options `sbt run` forks with, from build.sbt: one
    `--add-opens` per opened package, the `-D` settings, and `-Xmx` from
    $SPARK_DRIVER_MEM or else build.sbt's default."""
    sbt = _sbt(root)
    opts = []
    for pkg in re.findall(r'"(java\.base/[\w./]+)"', sbt):
        opts += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    opts += re.findall(r'"(-D[^"$]+)"', _setting(sbt, "javaOptions"))
    heap = re.search(r'-Xmx\$\{sys\.env\.getOrElse\("SPARK_DRIVER_MEM",\s*"(\w+)"\)\}', sbt)
    fixed = re.search(r'"-Xmx(\w+)"', sbt)
    default = heap.group(1) if heap else fixed.group(1) if fixed else None
    xmx = os.environ.get("SPARK_DRIVER_MEM", default) if heap else default
    if xmx:
        opts.append(f"-Xmx{xmx}")
    return opts


def scala_version(root: str = ".") -> str:
    m = re.search(r'scalaVersion\s*:=\s*"([\d.]+)"', _sbt(root))
    if not m:
        raise SystemExit("perfbench: no scalaVersion in build.sbt")
    return m.group(1)


def spark_jars(root: str = ".") -> str:
    """The jar directory: build.sbt's `unmanagedBase`, else $SPARK_HOME/jars,
    else the jars bundled with an installed pyspark."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _sbt(root))
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(jars):
            return jars
    except ImportError:
        pass
    raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")


def sources(root: str):
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not files:
        raise SystemExit("perfbench: no graft sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"), recursive=True))
    return files + bench


def build(root: str = ".") -> str:
    """Compile if needed; return the classes directory."""
    srcs = sources(root)
    jars = spark_jars(root)
    version = scala_version(root)
    if not os.path.exists(os.path.join(jars, f"scala-compiler-{version}.jar")):
        raise SystemExit(f"perfbench: no scala-compiler-{version}.jar (build.sbt's "
                         f"scalaVersion) in {jars}")
    scalac_opts = re.findall(r'"([^"]+)"', _setting(_sbt(root), "scalacOptions"))
    h = hashlib.sha256(jars.encode())
    h.update(" ".join(scalac_opts).encode())
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(root, BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", out, "-nowarn"] + scalac_opts + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


if __name__ == "__main__":
    print(build())
