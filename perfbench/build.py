"""Build file of the benchmark: compiles the program's sources together with the
benchmark's own JVM sources into one class directory, straight with the Scala
compiler that ships among the Spark jars (no build tool, no network).

The class directory is keyed by a digest of every source and resource, so a
checkout builds once and later runs reuse the classes. Run on its own to build:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_ROOT = os.path.join(ROOT, ".bench_build", "perfbench")
SCALA_JARS = ["scala-compiler", "scala-library", "scala-reflect"]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the `unmanagedBase` the project's
    own build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            raise BuildError("no Spark jars found: set SPARK_HOME")
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jars at {jars}: set SPARK_HOME")
    return jars


def _sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"program sources not found under {main}")
    srcs = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    res_root = os.path.join(ROOT, "src", "main", "resources")
    res = sorted(p for p in glob.glob(os.path.join(res_root, "**", "*"), recursive=True)
                 if os.path.isfile(p))
    return srcs, res_root, res


def classes_dir():
    """The class directory for the current sources, building it if needed.
    Returns (path, seconds spent compiling)."""
    jars = spark_jars()
    srcs, res_root, res = _sources()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD_ROOT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".built")):
        return out, 0.0
    start = time.time()
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = []
    for name in SCALA_JARS:
        found = glob.glob(os.path.join(jars, f"{name}-2.13*.jar"))
        if not found:
            raise BuildError(f"{name} jar not found in {jars}")
        compiler.append(found[0])
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-classpath", os.path.join(jars, "*"),
           "-d", tmp, "-nowarn", "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(tmp, ".built"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for stale in glob.glob(os.path.join(BUILD_ROOT, "classes-*")):
        if stale != out and ".tmp" not in stale:
            shutil.rmtree(stale, ignore_errors=True)
    return out, time.time() - start


if __name__ == "__main__":
    try:
        path, secs = classes_dir()
    except BuildError as e:
        sys.exit(str(e))
    print(f"{path} ({secs:.1f} s)")
