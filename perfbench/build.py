"""Build of the benchmark harness: compiles the library sources
(`src/main/scala`) together with the harness (`perfbench/src`) with the
Scala compiler that ships in the Spark distribution, into
`.bench_build/classes-<hash>`. The hash covers every source file, so an
unchanged tree reuses its classes and any edit rebuilds."""

import glob
import hashlib
import os
import shutil
import subprocess

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark distribution's jars (Scala compiler included):
    under $SPARK_HOME, else next to a `spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        d = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BuildError("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources(root):
    lib = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(root, "perfbench", "src")
    if not os.path.isdir(lib):
        raise BuildError(f"library sources not found at {lib}")
    files = sorted(glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(bench, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def ensure(root):
    """Compile if needed; returns the classes directory."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    jars = spark_jars()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=840)
    os.remove(argfile)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + (proc.stdout + proc.stderr)[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in glob.glob(os.path.join(root, BUILD_DIR, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out
