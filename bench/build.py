"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala) together with the benchmark's own (bench/src) into
bench/.build/classes-<digest>, with the Scala compiler that ships in
Spark's jar directory. Offline by construction: the only inputs are the
sources, the JDK and Spark's jars ($SPARK_HOME/jars, or the jars next to
the spark-submit on PATH).

A build is keyed on a digest of every source file, so an unchanged tree
reuses it and a changed one rebuilds from scratch.

Usage: python3 bench/build.py   (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)



class BuildError(Exception):
    pass


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    """$SPARK_HOME/jars, else the jars beside a Spark distribution's
    bin/spark-submit found on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: set SPARK_HOME or put Spark's bin on PATH")


def classpath():
    return os.path.join(spark_jars(), "*")


def build():
    """Return the classes directory, compiling it first if needed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BuildError(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    cp = classpath()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fp:
            h.update(hashlib.sha256(fp.read()).digest())
    build_dir = os.path.join(HERE, ".build")
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    os.makedirs(build_dir, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fp:
        fp.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-d", tmp, "-classpath", cp, "-nowarn", "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in os.listdir(build_dir):
        if old.startswith("classes-") and old != os.path.basename(tmp):
            shutil.rmtree(os.path.join(build_dir, old), ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
