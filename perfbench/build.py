"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala` at the checkout root) together with the harness
(`perfbench/src`) into `perfbench/.build/classes`, with the Scala
compiler that ships among Spark's jars. A stamp of the source contents
makes a rebuild a no-op when nothing changed.

    python3 perfbench/build.py        # from the checkout root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")


def spark_jars() -> str:
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `jars` next to
    the first `bin` directory on the PATH that has one with the Scala
    compiler in it."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d.rstrip("/")) for d in os.environ.get("PATH", "").split(os.pathsep)]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark jars with a Scala compiler (set SPARK_HOME)")


def sources() -> list:
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(prog, "graft")):
        raise SystemExit(f"perfbench: program sources not found at {prog}")
    files = []
    for base in (prog, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def build() -> str:
    """Compile if needed; returns the classpath to run the harness."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    cp = f"{classes}:{jars}/*"
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", f"{jars}/*", "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
