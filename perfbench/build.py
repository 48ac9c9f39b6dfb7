"""Build file of the benchmark: compiles the engine (src/main/scala) and
the harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution into .bench_build/classes. A stamp of every source
file's content skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
CLASSES = os.path.join(BUILD, "classes")
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
XMX = "3g"
XMN = "1g"


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars next
    to the `spark-submit` on PATH. Spark also supplies the Scala compiler."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise FileNotFoundError(
            "no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    eng = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                           recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    return eng, own


def java_cmd(*extra):
    return ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp",
            f"{spark_jars()}/*", *extra]


def jvm(main, *args, tmp):
    """The command line every benchmark JVM runs with."""
    opens = [x for p in JDK_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed-size heap and young generation: the resident-set high-water
    # mark then tracks the engine's live data, not the collector's resizing
    # -XX:-UsePerfData: no hsperfdata files outside the checkout
    return ["java", *opens, "-XX:-UsePerfData", "-XX:+UseParallelGC",
            f"-Xms{XMX}", f"-Xmx{XMX}",
            f"-Xmn{XMN}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{spark_jars()}/*", main, *args]


def build():
    """Compile if needed. Raises on a missing engine source tree or a
    failed compile."""
    eng, own = sources()
    if not eng:
        raise FileNotFoundError(
            f"no engine sources under {ROOT}/src/main/scala")
    h = hashlib.sha256(" ".join(jvm("", tmp="")).encode())
    for f in eng + own + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    if os.path.exists(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    if os.path.exists(stamp):
        os.remove(stamp)
    r = subprocess.run(
        java_cmd("scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
                 "-classpath", f"{spark_jars()}/*", *eng, *own),
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError("scalac failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


if __name__ == "__main__":
    build()
