"""Build file of the benchmark: compiles graft's main sources and the
benchmark's own Scala sources with the Scala compiler that ships in
Spark's jars ($SPARK_HOME/jars), and packs the classes into one jar (a
jar, not a directory, so the JVM can map the client's classes from a
class-data-sharing archive; see run.py).

The output lives under .bench_build/perfbench/ and is stamped with a hash
of every source file, so a checkout is compiled once and again only when
a source changes. Run it alone with `python3 perfbench/build.py`.
"""
import contextlib
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: set SPARK_HOME to a Spark installation with a jars/ directory")
    return os.path.join(home, "jars", "*")


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"perfbench: missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


@contextlib.contextmanager
def locked():
    """Holds the build lock, so concurrent runs build only once."""
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        yield


def read_stamp(path):
    try:
        with open(path) as fh:
            return fh.read().strip()
    except OSError:
        return None


def pack(classes, jar):
    """Packs a class directory into a jar with fixed entry times."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as zf:
        for dirpath, dirnames, names in os.walk(classes):
            dirnames.sort()
            for n in sorted(names):
                path = os.path.join(dirpath, n)
                info = zipfile.ZipInfo(os.path.relpath(path, classes), date_time=(1980, 1, 1, 0, 0, 0))
                with open(path, "rb") as fh:
                    zf.writestr(info, fh.read())


def build():
    """Returns the client's jar, compiling first if sources changed."""
    jar = os.path.join(OUT, "classes.jar")
    stamp_file = os.path.join(OUT, "classes.stamp")
    files = sources()
    want = stamp(files)
    with locked():
        if os.path.exists(jar) and read_stamp(stamp_file) == want:
            return jar
        tmp = os.path.join(OUT, "classes.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", tmp] + files
        print(f"perfbench: compiling {len(files)} source files", file=sys.stderr, flush=True)
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            sys.exit("perfbench: compilation failed")
        pack(tmp, jar + ".tmp")
        shutil.rmtree(tmp)
        os.replace(jar + ".tmp", jar)
        with open(stamp_file, "w") as fh:
            fh.write(want + "\n")
    return jar


if __name__ == "__main__":
    print(build())
