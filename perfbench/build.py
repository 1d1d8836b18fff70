"""Build file of the benchmark: compiles the program and the harness.

The checkout's src/main/scala and perfbench/harness/src are compiled
together, with the Scala compiler that ships in Spark's jars directory, into
.bench_build/perfbench/classes. The program's own sbt build is not used,
because sbt writes its caches outside the checkout. A stamp holding the
hash of every source skips the compile when nothing changed.

    python3 perfbench/build.py            # build, print the classes directory
    python3 perfbench/build.py --tests    # also compile harness/test
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = ["src/main/scala", "perfbench/harness/src"]


def spark_jars():
    """Spark's jars directory: under SPARK_HOME, else the `unmanagedBase`
    that the program's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m is None:
        raise RuntimeError("set SPARK_HOME: build.sbt names no unmanagedBase")
    return m.group(1)


def sources(dirs):
    files = []
    for d in dirs:
        files += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_scala(files, out, classpath, log):
    """Compile files into out; raise with the compiler's output on failure."""
    os.makedirs(out, exist_ok=True)
    args = os.path.join(os.path.dirname(out), os.path.basename(out) + ".args")
    with open(args, "w") as fh:
        fh.write("\n".join(['"%s"' % f for f in files]))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-cp", classpath]
    r = subprocess.run(cmd + ["@" + args], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    with open(log, "w") as fh:
        fh.write(r.stdout)
    if r.returncode != 0:
        raise RuntimeError("compile failed (%s):\n%s" % (log, r.stdout[-4000:]))


def _stamped(stamp, digest):
    if not os.path.exists(stamp):
        return False
    with open(stamp) as fh:
        return fh.read() == digest


def build(tests=False):
    """Return the classes directory, compiling first if sources changed."""
    files = sources(SOURCE_DIRS)
    if not files or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("no program sources under %s/src/main/scala" % ROOT)
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "classes.stamp")
    digest = source_hash(files)
    if not _stamped(stamp, digest):
        shutil.rmtree(classes, ignore_errors=True)
        compile_scala(files, classes, None, os.path.join(OUT, "compile.log"))
        with open(stamp, "w") as fh:
            fh.write(digest)
    if not tests:
        return classes
    test_files = sources(["perfbench/harness/test"])
    test_classes = os.path.join(OUT, "test-classes")
    test_stamp = os.path.join(OUT, "test-classes.stamp")
    test_digest = digest + source_hash(test_files)
    if not _stamped(test_stamp, test_digest):
        shutil.rmtree(test_classes, ignore_errors=True)
        compile_scala(test_files, test_classes, classes, os.path.join(OUT, "test-compile.log"))
        with open(test_stamp, "w") as fh:
            fh.write(test_digest)
    return classes, test_classes


if __name__ == "__main__":
    print(build(tests="--tests" in sys.argv))
