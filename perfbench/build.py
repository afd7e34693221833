"""Build file of the benchmark: compiles graft's engine sources
(src/main/scala) and the benchmark's own sources (perfbench/src) with the
Scala compiler that ships in the Spark distribution ($SPARK_HOME, or the
one whose spark-submit is on the PATH) into <build dir>/classes, where the build directory is
$CARGO_TARGET_DIR or .bench_build in the checkout. A build whose sources
are unchanged is reused.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
HOME = os.path.dirname(HERE)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(HOME, d)


def spark_jars():
    """jars/ of $SPARK_HOME, else of the first spark-submit on the PATH that
    belongs to a full distribution (pip's pyspark script does not)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("no Spark distribution found: set SPARK_HOME")


def sources():
    engine = os.path.join(HOME, "src", "main", "scala")
    bench = os.path.join(HERE, "src")
    found = []
    for top in (engine, bench):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(f.startswith(engine) for f in found):
        fail(f"no engine sources under {engine}; run from a graft checkout")
    return sorted(found)


def build(out):
    """Compile engine + benchmark unless the classes match the sources."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, HOME).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    classes = os.path.join(out, "classes")
    stamp = os.path.join(classes, ".digest")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    jars = spark_jars()
    compiler = [os.path.join(jars, f"scala-{p}-2.13.17.jar")
                for p in ("compiler", "reflect", "library")]
    if not all(os.path.exists(j) for j in compiler):
        fail(f"no Scala 2.13.17 compiler jars in {jars}")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        "-cp", os.pathsep.join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-cp", os.path.join(jars, "*"), "@" + argfile],
                       cwd=HOME)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    with open(os.path.join(tmp, ".digest"), "w") as fh:
        fh.write(digest)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, digest



if __name__ == "__main__":
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    print(build(out)[0])
