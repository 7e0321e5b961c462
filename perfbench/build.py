"""Build file of the benchmark.

Compiles the program under test (every ``src/main/scala/**/*.scala`` of the
checkout) and then the benchmark client (``perfbench/src``) with the Scala
compiler that ships with the Spark distribution, against the Spark jars.
No dependency is fetched. Outputs go to ``.bench_build/`` in the checkout and
are reused while the sources they were built from are unchanged.

    python3 perfbench/build.py            # build, print the run classpath
"""

import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
BUILD_DIR = ".bench_build"


def spark_jars(root):
    """The Spark jars the program builds against: $SPARK_HOME/jars, else the
    `unmanagedBase` directory the checkout's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return pathlib.Path(home) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (pathlib.Path(root) / "build.sbt").read_text())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return pathlib.Path(m.group(1))


def scala_sources(root):
    return sorted(p for p in pathlib.Path(root).rglob("*.scala") if p.is_file())


def digest(files, salt):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_dir(name, srcs, jars, classpath, out_root):
    """Compile `srcs` against `classpath` with the scalac in `jars` into
    out_root/name/classes, unless the same sources already built there;
    returns the classes directory."""
    out = out_root / name
    classes = out / "classes"
    stamp = out / "sources.sha256"
    key = digest(srcs, classpath)
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == key:
        return classes
    tmp = out_root / (name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    (tmp / "classes").mkdir()
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp / "classes"),
           "-classpath", classpath, "@" + str(argfile)]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-6000:])
        raise SystemExit("perfbench: compiling %s failed" % name)
    (tmp / "sources.sha256").write_text(key)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return classes


def build(root, with_tests=False):
    """Build program and benchmark under `root`; returns the run classpath."""
    root = pathlib.Path(root).resolve()
    out_root = root / BUILD_DIR
    out_root.mkdir(exist_ok=True)
    jars = str(spark_jars(root) / "*")
    program = compile_dir("program", scala_sources(root / "src" / "main" / "scala"), jars, jars, out_root)
    cp = jars + os.pathsep + str(program)
    bench = compile_dir("bench", scala_sources(HERE / "src"), jars, cp, out_root)
    cp = cp + os.pathsep + str(bench)
    if with_tests:
        tests = compile_dir("bench-test", scala_sources(HERE / "test"), jars, cp, out_root)
        cp = cp + os.pathsep + str(tests)
    return cp


if __name__ == "__main__":
    print(build(os.getcwd(), with_tests="--tests" in sys.argv))
