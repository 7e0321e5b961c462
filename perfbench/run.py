"""Run one benchmark workload against the program in the current checkout.

    python3 perfbench/run.py --workload query|curation --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest     # generator determinism test

Run it from the root of a checkout. It builds the program from source
(see build.py), runs the workload in one JVM under local[cores] Spark, and
prints the client's summary followed by one JSON result line. Every file it
makes stays in the checkout: builds in .bench_build/, the run's stores and
indexes in a fresh .bench_tmp/<run>/ that is deleted afterwards, span dumps
and JVM logs in .bench_out/.
"""

import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402

CHILD_TIMEOUT_S = 170
WORKLOADS = ("query", "curation")
DRIVER_MEMORY = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    sys.stderr.write("perfbench: %s\n" % msg)
    sys.exit(2)


def java_cmd(classpath, tmp):
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-XX:-UsePerfData", "-Xms" + DRIVER_MEMORY, "-Xmx" + DRIVER_MEMORY, "-Xss16m",
           "-Djava.io.tmpdir=" + str(tmp), "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def run_child(cmd, log):
    """Run the JVM; returns (exit code, stdout lines). Stderr goes to `log`."""
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run exceeded %d s; JVM log in %s" % (CHILD_TIMEOUT_S, log))
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    root = pathlib.Path.cwd()
    if not (root / "src" / "main" / "scala").is_dir() or not (root / "build.sbt").is_file():
        fail("run from the root of a checkout of the program (no src/main/scala or build.sbt here)")
    if not a.selftest and a.workload not in WORKLOADS:
        fail("--workload must be one of %s" % ", ".join(WORKLOADS))

    classpath = build.build(root, with_tests=a.selftest)
    name = "selftest" if a.selftest else "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = root / ".bench_tmp" / ("%s-%d" % (name, os.getpid()))
    out_dir = root / ".bench_out"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out_dir.mkdir(exist_ok=True)
    log = out_dir / (name + ".log")
    cmd = java_cmd(classpath, work / "tmp")
    if a.selftest:
        cmd += ["perfbench.GenDeterminismTest", str(work)]
    else:
        cmd += ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work)]
        if a.trace:
            cmd += ["--spans", str(out_dir / ("spans-%s.jsonl" % name))]
    try:
        code, lines = run_child(cmd, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail("JVM exited with code %d; log in %s" % (code, log))
    if a.selftest:
        print(lines[-1])
        return
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line: %s" % lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
