"""Refresh-cycle and graph-report benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source when they changed (see
build.py), then runs one workload in a fresh JVM. The last line of standard
output is the JSON result; the line before it is a detail record (run
environment, sizes, failures, error rate, report tail). With `--trace 1` the
spans are also written under `.bench_build/traces/`. Workloads, metrics and
known defects are described in NOTES.md.
"""
import os
import pathlib
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

RUN_TIMEOUT_S = 170


def commit(root: pathlib.Path) -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main() -> int:
    root = pathlib.Path.cwd()
    try:
        classes, digest = build.build(root)
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    tmp = root / ".bench_build" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    main_class, args = ("graftbench.SelfTest", []) if sys.argv[1:] == ["--selftest"] \
        else ("graftbench.Bench", sys.argv[1:])
    # A fixed, pre-touched heap keeps the peak resident set from following
    # the heap's growth decisions, which vary from run to run. Fewer JIT and
    # GC threads leave the four cores to Spark's task threads.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:CICompilerCount=2",
           "-XX:ParallelGCThreads=2", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}/*", main_class] + args
    env = dict(os.environ, GRAFTBENCH_COMMIT=commit(root), GRAFTBENCH_SOURCE=digest)
    try:
        r = subprocess.run(cmd, cwd=root, env=env, stdout=subprocess.PIPE, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired as e:
        sys.stdout.write(e.stdout or "")
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 1
    sys.stdout.write(r.stdout)
    return r.returncode


if __name__ == "__main__":
    sys.exit(main())
