"""Build file of the benchmark.

Compiles the repository's Scala sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) against the jars of the Spark distribution
in SPARK_HOME (or the one `spark-submit` on PATH belongs to), with the Scala
compiler that distribution ships. Output goes to `.bench_build/graftbench`
under the repository root; a digest of the sources skips the compile when
nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent


class BuildError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = str(pathlib.Path(exe).resolve().parent.parent)
    jars = pathlib.Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler found; set SPARK_HOME")
    return jars


def out_dir(root: pathlib.Path) -> pathlib.Path:
    return root / ".bench_build" / "graftbench"


def sources(root: pathlib.Path) -> list:
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"no program sources at {main}")
    srcs = sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return [p.relative_to(root) for p in srcs]


def build(root: pathlib.Path) -> tuple:
    """Compile if needed; returns (classes directory, source digest)."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p).encode() + b"\0" + (root / p).read_bytes())
    digest = digest.hexdigest()
    out = out_dir(root)
    classes, stamp = out / "classes", out / "stamp"
    if stamp.exists() and stamp.read_text() == digest and classes.is_dir():
        return classes, digest
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    tmp = root / ".bench_build" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(classes), f"@{argfile}"]
    try:
        subprocess.run(cmd, cwd=root, check=True, stdout=sys.stderr, timeout=800)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        raise BuildError(f"compile failed: {e}") from e
    stamp.write_text(digest)
    return classes, digest


if __name__ == "__main__":
    try:
        print(build(pathlib.Path.cwd())[0])
    except BuildError as e:
        sys.exit(f"build: {e}")
