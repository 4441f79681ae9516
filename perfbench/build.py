"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
into one class directory, with the Scala compiler and the Spark jars of
the local Spark distribution: $SPARK_HOME, or the one whose spark-submit
is on PATH.

The output goes to `.bench_build/perfbench/classes-<digest>` in the
checkout, keyed by a digest of every source file, so a second run of
the same sources reuses it.

    python3 perfbench/build.py            # build, print the class dir
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d, "spark-submit").resolve().parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep) if Path(d, "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = sorted(Path(home, "jars").glob("*.jar"))
        if jars:
            return jars
    raise BuildError("no Spark distribution found: set SPARK_HOME")


def sources(with_tests=False):
    roots = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src" / "main" / "scala"]
    if with_tests:
        roots.append(ROOT / "perfbench" / "src" / "test" / "scala")
    missing = [r for r in roots[:1] if not r.is_dir()]
    if missing:
        raise BuildError(f"engine sources not found: {missing[0]}")
    return sorted(p for r in roots if r.is_dir() for p in r.rglob("*.scala"))


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(with_tests=False):
    """Compiles if needed; returns (class dir, source digest)."""
    files = sources(with_tests)
    digest = source_digest(files)
    out = BUILD / f"classes-{digest}"
    if (out / ".complete").exists():
        return out, digest
    jars = spark_jars()
    compiler = [j for j in jars if j.name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("scala-compiler, scala-library and scala-reflect jars not found with Spark")
    staging = BUILD / f"staging-{digest}-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    args = staging / "sources.txt"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(staging),
           "-classpath", os.pathsep.join(map(str, jars)), f"@{args}"]
    try:
        done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=850)
        if done.returncode != 0:
            raise BuildError("compile failed:\n" + done.stdout.decode(errors="replace")[-4000:])
        args.unlink()
        (staging / ".complete").write_text(digest + "\n")
        shutil.rmtree(out, ignore_errors=True)
        staging.rename(out)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    # class dirs of other source states are stale: keep the build dir bounded
    for old in BUILD.glob("classes-*"):
        if old != out and not with_tests:
            shutil.rmtree(old, ignore_errors=True)
    return out, digest


def classpath(classes):
    return os.pathsep.join([str(classes)] + [str(j) for j in spark_jars()])


if __name__ == "__main__":
    try:
        print(build(with_tests="--tests" in sys.argv)[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
