"""Build the benchmark package: compile the program's sources together with the
benchmark's own (``perfbench/src``) using the Scala compiler that ships in the Spark
distribution's ``jars`` directory. The build is skipped while the sources are
unchanged.

    python3 perfbench/build.py        # from the repository root
"""

import fcntl
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD_DIR = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = pathlib.Path(home) / "bin" / "java" if home else None
    found = str(exe) if exe and exe.exists() else shutil.which("java")
    if not found:
        raise BuildError("no java executable (set JAVA_HOME or put java on PATH)")
    return found


def spark_jars() -> pathlib.Path:
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = pathlib.Path(home) / "jars" if home else None
    if not jars or not jars.is_dir():
        raise BuildError("Spark jars not found (set SPARK_HOME)")
    return jars


def sources(root: pathlib.Path = ROOT) -> list:
    program = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError(f"no program sources under {root / 'src' / 'main' / 'scala'}")
    return program + sorted((HERE / "src").rglob("*.scala"))


def build(root: pathlib.Path = ROOT, build_dir: pathlib.Path = BUILD_DIR) -> pathlib.Path:
    """Compile if needed and return the classes directory."""
    srcs = sources(root)
    jars = spark_jars()
    compiler = sorted(jars.glob("scala-compiler-*.jar")) + sorted(jars.glob("scala-library-*.jar")) \
        + sorted(jars.glob("scala-reflect-*.jar"))
    if len(compiler) != 3:
        raise BuildError(f"scala compiler/library/reflect jars not found in {jars}")
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(root)).encode())
        digest.update(p.read_bytes())
    digest.update(" ".join(c.name for c in compiler).encode())
    stamp = digest.hexdigest()

    build_dir.mkdir(parents=True, exist_ok=True)
    classes = build_dir / "classes"
    with open(build_dir / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = build_dir / "build.stamp"
        if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
            return classes
        shutil.rmtree(classes, ignore_errors=True)
        classes.mkdir()
        argfile = build_dir / "sources.txt"
        argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
        cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
               "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
               "-classpath", str(jars / "*"), f"@{argfile}"]
        res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if res.returncode != 0:
            raise BuildError(f"scalac failed with exit code {res.returncode}")
        stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
