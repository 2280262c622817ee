"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) and the benchmark (`perfbench/src`)
from source with the Scala compiler that ships among Spark's jars, into
`.bench_build/classes`. A content hash of every source file keys the
build, so an unchanged tree is not compiled twice.

    python3 perfbench/build.py        # prints the run classpath
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# project's build.sbt passes to forked runs).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the project's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("Spark jars not found: set SPARK_HOME or build.sbt unmanagedBase")


def sources() -> tuple[list[Path], list[Path]]:
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((BENCH / "src").glob("*.scala"))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT / 'src/main/scala'}")
    if not bench:
        raise BuildError(f"no benchmark sources under {BENCH / 'src'}")
    return engine, bench


def scalac(jars: Path, classpath: list[str], out: Path, files: list[Path]) -> None:
    out.mkdir(parents=True)
    args = BUILD / f"{out.name}.args"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", os.pathsep.join(classpath), f"@{args}"]
    res = subprocess.run(cmd, cwd=ROOT)
    if res.returncode != 0:
        raise BuildError(f"scalac failed for {out.name} (exit {res.returncode})")


def digest(files: list[Path]) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def build() -> list[str]:
    """Compile whatever part changed; return the run classpath. The
    benchmark is recompiled whenever the engine is. A lock file keeps
    concurrent runs from compiling into the same directory."""
    jars = spark_jars()
    engine, bench = sources()
    BUILD.mkdir(parents=True, exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return compile_changed(jars, engine, bench)


def compile_changed(jars: Path, engine: list[Path], bench: list[Path]) -> list[str]:
    classes = BUILD / "classes"
    program, harness = classes / "engine", classes / "bench"
    stamp = classes / "STAMP"
    key_engine = digest(engine)
    key = key_engine + " " + digest(bench)
    old = stamp.read_text().split(" ") if stamp.is_file() else []
    if old != key.split(" "):
        print("[perfbench] compiling", file=sys.stderr)
        stamp.unlink(missing_ok=True)
        if old[:1] != [key_engine] or not program.is_dir():
            shutil.rmtree(program, ignore_errors=True)
            scalac(jars, [f"{jars}/*"], program, engine)
            stamp.write_text(key_engine + " -")
        shutil.rmtree(harness, ignore_errors=True)
        scalac(jars, [str(program), f"{jars}/*"], harness, bench)
        stamp.write_text(key)
    return [str(harness), str(program), f"{jars}/*"]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        sys.exit(f"[perfbench] {e}")
