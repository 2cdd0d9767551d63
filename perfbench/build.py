#!/usr/bin/env python3
"""Build file of the gate benchmark.

Compiles graft's sources (`src/main/scala`) together with the harness
(`perfbench/scala`) using the Scala compiler that ships in Spark's jars,
then dumps every gate name and its DuckDB oracle SQL. Both go to
`perfbench/builds/<source digest>/` in the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`), and every later run of the
same sources reuses them.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# JVM options of every java process here: what spark-submit passes to a
# JDK 17 driver (build.sbt's jdk17AddOpens), and no hsperfdata file in /tmp.
JAVA_OPTS = ["-XX:-UsePerfData"] + [arg for pkg in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
) for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return (d if d.is_absolute() else ROOT / d) / "perfbench"


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory that build.sbt compiles
    graft against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        found = re.search(r'unmanagedBase := file\("([^"]+)"\)',
                          sbt.read_text() if sbt.exists() else "")
        if not found:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = Path(found.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler in {jars}")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"no graft sources at {main}")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "scala").glob("*.scala"))


def classpath(classes):
    return f"{classes}{os.pathsep}{spark_jars()}/*"


def build():
    """Compile unless this source digest was built before; return
    (classes dir, oracle json). Each digest gets its own directory, so
    builds of two versions of the program sit side by side. A build is
    made in a directory of its own process and renamed into place whole,
    and no build is ever deleted, so runs that overlap never pull classes
    from under each other's JVM."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    builds = build_dir() / "builds"
    done = builds / digest.hexdigest()[:20]
    if not done.is_dir():
        fresh = builds / f"{done.name}.tmp-{os.getpid()}"
        try:
            compile_into(fresh, srcs)
            fresh.rename(done)
        except OSError:
            if not done.is_dir():  # else another run renamed the same build first
                raise
        finally:
            shutil.rmtree(fresh, ignore_errors=True)
    return done / "classes", done / "oracle.json"


def compile_into(target, srcs):
    """scalac `srcs` into `target/classes`, then dump the oracle SQL to
    `target/oracle.json`."""
    shutil.rmtree(target, ignore_errors=True)
    classes = target / "classes"
    classes.mkdir(parents=True)
    args_file = target / "sources.txt"
    args_file.write_text("\n".join(str(p) for p in srcs) + "\n")
    jars = f"{spark_jars()}/*"
    compile_cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                   "-nowarn", "-d", str(classes), "-classpath", jars, f"@{args_file}"]
    if subprocess.run(compile_cmd, cwd=ROOT).returncode != 0:
        raise BuildError("scalac failed")
    dump = ["java", *JAVA_OPTS, "-cp", classpath(classes),
            "graft.perfbench.OracleDump", str(target / "oracle.json")]
    if subprocess.run(dump, cwd=ROOT).returncode != 0:
        raise BuildError("oracle dump failed")


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build: {e}")
