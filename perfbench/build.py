#!/usr/bin/env python3
"""Build file of the benchmark: compiles the project's main sources plus
the harness under perfbench/harness with scalac, against the Spark jars
(the same jars the project's build.sbt compiles against), into
.bench_build/harness.jar, then records a class-data-sharing archive
(.bench_build/harness.jsa) from one short pipe-fetch run, which halves the
JVM and Spark start-up of every run. Skips all of it when no source
changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
JAR = OUT / "harness.jar"
ARCHIVE = OUT / "harness.jsa"
HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_jars() -> str:
    """The Spark jars build.sbt compiles against (its `unmanagedBase`),
    else $SPARK_HOME/jars."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    jars = Path(m.group(1)) if m else Path(os.environ["SPARK_HOME"]) / "jars"
    return str(jars / "*")


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"no project sources at {main}: run from a full checkout")
    return sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "harness").glob("*.scala"))


def jvm(work: Path) -> list:
    """The harness JVM command up to its main class, keeping every file
    it writes under `work`."""
    return (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}"] + ADD_OPENS + [
        f"-Djava.io.tmpdir={work}", f"-Dspark.local.dir={work / 'local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        "-cp", f"{JAR}{os.pathsep}{spark_jars()}", "perfbench.Main"])


def build() -> None:
    """Compile, package and record the start-up archive if needed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "build.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    for p in (classes, JAR, ARCHIVE, stamp_file):
        shutil.rmtree(p) if p.is_dir() else p.unlink(missing_ok=True)
    classes.mkdir(parents=True)
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-cp", jars] + [str(p) for p in srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    with zipfile.ZipFile(JAR, "w") as z:
        for p in sorted(classes.rglob("*.class")):
            z.write(p, p.relative_to(classes).as_posix())
    train = OUT / "train"
    shutil.rmtree(train, ignore_errors=True)
    train.mkdir()
    cmd = jvm(train)
    cmd.insert(1, f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    r = subprocess.run(cmd + ["--workload", "pipe-fetch", "--seed", "0", "--seconds", "0",
                              "--trace", "0", "--work", str(train), "--cpus", "2"],
                       cwd=train, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    shutil.rmtree(train, ignore_errors=True)
    if r.returncode != 0:
        ARCHIVE.unlink(missing_ok=True)  # runs then start without it
    stamp_file.write_text(stamp)


if __name__ == "__main__":
    build()
