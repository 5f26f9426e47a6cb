#!/usr/bin/env python3
"""Compile graft (src/main/scala) and the benchmark harness
(perfbench/src) into <build dir>/graft-bench.jar with the Scala
compiler that ships in Spark's jar directory, then record a class-data
sharing archive of a JVM that runs the batch set-up and queries and the
serving set-up once, so every benchmark JVM starts from pre-parsed
classes. Run from the root of a graft checkout.

A stamp over every source file's path and bytes skips the build when
nothing changed since the last one.

Usage: python3 perfbench/build.py [build dir]   (default .bench_build)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: Spark's jars not found (set SPARK_HOME)")
    return Path(home) / "jars"


def sources():
    files = []
    for root in SOURCE_ROOTS:
        if not Path(root).is_dir():
            raise SystemExit(f"perfbench: {root}/ missing; run from a graft checkout")
        files += sorted(str(p) for p in Path(root).rglob("*.scala"))
    return files


def java_cmd(build_dir, run_dir, *args, dump=False):
    """The benchmark JVM: its temp dir, Spark local dir and streaming
    checkpoints under `run_dir`, graft's classes and Spark's jars on the
    class path, and the shared class archive when there is one."""
    build_dir, run_dir = Path(build_dir), Path(run_dir)
    archive = build_dir / "graft-bench.jsa"
    cds = ([f"-XX:ArchiveClassesAtExit={archive}.tmp"] if dump else
           [f"-XX:SharedArchiveFile={archive}"] if archive.is_file() else [])
    return (["java", "-Xms4g", "-Xmx4g", "-XX:-UsePerfData", "-Xss8m"] + cds +
            [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
            [f"-Djava.io.tmpdir={run_dir / 'tmp'}", f"-Dspark.local.dir={run_dir / 'local'}",
             f"-Dspark.sql.streaming.checkpointLocation={run_dir / 'local' / 'checkpoints'}",
             "-cp", f"{build_dir / 'graft-bench.jar'}:{spark_jars()}/*", "perfbench.Main"] +
            [str(a) for a in args])


def build(build_dir):
    """Build the jar and class archive unless the sources are unchanged."""
    build_dir = Path(build_dir)
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        h.update(Path(f).read_bytes())
    stamp = h.hexdigest()
    stamp_file = build_dir / "STAMP"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    stamp_file.unlink(missing_ok=True)
    classes = build_dir / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    (build_dir / "sources.txt").write_text("\n".join(files) + "\n")
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", f"{jars}/*", f"@{build_dir / 'sources.txt'}"]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with zipfile.ZipFile(build_dir / "graft-bench.jar", "w") as z:
        for p in sorted(classes.rglob("*.class")):
            z.write(p, p.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    # the archive is an optimization: without it the JVM loads classes
    # from the jars as usual
    archive = build_dir / "graft-bench.jsa"
    archive.unlink(missing_ok=True)
    warm = build_dir / "warmup"
    shutil.rmtree(warm, ignore_errors=True)
    for sub in ("tmp", "local", "out"):
        (warm / sub).mkdir(parents=True)
    data = Path(__file__).resolve().parent / "data" / "sf0.01"
    subprocess.run(java_cmd(build_dir, warm, "warmup", 0, 0, 0, data, warm / "out", dump=True),
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    if Path(f"{archive}.tmp").is_file():
        Path(f"{archive}.tmp").rename(archive)
    shutil.rmtree(warm, ignore_errors=True)
    stamp_file.write_text(stamp)


if __name__ == "__main__":
    build(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")
