#!/usr/bin/env python3
"""Build file of the benchmark.

Usage: python3 perfbench/build.py   (from the repository root)

1. Compiles the program's Scala sources (src/main/scala) together with the
   benchmark's own (perfbench/src) with the Scala compiler that ships in
   Spark's jars, and packs the classes and src/main/resources into
   .bench_build/perfbench.jar.
2. Generates the gate workloads' read-only input: the program's GenFixture
   tables at multiplier 0.1 (sf0.1 row counts) in .bench_build/fixture.
   GenFixture is seed-free, so one fixture serves every run of a build.
   The same JVM records a class-data-sharing archive of the classes it
   loaded (.bench_build/perfbench.jsa: Spark SQL, parquet and the program's
   session). Every run maps it, which takes seconds of class loading off
   each JVM's start. The build fails if either is missing, so every run of
   a build has the same JVM set-up.

The steps are skipped when a stamp over every input's path and content
(the program's sources and resources, the benchmark's sources and this
file) matches the last build's, so only the first run in a checkout pays.
This module also holds the pinned JVM settings every run uses.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
JAR = BUILD / "perfbench.jar"
ARCHIVE = BUILD / "perfbench.jsa"
FIXTURE = BUILD / "fixture"
STAMP = BUILD / "stamp"
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
FIXTURE_MULTIPLIER = "0.1"
HEAP = "3g"

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def sources():
    prog = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    own = sorted((BENCH / "src").glob("*.scala"))
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return prog + own


def resources():
    return sorted(p for p in (ROOT / "src" / "main" / "resources").rglob("*") if p.is_file())


def stamp():
    h = hashlib.sha256()
    for p in sources() + resources() + [Path(__file__).resolve()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def task_threads():
    """Spark task threads: the machine's, capped at 4 (the program's own
    default is 32)."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def jvm(run_dir: Path, main_class: str, args, cds=f"-XX:SharedArchiveFile={ARCHIVE}"):
    """(command, environment) running `main_class` with the pinned settings:
    fixed heap, at most 4 task threads, the build's class-data-sharing
    archive, and every scratch, spill and temp file of the program under
    `run_dir`. `cds` replaces the archive option (the build step that
    records the archive passes -XX:ArchiveClassesAtExit)."""
    for d in ("scratch", "tmp", "blocks"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")
           and k not in ("SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS")}
    env.update({
        "SPARK_GRAFT_CPUS": str(task_threads()),
        "SPARK_GRAFT_TMPDIR": str(run_dir / "scratch"),
        "SPARK_LOCAL_DIRS": str(run_dir / "blocks"),
    })
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss16m"] + ADD_OPENS +
           [f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-Dspark.ui.enabled=false"] +
           [cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] +
           ["-cp", os.pathsep.join([str(JAR), str(SPARK_JARS / "*")]), main_class] + list(args))
    return cmd, env


def compile_jar():
    classes = BUILD / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources()) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss64m", "-Xmx3g", "-cp", str(SPARK_JARS / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", str(SPARK_JARS / "*"), "@" + str(argfile)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compilation failed")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted(p for p in classes.rglob("*") if p.is_file()):
            z.write(p, p.relative_to(classes).as_posix())
        for p in resources():
            z.write(p, p.relative_to(ROOT / "src" / "main" / "resources").as_posix())
    shutil.rmtree(classes)


def generate_fixture():
    shutil.rmtree(FIXTURE, ignore_errors=True)
    work = BUILD / "fixture-work"
    shutil.rmtree(work, ignore_errors=True)
    cmd, env = jvm(work, "graft.sources.GenFixture", [str(FIXTURE), FIXTURE_MULTIPLIER],
                   cds=f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    with open(BUILD / "fixture.log", "w") as log:
        code = subprocess.run(cmd, cwd=work, env=env, stdout=log,
                              stderr=subprocess.STDOUT).returncode
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not (FIXTURE / "_GRAFT_GEN_OK").exists() or not ARCHIVE.exists():
        sys.stderr.write((BUILD / "fixture.log").read_text()[-6000:])
        raise SystemExit("perfbench: fixture generation or class-data-sharing archive failed")


def build():
    st = stamp()
    if STAMP.exists() and STAMP.read_text() == st and JAR.exists() and ARCHIVE.exists():
        return
    STAMP.unlink(missing_ok=True)
    ARCHIVE.unlink(missing_ok=True)
    BUILD.mkdir(exist_ok=True)
    compile_jar()
    generate_fixture()
    STAMP.write_text(st)


if __name__ == "__main__":
    build()
