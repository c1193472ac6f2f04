"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own Scala sources (perfbench/src) with the Scala compiler
that ships in Spark's jar directory, packs each into a jar under
.bench_build/perfbench, and records a class-data-sharing archive of the
classes a Spark session loads (a JVM maps the archive instead of loading
and verifying those classes from jars: ~4 s less start-up per run).

A build is skipped when its inputs (source paths and contents, and the
jar list) are unchanged since the last successful one.

    python3 perfbench/build.py        # build, print the classpath
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
ARCHIVE = BUILD / "classes.jsa"

# Spark 4 on JDK 17 needs these module opens when a session starts
# outside spark-submit; the same list build.sbt passes to forked runs.
JDK_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


class BuildError(Exception):
    pass


def jvm_local(tmp):
    """Flags for a Spark JVM that writes nothing outside the checkout:
    the module opens, a temporary directory under `tmp` (native libraries
    unpack there) and no perf-data file."""
    tmp = Path(tmp) / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return [*JDK_OPENS, f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME/jars, else the
    jars beside the spark-submit found on PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for d in candidates:
        jars = sorted(d.glob("*.jar"))
        if jars:
            return jars
    raise BuildError("no Spark jars found: set SPARK_HOME or put spark-submit on PATH")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    if exe and exe.exists():
        return str(exe)
    found = shutil.which("java")
    if not found:
        raise BuildError("no java executable found")
    return found


def _sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _stamp(sources, jars):
    h = hashlib.sha256(Path(__file__).read_bytes())
    for p in sources:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    return h.hexdigest()


def _scalac(jars, classpath, out, sources):
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    args = out.parent / (out.name + ".args")
    args.write_text("\n".join(
        ["-nowarn", "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
         "-d", str(out), "-cp", os.pathsep.join(map(str, classpath))]
        + [str(s) for s in sources]) + "\n")
    compiler_cp = os.pathsep.join(
        str(j) for j in jars if j.name.startswith(("scala-compiler", "scala-library", "scala-reflect")))
    r = subprocess.run(
        [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler_cp,
         "scala.tools.nsc.Main", f"@{args}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {out.name}:\n{r.stdout[-4000:]}")


def _jar(classes, jar):
    """Pack a class directory into a jar: class-data sharing only
    archives classes loaded from jars."""
    jar.unlink(missing_ok=True)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)


def _archive(classpath):
    """Record the classes the self-test's Spark session loads. A failure
    only costs start-up time: runs then start without the archive."""
    ARCHIVE.unlink(missing_ok=True)
    r = subprocess.run(
        [java(), *jvm_local(BUILD / "archive"), f"-XX:ArchiveClassesAtExit={ARCHIVE}", "-Xmx1g",
         "-cp", os.pathsep.join(map(str, classpath)), "graft.perfbench.SelfTest"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300)
    if r.returncode != 0:
        ARCHIVE.unlink(missing_ok=True)
        print(f"perfbench: no class-data archive:\n{r.stdout[-2000:]}", file=sys.stderr)


def build():
    """Compile if needed; return the runtime classpath (list of paths)."""
    main_src = ROOT / "src" / "main" / "scala"
    bench_src = ROOT / "perfbench" / "src"
    main_sources = _sources(main_src) if main_src.is_dir() else []
    if not main_sources:
        raise BuildError(f"no program sources under {main_src.relative_to(ROOT)}")
    bench_sources = _sources(bench_src)
    jars = spark_jars()
    main_jar, bench_jar = BUILD / "main.jar", BUILD / "bench.jar"
    classpath = [bench_jar, main_jar] + jars
    stamp_file = BUILD / "stamp"
    stamp = _stamp(main_sources + bench_sources, jars)
    if not (stamp_file.exists() and stamp_file.read_text() == stamp):
        BUILD.mkdir(parents=True, exist_ok=True)
        stamp_file.unlink(missing_ok=True)
        main_out, bench_out = BUILD / "main-classes", BUILD / "bench-classes"
        _scalac(jars, jars, main_out, main_sources)
        _scalac(jars, [main_out] + jars, bench_out, bench_sources)
        _jar(main_out, main_jar)
        _jar(bench_out, bench_jar)
        _archive(classpath)
        stamp_file.write_text(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(os.pathsep.join(map(str, build())))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
