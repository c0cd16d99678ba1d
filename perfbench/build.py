"""Build file of the benchmark: compiles the engine sources (src/main/scala)
and the benchmark sources (perfbench/src) with the Scala compiler that ships
with Spark, packs them into perfbench/.build/perfbench.jar, and records a
class-data-sharing archive (perfbench/.build/classes.jsa) from one training
run of the benchmark.

The archive holds the parsed classes of Spark, Scala and the engine that a
run loads; a JVM that maps it starts Spark in about a third of the time. It
changes no measured code path, only how fast classes load, and every run
uses it, so runs stay comparable. If the JVM rejects the archive it runs
without it.

A build is skipped when the stamp (a hash of every source file and of the
jar list) matches, so only the first run in a checkout compiles.

    python3 perfbench/build.py          # build if needed, print the classpath
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
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"
OUT = BENCH / ".build"
CLASSES = OUT / "classes"
JAR = OUT / "perfbench.jar"
ARCHIVE = OUT / "classes.jsa"
STAMP = OUT / "stamp"

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars() -> Path:
    """The Spark jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    submit = shutil.which("spark-submit")
    if submit:
        jars = Path(os.path.realpath(submit)).parent.parent / "jars"
        if jars.is_dir():
            return jars
    raise SystemExit("perfbench: no Spark installation found (set SPARK_HOME)")


def sources() -> list:
    if not (ENGINE_SRC / "graft").is_dir():
        raise SystemExit(f"perfbench: engine sources not found under {ENGINE_SRC}")
    return sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def classpath() -> str:
    return os.pathsep.join([str(JAR)] + [str(j) for j in sorted(spark_jars().glob("*.jar"))])


def java(main_args: list, tmp: Path, archive: list) -> list:
    """The JVM command line of one benchmark run (`archive`: CDS options)."""
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=50", "-Xss4m"] + archive +
            [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath(), "perfbench.Main"] + main_args)


def run_archive() -> list:
    return [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.exists() else []


def train() -> None:
    """One short ingest-batch run that writes the class-data-sharing archive
    at exit; it loads the Spark build, batch, write, serving and oracle paths.
    """
    work = OUT / "train"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    args = ["--workload", "ingest-batch", "--seed", "0", "--seconds", "1", "--trace", "0", "--docs", "2000",
            "--work", str(work), "--out", str(work / "out"),
            "--stats", str(BENCH / "corpus-stats.json"), "--spec", str(ROOT / "BENCHMARK.json")]
    print("perfbench: recording the class-data-sharing archive", file=sys.stderr)
    try:
        res = subprocess.run(java(args, work / "tmp", [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]),
                             cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=400)
        if res.returncode != 0:
            ARCHIVE.unlink(missing_ok=True)
            print("perfbench: training run failed; running without the archive", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build() -> str:
    """Compile if the sources changed; return the runtime classpath."""
    srcs = sources()
    jars = sorted(spark_jars().glob("*.jar"))
    h = hashlib.sha256()
    for f in srcs + [BENCH / "corpus-stats.json"]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    digest = h.hexdigest()
    if STAMP.exists() and STAMP.read_text() == digest:
        return classpath()
    compiler = [j for j in jars if j.name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit("perfbench: the Spark installation carries no Scala compiler")
    shutil.rmtree(OUT, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(str(c) for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(CLASSES),
           "-classpath", os.pathsep.join(str(j) for j in jars), f"@{argfile}"]
    res = subprocess.run(cmd, stdout=sys.stderr, timeout=800)
    if res.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    # CDS archives classes from jars only, so the classes go into one
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(CLASSES.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(CLASSES).as_posix())
    shutil.rmtree(CLASSES)
    train()
    STAMP.write_text(digest)
    return classpath()


if __name__ == "__main__":
    print(build())
