"""Build file of the lakebench package.

Compiles the GraftLake engine sources (src/main/scala of the checkout)
together with the harness sources under lakebench/src into one jar, with
the Scala compiler and the Spark jars of the local Spark installation (the
same jars the engine's own build compiles against). Then one training run
of every workload's set-up and warm-up records the classes they load into
a class-data-sharing archive, which cuts JVM and Spark start-up in every
run. A content fingerprint of every input makes a rebuild a no-op when
nothing changed.

    python3 lakebench/build.py        # prints the jar
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = HERE / "src"
BUILD = ROOT / ".bench_build" / "lakebench"
JAR = BUILD / "lakebench.jar"
ARCHIVE = BUILD / "lakebench.jsa"
STAMP = BUILD / "build.stamp"

# Spark 4 on JDK 17 needs these outside spark-submit; the same list the
# engine's build passes to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars_dir() -> Path:
    """The jars of the Spark installation: $SPARK_HOME/jars, else the one
    next to the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("no Spark installation: set SPARK_HOME")
    return Path(home) / "jars"


def spark_jars() -> list:
    jars = sorted(glob.glob(str(spark_jars_dir() / "*.jar")))
    if not jars:
        raise BuildError("the Spark installation has no jars")
    return jars


def java_bin() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").is_file():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH")
    return found


def _files(root: Path, suffix: str) -> list:
    return sorted(p for p in root.rglob("*") if p.is_file() and p.name.endswith(suffix))


def inputs():
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources not found under {ENGINE_SRC.relative_to(ROOT)}")
    engine = _files(ENGINE_SRC, ".scala")
    bench = _files(BENCH_SRC, ".scala")
    if not engine:
        raise BuildError("no engine .scala sources")
    resources = [p for p in ENGINE_RES.rglob("*") if p.is_file()] if ENGINE_RES.is_dir() else []
    return engine + bench, sorted(resources)


def fingerprint(files) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
        h.update(b"\0")
    return h.hexdigest()


def jvm_args(run_dir: Path) -> list:
    """Options of every benchmark JVM, the training run's included: the
    class-data archive is only used by JVMs started the same way. The heap
    is fixed and touched at launch, so no op pays the first touch of a heap
    page, which on a shared host costs more at some times than at others.
    The launch time lets setup_s count the JVM start."""
    args = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}", f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            f"-Dlakebench.launchMs={int(time.time() * 1000)}"]
    for p in ADD_OPENS:
        args += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return args


def classpath() -> str:
    return os.pathsep.join([str(JAR)] + spark_jars())


def fresh_dir(d: Path) -> Path:
    shutil.rmtree(d, ignore_errors=True)
    (d / "tmp").mkdir(parents=True)
    return d


def build() -> Path:
    sources, resources = inputs()
    jars = spark_jars()
    fp = fingerprint(sources + resources + [Path(__file__)])
    if JAR.is_file() and ARCHIVE.is_file() and STAMP.is_file() and STAMP.read_text() == fp:
        return JAR
    compiler = [j for j in jars if Path(j).name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("the Spark installation lacks the Scala compiler jars")
    BUILD.mkdir(parents=True, exist_ok=True)
    STAMP.unlink(missing_ok=True)
    out = BUILD / "classes"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir()
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", str(out), "@" + str(argfile)]
    print(f"[lakebench] compiling {len(sources)} sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise BuildError("scalac failed")
    for r in resources:
        dest = out / r.relative_to(ENGINE_RES)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dest)
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(p for p in out.rglob("*") if p.is_file()):
            z.write(f, f.relative_to(out).as_posix())
    shutil.rmtree(out)

    print("[lakebench] training the class-data archive", file=sys.stderr, flush=True)
    ARCHIVE.unlink(missing_ok=True)
    train = fresh_dir(BUILD / "train")
    cmd = [java_bin()] + jvm_args(train) + [f"-XX:ArchiveClassesAtExit={ARCHIVE}", "-cp", classpath(),
           "lakebench.Main", "--workload", "train", "--seed", "1", "--seconds", "1", "--trace", "0",
           "--out", str(BUILD)]
    done = subprocess.run(cmd, cwd=train, stdout=sys.stderr, stderr=sys.stderr)
    shutil.rmtree(train, ignore_errors=True)
    if done.returncode != 0 or not ARCHIVE.is_file():
        raise BuildError("the training run failed")
    STAMP.write_text(fp)
    return JAR


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[lakebench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
