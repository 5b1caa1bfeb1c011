"""Build file of the benchmark: compiles the engine (src/main/scala) and
the harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution into .bench_build/perfbench.jar, then runs the
harness's self-test once to record a class-data archive
(.bench_build/perfbench.jsa) of the classes a run loads. Every benchmark
JVM maps that archive instead of loading and verifying those classes
again, which takes several seconds off its start; a run's measurements
start after its warm-up and do not include class loading.

The build is skipped when a stamp of every source file's path and bytes
and of the Spark jar names matches the last successful build.

    python3 perfbench/build.py      # build if needed, print the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
COMPILER = "scala-compiler-2.13.17.jar"


def build_dir() -> Path:
    # CARGO_TARGET_DIR, when set, names the build output directory for any
    # toolchain, this one included
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return (ROOT / d).resolve()


def spark_jars() -> Path:
    """The jars of the Spark distribution: $SPARK_HOME/jars, else the one
    next to a spark-submit on PATH."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    homes += [(Path(d) / "spark-submit").resolve().parent.parent
              for d in os.environ.get("PATH", "").split(os.pathsep)
              if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if (home / "jars" / COMPILER).is_file():
            return home / "jars"
    raise SystemExit(f"build: no Spark distribution with {COMPILER} found")


def sources() -> list:
    files = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"build: source directory {d} is missing")
        files += sorted(d.rglob("*.scala"))
    return files


def stamp(files: list, jars: Path) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in sorted(jars.iterdir()):
        h.update(j.name.encode())
    return h.hexdigest()


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(cp, work, args, timeout, archive="use"):
    """Runs perfbench.Main in a fresh JVM writing into `work`; returns its
    exit code. `archive` is "use" (map the class-data archive if there is
    one) or "record" (write it when the JVM exits)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    jsa = build_dir() / "perfbench.jsa"
    # -XX:-UsePerfData: no hsperfdata file under /tmp; everything the
    # run writes stays in its work directory
    opts = ["-Xms1g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}"]
    if archive == "record":
        opts.append(f"-XX:ArchiveClassesAtExit={jsa}")
    elif jsa.is_file():
        opts.append(f"-XX:SharedArchiveFile={jsa}")
    for p in JDK_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    with open(work / "jvm.log", "a") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
        p = subprocess.Popen(["java", *opts, "-cp", cp, "perfbench.Main", *args,
                              "--work", str(work)],
                             cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def ensure() -> str:
    """Builds if the sources changed; returns the runtime classpath."""
    jars = spark_jars()
    files = sources()
    out = build_dir()
    jar = out / "perfbench.jar"
    stamp_file = out / "stamp"
    want = stamp(files, jars)
    cp = f"{jar}{os.pathsep}{jars}/*"
    if stamp_file.is_file() and stamp_file.read_text() == want and jar.is_file():
        return cp
    stamp_file.unlink(missing_ok=True)
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    # the class-data archive takes classes from jars only, not directories
    with zipfile.ZipFile(jar.with_suffix(".tmp"), "w") as z:
        for f in sorted(tmp.rglob("*.class")):
            z.write(f, f.relative_to(tmp).as_posix())
    jar.with_suffix(".tmp").replace(jar)
    shutil.rmtree(tmp)
    (out / "perfbench.jsa").unlink(missing_ok=True)
    work = out / "archive"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir()
    # the self-test loads the session, parquet, query and streaming classes
    # the workloads share; a failed recording only leaves runs slower
    jvm(cp, work, ["selftest"], timeout=170, archive="record")
    shutil.rmtree(work)
    stamp_file.write_text(want)
    return cp


if __name__ == "__main__":
    print(ensure())
