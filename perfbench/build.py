"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/scala) with the Scala compiler that ships in the
Spark distribution, packs them with the program's resources into
perfbench/.out/program.jar, and records a class-data-sharing archive of
the classes a harness JVM loads (perfbench/.out/program.jsa), so that each
run's JVM maps them instead of loading them one by one. A stamp of the
sources skips the build when nothing changed.

    python3 perfbench/build.py
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
OUT = BENCH / ".out"
JAR = OUT / "program.jar"
ARCHIVE = OUT / "program.jsa"
STAMP = OUT / "program.stamp"
HEAP = "3g"
TRAIN_TIMEOUT_S = 300

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def spark_jars():
    """The jars of $SPARK_HOME, or of the first Spark install on the PATH
    (a bin/spark-submit with a jars directory beside bin)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str((Path(d) / "spark-submit").resolve().parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep) if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if home and (Path(home) / "jars").is_dir():
            return Path(home) / "jars"
    sys.exit("perfbench: no Spark jars found; set SPARK_HOME")


def sources():
    return sorted((ROOT / "src" / "main" / "scala").rglob("*.scala")) + \
        sorted((BENCH / "scala").rglob("*.scala"))


def classpath():
    # class-data sharing takes classes from jars only, so the program is
    # one jar rather than a classes directory
    return os.pathsep.join([str(JAR), str(spark_jars() / "*")])


def jvm(main_args, work, log, timeout, archive_flag=None):
    """Runs the harness in a fresh JVM with a fixed heap; returns its exit
    code, or None when it ran out of time. `archive_flag` defaults to using
    the class-data archive when there is one."""
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    if archive_flag is None and ARCHIVE.is_file():
        archive_flag = f"-XX:SharedArchiveFile={ARCHIVE}"
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + ([archive_flag] if archive_flag else []) + [
        "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath(), "perfbench.Harness"] + main_args + ["--work", str(work)]
    # Spark's scratch space stays inside the checkout (spark.local.dir)
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=err, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None
        finally:
            shutil.rmtree(work, ignore_errors=True)


def compile_jar():
    classes = OUT / "classes.tmp"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    jars = str(spark_jars() / "*")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-classpath", jars, "-d", str(classes), "-nowarn"] + [str(f) for f in sources()]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"perfbench: compile failed (exit {r.returncode})")
    tmp = JAR.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for base in (classes, ROOT / "src" / "main" / "resources"):
            for f in sorted(p for p in base.rglob("*") if p.is_file()):
                z.write(f, f.relative_to(base).as_posix())
    tmp.replace(JAR)
    shutil.rmtree(classes)


def record_archive():
    """Runs the self-test, which starts a session and reads generated feeds,
    and archives the classes it loaded. Without an archive the runs load
    classes from the jars, only slower."""
    ARCHIVE.unlink(missing_ok=True)
    tmp = ARCHIVE.with_suffix(".tmp")
    tmp.unlink(missing_ok=True)
    (OUT / "logs").mkdir(exist_ok=True)
    rc = jvm(["selftest"], OUT / "work-archive", OUT / "logs" / "archive.log",
             TRAIN_TIMEOUT_S, archive_flag=f"-XX:ArchiveClassesAtExit={tmp}")
    if rc == 0 and tmp.is_file():
        tmp.rename(ARCHIVE)
    else:
        tmp.unlink(missing_ok=True)
        print(f"perfbench: no class-data archive (self-test exit {rc}); "
              f"see {OUT / 'logs' / 'archive.log'}", file=sys.stderr)


def ensure_built():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    if JAR.is_file() and STAMP.is_file() and STAMP.read_text() == stamp:
        return
    STAMP.unlink(missing_ok=True)
    compile_jar()
    record_archive()
    STAMP.write_text(stamp)


if __name__ == "__main__":
    OUT.mkdir(exist_ok=True)
    ensure_built()
