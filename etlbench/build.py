"""Build file of the benchmark: compiles the engine (src/main) and the
benchmark driver (etlbench/src) from source with the Scala compiler that
ships in Spark's jars directory into <build dir>/etlbench.jar, then dumps a
class-data-sharing archive (<build dir>/etlbench.jsa) from a short run.

A build is skipped when the stamp of the sources (paths and contents, plus
the Spark jar names) matches the last successful build.

    python3 etlbench/build.py          # build into .bench_build/
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

# No hsperfdata file outside the checkout; Spark on JDK 17 outside
# spark-submit needs the module opens spark-submit adds.
JVM_OPENS = ["-XX:-UsePerfData"] + [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def build_dir(root=ROOT):
    """`$CARGO_TARGET_DIR` when set (relative paths are taken from the
    checkout root), else `.bench_build` in the checkout."""
    return root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        home = str(Path(exe).resolve().parent.parent) if exe else None
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("etlbench: no Spark installation found (set SPARK_HOME)")
    return Path(home) / "jars"


def _sources(root):
    dirs = [root / "src/main/scala", root / "src/main/java", BENCH / "src"]
    files = sorted(p for d in dirs if d.is_dir() for p in d.rglob("*") if p.suffix in (".scala", ".java"))
    resources = root / "src/main/resources"
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return files, resources, res


def _stamp(root, files, jars):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes() + b"\0")
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    return h.hexdigest()


def source_hash(root=ROOT):
    files, _, res = _sources(root)
    return _stamp(root, files + res, spark_jars())


def classpath(out):
    """The run classpath: the benchmark jar, then Spark's jars by name (a
    class-data-sharing archive needs jar files listed explicitly)."""
    return ":".join([str(out / "etlbench.jar")] + [str(j) for j in sorted(spark_jars().glob("*.jar"))])


def ensure_built(root=ROOT, out=None):
    """Builds when the sources changed; returns the JVM flags that load the
    build: the classpath, and the class-data-sharing archive when one was
    made (it cuts JVM and Spark start-up, the same way on every commit)."""
    out = out or build_dir(root)
    jars = spark_jars()
    files, resources, res = _sources(root)
    if not any(p.suffix == ".scala" and BENCH / "src" not in p.parents for p in files):
        raise SystemExit(f"etlbench: engine sources not found under {root / 'src/main'}")
    stamp = _stamp(root, files + res, jars)
    jar, archive, stamp_file = out / "etlbench.jar", out / "etlbench.jsa", out / "build.stamp"
    if not (jar.exists() and stamp_file.exists() and stamp_file.read_text() == stamp):
        _compile(root, out, files, resources, res, jars)
        archive.unlink(missing_ok=True)
        _archive(out, archive)
        stamp_file.write_text(stamp)
    flags = ["-cp", classpath(out)]
    return flags + [f"-XX:SharedArchiveFile={archive}"] if archive.exists() else flags


def _archive(out, archive):
    """Dumps the classes a short generation run loads into a CDS archive."""
    work = out / "archive-run"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", *JVM_OPENS, f"-XX:ArchiveClassesAtExit={archive}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", classpath(out), "etlbench.Main", "--workload", "star_append", "--seed", "0",
           "--seconds", "0", "--trace", "0", "--cores", str(os.cpu_count()), "--work", str(work),
           "--out", str(work / "out.json"), "--inputs-only", "1"]
    with open(out / "archive.log", "w") as lf:
        subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
    shutil.rmtree(work, ignore_errors=True)


def _compile(root, out, files, resources, res, jars):
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    log = out / "build.log"
    java_files = [str(p) for p in files if p.suffix == ".java"]
    steps = [["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
              "-d", str(tmp), "-cp", cp] + [str(p) for p in files]]
    if java_files:
        steps.append(["javac", "-J-XX:-UsePerfData", "-nowarn", "-encoding", "UTF-8", "-d", str(tmp),
                      "-cp", f"{cp}:{tmp}"] + java_files)
    with open(log, "w") as lf:
        for cmd in steps:
            if subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode != 0:
                lf.flush()
                sys.stderr.write(log.read_text()[-4000:])
                raise SystemExit(f"etlbench: build failed (see {log})")
    for p in res:
        dst = tmp / p.relative_to(resources)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    jar = out / "etlbench.jar"
    jar.unlink(missing_ok=True)
    subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", str(jar), "-C", str(tmp), "."], check=True)
    shutil.rmtree(tmp)


if __name__ == "__main__":
    print(" ".join(ensure_built()))
