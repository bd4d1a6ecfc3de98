"""Build file of the benchmark package.

Compiles graft's main sources together with the benchmark's own sources
(perfbench/src) into one class directory with the Scala compiler that
ships in Spark's jar directory, so no build tool, network or dependency
cache is needed. The build is skipped when the sources have not changed
since the last one.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            sys.exit("perfbench: SPARK_HOME is unset and spark-submit is not on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Scala compiler jar under {jars}")
    return jars


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        sys.exit("perfbench: graft sources (src/main/scala) not found next to perfbench/")
    return sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def classpath() -> str:
    """Runtime classpath: compiled classes, graft's resources, Spark's jars."""
    return os.pathsep.join([str(CLASSES), str(ROOT / "src" / "main" / "resources"),
                            str(spark_jars() / "*")])


def build() -> str:
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()
    if STAMP.exists() and STAMP.read_text() == digest and CLASSES.is_dir():
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    jars = str(spark_jars() / "*")
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-classpath", jars, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit(f"perfbench: compilation failed ({r.returncode})")
    STAMP.write_text(digest)
    return classpath()


if __name__ == "__main__":
    print(build())
