"""Build file of the benchmark: compiles graft's main sources together
with the benchmark program into .bench_build/classes.

graft's own build (sbt) takes its jars from the Spark install
(`unmanagedBase` in build.sbt); this script calls the Scala compiler that
ships in the same jar directory directly, which takes well under a minute
and needs no sbt start-up. A stamp of the source hashes makes a second
call a no-op.

    python3 perfbench/build.py      # prints the classes directory
"""
import hashlib
import os
import re
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"
SCALA = "2.13.17"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory graft's build.sbt uses."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.is_file() else "")
        if not m:
            sys.exit("build: set SPARK_HOME to the Spark install")
        jars = Path(m.group(1))
    if not (jars / f"scala-compiler-{SCALA}.jar").is_file():
        sys.exit(f"build: no Scala {SCALA} compiler under {jars}")
    return jars


RESOURCES = ROOT / "src" / "main" / "resources"


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        sys.exit(f"build: graft sources not found at {main}")
    srcs = sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return [p for p in srcs if p.is_file()]


def resources() -> list:
    return sorted(p for p in RESOURCES.rglob("*") if p.is_file())


def build() -> Path:
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + resources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "classes.stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = OUT / "classes.tmp"
    subprocess.run(["rm", "-rf", str(tmp)], check=True)
    tmp.mkdir(parents=True)
    args = OUT / "scalac.args"
    args.write_text("\n".join(str(p) for p in srcs) + "\n")
    compiler = ":".join(str(jars / f"scala-{j}-{SCALA}.jar")
                        for j in ("compiler", "library", "reflect"))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-classpath", f"{jars}/*", "-d", str(tmp), f"@{args}"],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed with code {r.returncode}")
    # the data-source registrations (META-INF/services) ride along
    for p in resources():
        dst = tmp / p.relative_to(RESOURCES)
        dst.parent.mkdir(parents=True, exist_ok=True)
        dst.write_bytes(p.read_bytes())
    subprocess.run(["rm", "-rf", str(classes)], check=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
