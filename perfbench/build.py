"""Build file of the benchmark: compiles the engine and the benchmark driver.

The engine's sources (``src/main/scala``) and the driver's (``perfbench/src``)
are compiled together with the Scala compiler that ships among the Spark jars,
into ``$CARGO_TARGET_DIR/perfbench/classes`` (default ``.bench_build``, at the
root of the checkout). A stamp of the sources' hash skips an up-to-date build.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCALA = "2.13.17"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return Path(home) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no jars)")
    return Path(m.group(1))


def sources():
    dirs = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
    missing = [str(d) for d in dirs if not d.is_dir()]
    if missing:
        raise SystemExit(f"perfbench: source directory missing: {missing}")
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def build_dir():
    target = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return (target if target.is_absolute() else ROOT / target) / "perfbench"


def build():
    """Compiles if the sources changed; returns the run-time classpath."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256(SCALA.encode())
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    out = build_dir()
    classes = out / "classes"
    stamp_file = out / "stamp"
    classpath = f"{classes}{os.pathsep}{jars}/*"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return classpath
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = os.pathsep.join(str(jars / f"scala-{m}-{SCALA}.jar")
                               for m in ("compiler", "library", "reflect"))
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", f"{jars}/*", "-d", str(tmp), f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        raise SystemExit(f"perfbench: compile failed ({res.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classpath


if __name__ == "__main__":
    print(build())
