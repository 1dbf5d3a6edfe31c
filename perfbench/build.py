#!/usr/bin/env python3
"""Build file of the benchmark: compiles the project's main sources and the
harness under perfbench/src with scalac, against the Spark jars the
project's build.sbt names (`unmanagedBase`) or $SPARK_HOME/jars.

    python3 perfbench/build.py        # prints the classpath to run with

Output goes to .bench_build/classes. A stamp of the source contents makes a
second build of unchanged sources a no-op.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"


def spark_jars() -> Path:
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        raise SystemExit("perfbench: no Spark jars (set SPARK_HOME or build.sbt unmanagedBase)")
    return Path(m.group(1))


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"perfbench: no project sources under {main}")
    srcs = sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    return [p for p in srcs if p.is_file()]


def build() -> str:
    jars = spark_jars()
    cp = f"{jars}/*"
    srcs = sources()
    h = hashlib.sha256(str(jars).encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "classes.stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return f"{classes}:{cp}"
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", cp, "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return f"{classes}:{cp}"


if __name__ == "__main__":
    print(build())
