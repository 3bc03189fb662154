#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark harness (`perfbench/src`) with the Scala compiler that ships
in Spark's jar directory, into `.bench_build/perfbench/classes`.

    python3 perfbench/build.py

`run.py` calls `build()` before every run; it recompiles only when a source
file changed. Spark's jars come from `$SPARK_HOME/jars`, or else from the
jar directory the repository's `build.sbt` names.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars():
    """`$SPARK_HOME/jars`, else the `unmanagedBase` of the repository's sbt build."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME to a Spark installation")
    return Path(m.group(1))


def classpath(classes):
    return os.pathsep.join([str(classes), str(ROOT / "src" / "main" / "resources"),
                            f"{spark_jars()}/*"])


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"perfbench: no program sources under {program}")
    found = sorted(program.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    return found


def build():
    """Returns the classes directory, compiling first if any source changed."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = f"{spark_jars()}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp), "-classpath", jars] + [str(p) for p in srcs]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise SystemExit(f"perfbench: compilation failed ({proc.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
