#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/src) with the Scala compiler that ships in
$SPARK_HOME/jars, into .bench_build/classes at the checkout root.

The build is skipped when a stamp of every source file and jar name
matches the last build. Run it alone with `python3 perfbench/build.py`;
perfbench/run.py calls it before every run.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = sorted(Path(home, "jars").glob("*.jar")) if home else []
    if not jars:
        raise BuildError("SPARK_HOME must name a Spark install with jars/")
    return jars


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    if not program:
        raise BuildError(f"no program sources under {ROOT / 'src/main/scala'}")
    return program + harness


def build():
    """Compile if needed; return the runtime classpath as a list."""
    jars = spark_jars()
    srcs = sources()
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    h = hashlib.sha256()
    for j in jars:
        h.update(j.name.encode())
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    stamp = h.hexdigest()
    classpath = [str(classes)] + [str(j) for j in jars]
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    args = OUT / "scalac.args"
    args.write_text("\n".join(str(s) for s in srcs) + "\n")
    compiler = [str(j) for j in jars if j.name.startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.pathsep.join(str(j) for j in jars), "-d", str(classes), f"@{args}"]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=840)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + (res.stdout + res.stderr)[-4000:])
    stamp_file.write_text(stamp)
    return classpath


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"build: {e}")
    print(f"built {OUT / 'classes'}")
