#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala)
and the benchmark (perfbench/src) with the Scala compiler that
ships in the Spark jars, into .bench_build/perfbench/. A build is
reused while a digest of every source it was made from is unchanged.

Usage, from the repository root: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = Path(".bench_build") / "perfbench"


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the build's
    unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def _sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _digest(root, groups):
    h = hashlib.sha256()
    for files in groups:
        for p in files:
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def _scalac(jars, out, classpath, files):
    out.mkdir(parents=True)
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-cp", os.pathsep.join(classpath + [f"{jars}/*"]), f"@{argfile}"]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    argfile.unlink()


def ensure_built(root):
    """Compile if needed; return the run-time classpath."""
    root = Path(root).resolve()
    program = _sources(root / "src" / "main" / "scala")
    bench = _sources(root / "perfbench" / "src")
    resources = sorted(p for p in (root / "src" / "main" / "resources").rglob("*")
                       if p.is_file())
    if not program or not bench:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    jars = spark_jars(root)
    build = root / BUILD_DIR
    stamp = build / "stamp"
    digest = _digest(root, [program, bench, resources])
    classes, bench_classes = build / "classes", build / "bench-classes"
    if not (stamp.is_file() and stamp.read_text() == digest):
        if build.exists():
            shutil.rmtree(build)
        build.mkdir(parents=True)
        _scalac(jars, classes, [], program)
        _scalac(jars, bench_classes, [str(classes)], bench)
        stamp.write_text(digest)
    return [str(bench_classes), str(classes),
            str(root / "src" / "main" / "resources"), f"{jars}/*"]


if __name__ == "__main__":
    ensure_built(Path.cwd())
