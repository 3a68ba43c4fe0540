#!/usr/bin/env python3
"""Builds graft (src/main/scala) and the harness (graftbench/src) with
the Scala compiler that ships in Spark's jars, into
.bench_build/graftbench/classes-<source hash>. A build whose sources
are unchanged is reused.

    python3 graftbench/build.py        # prints the run classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the `unmanagedBase` that the
    repository's build.sbt compiles graft against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    return m.group(1) if m else ""


SPARK_JARS = spark_jars()

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not graft:
        raise SystemExit("graftbench: no graft sources under src/main/scala — "
                         "run from the repository root")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit("graftbench: Spark jars not found; set SPARK_HOME")
    return graft + bench


def source_hash(paths):
    """Content hash of `paths`; a changed source forces a rebuild."""
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    srcs = sources()
    dest = os.path.join(OUT, "classes-" + source_hash(srcs + [__file__]))
    if not os.path.isdir(dest):
        os.makedirs(OUT, exist_ok=True)
        for old in glob.glob(os.path.join(OUT, "classes-*")):
            if ".tmp-" not in old:
                shutil.rmtree(old, ignore_errors=True)
        tmp = f"{dest}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.path.join(SPARK_JARS, "*")
        proc = subprocess.run(
            [java(), "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
             "-usejavacp", "-nowarn", "-d", tmp, *srcs],
            stdout=sys.stderr, stderr=sys.stderr)
        if proc.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit(f"graftbench: compile failed ({proc.returncode})")
        try:
            os.rename(tmp, dest)
        except OSError:  # a concurrent build finished first
            shutil.rmtree(tmp, ignore_errors=True)
    # resources carry graft's DataSourceRegister (format "salesforce")
    return os.pathsep.join([dest, os.path.join(ROOT, "src", "main", "resources"),
                            os.path.join(SPARK_JARS, "*")])


if __name__ == "__main__":
    print(build())
