"""Builds the program and the benchmark's JVM side from source.

Compiles `src/main/scala` together with `perfbench/scala` using the Scala
compiler that ships in the Spark distribution's jars, into the jar
`.bench_build/perfbench-<source hash>.jar`. A tree whose sources are
unchanged reuses its jar.

Usage: python3 perfbench/build.py   (prints the jar)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jars at {jars!r} (set SPARK_HOME)")
    return jars


def sources():
    found = []
    for top in SOURCE_DIRS:
        if not os.path.isdir(top):
            raise SystemExit(f"perfbench: missing source directory {top}")
        for d, _, names in os.walk(top):
            found += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(found)


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    name = "perfbench-" + h.hexdigest()[:16]
    jar = os.path.join(OUT, name + ".jar")
    if os.path.exists(jar):
        return jar
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-cp", cp, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({done.returncode})")
    # a jar, not a directory: the JVM's class-data archives (run.py) cover
    # classes from jars only
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(tmp)):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), tmp))
    shutil.rmtree(tmp)
    for old in os.listdir(OUT):
        if old.startswith("perfbench-") and not old.startswith(name):
            os.remove(os.path.join(OUT, old))
    os.rename(jar + ".tmp", jar)
    return jar


if __name__ == "__main__":
    print(build())
