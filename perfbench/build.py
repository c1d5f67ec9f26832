#!/usr/bin/env python3
"""Build the benchmark from source.

Compiles graft's main sources (``src/main/scala``) and then the benchmark's
own sources (``perfbench/src``) with the Scala compiler that ships in the
Spark distribution's ``jars`` directory (``$SPARK_HOME/jars``, or the
distribution whose ``spark-submit`` is on ``PATH``), one jar per stage. Each stage is rebuilt only when a
hash of its inputs changes. Output goes under the build directory given as
the only argument (default ``.bench_build``).

    python3 perfbench/build.py [build_dir]

Prints the runtime classpath and the build's key on success.
"""

import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STAGES = [
    ("graft", os.path.join(ROOT, "src", "main", "scala")),
    ("bench", os.path.join(HERE, "src")),
]


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars) and any(
                f.startswith("scala-compiler") for f in os.listdir(jars)):
            return jars
    raise SystemExit("build: no Spark distribution with a Scala compiler in its jars "
                     "(set SPARK_HOME)")


def sources(src_dir):
    if not os.path.isdir(src_dir):
        raise SystemExit(f"build: source directory missing: {src_dir}")
    out = []
    for base, _, files in os.walk(src_dir):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    if not out:
        raise SystemExit(f"build: no Scala sources under {src_dir}")
    return sorted(out)


def digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(out_dir):
    """Returns (classpath, key); the key changes with any input."""
    jars = spark_jars()
    out_dir = os.path.abspath(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    classpath = [os.path.join(jars, "*")]
    key = ",".join(sorted(os.listdir(jars)))
    for name, src_dir in STAGES:
        files = sources(src_dir)
        key = digest(files, key)
        dest = os.path.join(out_dir, f"{name}.jar")
        stamp = os.path.join(out_dir, f"{name}.stamp")
        if not (os.path.isfile(dest) and os.path.isfile(stamp)
                and open(stamp).read() == key):
            tmp = os.path.join(out_dir, f"{name}.tmp.jar")
            cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                   "-cp", os.path.join(jars, "*"),
                   "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                   "-classpath", os.pathsep.join(classpath)] + files
            print(f"build: compiling {len(files)} {name} sources", file=sys.stderr)
            if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
                raise SystemExit(f"build: {name} failed to compile")
            os.replace(tmp, dest)
            with open(stamp, "w") as fh:
                fh.write(key)
        classpath.insert(0, dest)
    return os.pathsep.join(classpath), key


if __name__ == "__main__":
    print(*build(sys.argv[1] if len(sys.argv) > 1 else ".bench_build"), sep="\n")
