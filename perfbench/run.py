#!/usr/bin/env python3
"""Run one benchmark workload against graft, built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: crud_mixed, stream_ingest, vector_index (see workloads.json).
The first run builds graft and the benchmark (perfbench/build.py) into the
build directory, ``$CARGO_TARGET_DIR`` or ``.bench_build``; later runs reuse
the build while the sources are unchanged. The JVM runs Spark in local mode
on every core, with one client issuing one operation at a time.

The report goes to standard output; its last line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1`` (that
run also writes its spans under ``<build dir>/trace``). The exit code is not
0 when the build, the run or a correctness check fails.
"""

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

WORKLOADS = ("crud_mixed", "stream_ingest", "vector_index")
TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    out_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath, key = build.build(out_dir)
    # the JVM's class-data archive for this build: written at the exit of
    # the first run, mapped by later runs (about halves session start)
    archive = os.path.join(out_dir, f"classes-{key[:16]}.jsa")
    if os.path.isfile(archive):
        cds = f"-XX:SharedArchiveFile={archive}"
    else:
        for old in glob.glob(os.path.join(out_dir, "classes-*.jsa")):
            os.remove(old)
        cds = f"-XX:ArchiveClassesAtExit={archive}"
    work = os.path.join(out_dir, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the run sees only its generated inputs: no engine tuning from outside
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    # a fixed-size heap with fixed generation sizes keeps the resident set
    # comparable from run to run
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            "-Xss8m", cds, "-Xlog:disable", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: {a.workload} did not finish within {TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines.pop())
    for line in lines:
        print(line)
    if proc.returncode != 0 or result is None:
        sys.exit(f"perfbench: {a.workload} failed (exit {proc.returncode})")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
