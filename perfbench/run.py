#!/usr/bin/env python3
"""Launcher for the extractor benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload transcripts_synth --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt when the sources
changed since the last build (the first run in a checkout), then starts one
JVM directly on the built classpath. The heap is sized from /proc/meminfo
the way the repository's test command sizes it (half of RAM, 2..8 GiB),
never from build.sbt's `run` default. The JVM's last stdout line is the
result object and the line before it the run record (nproc, heap, load
average, samples); both are printed unchanged, the result last, and
appended with the machine record to .bench_build/perfbench/results.jsonl.
"""
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "sources.sha1")

# Spark 4 on JDK 17 outside spark-submit; same list as the root build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha1()
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "writeClasspath"]
    # the build's chatter goes to stderr: stdout ends with the result line
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)


def heap():
    """Half of RAM in whole GiB, clamped to 2..8 (the tier-1 test command's rule)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{max(2, min(8, int(line.split()[1]) // 2097152))}g"
    except OSError:
        pass
    return "2g"


def main(argv):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"program sources not found under {ROOT}/src/main/scala")
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = ["java", f"-Xmx{heap()}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd = jvm + ["-cp", cp, "perfbench.Main", "--root", ROOT] + argv
    # these would move Spark's scratch space out of the checkout
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    r = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                       timeout=175, text=True)
    lines = r.stdout.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if r.returncode != 0 or not lines:
        fail(f"benchmark exited with {r.returncode}")
    result = lines[-1]
    info = json.loads(lines[-2]).get("info", {}) if len(lines) > 1 else {}
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps({"info": info, "result": json.loads(result)}) + "\n")
    print(result)


if __name__ == "__main__":
    main(sys.argv[1:])
