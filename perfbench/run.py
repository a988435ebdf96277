#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program's sources
together with the benchmark harness (perfbench/build.sbt) into .bench_build/;
later runs reuse that build while the sources are unchanged. Each run starts
one JVM that sets up the workload's tables, runs its seeded op stream for
--seconds, checks every result, and prints one JSON record as its last line.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

WORKLOADS = ("ingest_query", "dml_cdc", "llm_curation")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 175          # one run, build excluded
BUILD_LIMIT_S = 800
HEAP = "3g"                # fixed: -Xms = -Xmx

# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    trees = [os.path.join(ROOT, "src", "main"), HERE]
    for tree in trees:
        for d, dirs, files in os.walk(tree):
            # the benchmark's own tests are not part of the measured build
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project", "__pycache__", "test"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")) or "META-INF" in d:
                    yield os.path.join(d, f)
    yield os.path.join(HERE, "project", "build.properties")


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    scala = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(scala) or not any(f.endswith(".scala") for _, _, fs in os.walk(scala) for f in fs):
        fail(3, f"no program sources under {os.path.relpath(scala, ROOT)}; run from a full checkout")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building", file=sys.stderr)
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                         "writeClasspath"], BUILD_LIMIT_S, cwd=HERE, env=env,
                        stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(cp_file):
        fail(4, "build failed")
    with open(stamp_file, "w") as f:
        f.write(want)
    return open(cp_file).read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    cp = build()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:G1HeapRegionSize=16m",
           f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.buildDir={BUILD}"]
    jvm += [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
    cmd = jvm + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", a.trace]
    t0 = time.time()
    code, out = run_group(cmd, RUN_LIMIT_S, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                          text=True)
    if code is None:
        fail(5, f"run exceeded {RUN_LIMIT_S}s")
    lines = out.rstrip("\n").split("\n")
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    if code != 0:
        fail(6, f"benchmark JVM exited with {code}")
    rec = json.loads(lines[-1])
    if sorted(rec) != ["attempted", "correct", "failed", "metrics"]:
        fail(7, "malformed record")
    print(f"wall_s={time.time() - t0:.1f}", file=sys.stderr)
    print(lines[-1])


if __name__ == "__main__":
    main()
