#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the library
and the harness from source with sbt (into perfbench/target); later runs
reuse that build while the sources are unchanged. The harness runs in a
plain JVM. Its human-readable lines go to stdout, and the last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
Traced runs (--trace 1) also write span and per-layer summary files to
perfbench/out/trace/.
"""

import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("scan_agg", "ingest_mixed", "near_dup")
# a run must end within 180 s; the first run in a checkout may also build
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "4g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    roots = [os.path.join("src", "main"), os.path.join("perfbench", "src", "main")]
    files = [os.path.join("perfbench", "build.sbt"),
             os.path.join("perfbench", "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(os.path.join(ROOT, r)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt if the sources changed; return the runtime classpath."""
    stamp = os.path.join(HERE, "target", "bench-build.stamp")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == fp:
            return lines[1]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    print("perfbench: building with sbt ...", file=sys.stderr)
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    out = p.stdout.splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(out[-60:]) + "\n")
        fail(f"sbt build failed (exit {p.returncode})")
    cps = [line for line in out if not line.startswith("[") and "classes" in line]
    if not cps:
        sys.stderr.write("\n".join(out[-30:]) + "\n")
        fail("sbt did not print a classpath")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(fp + "\n" + cps[-1].strip() + "\n")
    return cps[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {os.path.join(ROOT, 'src', 'main', 'scala')}; "
             "run from the root of a source checkout")
    started = time.monotonic()
    classpath = build()

    out = os.path.join(HERE, "out", "trace" if a.trace else "run")
    tmp = os.path.join(HERE, "out", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed young generation, so the collector does not resize it in a
    # different way in each run
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xmn1g", "-XX:-UseAdaptiveSizePolicy",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--out", out])
    # the build may have used the first run's longer allowance; the run
    # itself always gets RUN_TIMEOUT_S
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                         text=True, start_new_session=True)
    try:
        stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s (after {time.monotonic() - started:.0f} s in total)")
    lines = stdout.splitlines()
    result = [line for line in lines if line.startswith('{"correct"')]
    if p.returncode != 0 or not result:
        sys.stdout.write("\n".join(line for line in lines if not line.startswith('{"correct"')) + "\n")
        fail(f"benchmark JVM exited with {p.returncode}" + ("" if result else " and no result"))
    for line in lines:
        if not line.startswith('{"correct"'):
            print(line)
    print(result[-1], flush=True)


if __name__ == "__main__":
    main()
