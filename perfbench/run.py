#!/usr/bin/env python3
"""Closed-loop benchmark of the graft CDC replica and curation stores.

    python3 perfbench/run.py --workload <cdc_replica|curation_ingest> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first call compiles the program
(`src/main/scala`) together with the benchmark (`perfbench/src`) with the
Scala compiler that ships in Spark's jars, into `.bench_build/perfbench`;
later calls reuse the build while the sources are unchanged. Then one JVM
runs one workload (`graft.perfbench.Main`) over a fixed, seeded amount of
timed work (so its counts repeat for a seed; `--seconds` is passed on and
echoed) and the last stdout line is its result JSON. Per-layer detail, spans
and run canaries go to the sidecar file named on stderr. `--selftest` runs
the tests of the benchmark's own helpers (`graft.perfbench.SelfTest`).

Needs `java` and a Spark distribution (`SPARK_HOME`, else the one whose
`spark-submit` is on PATH). Exits nonzero without a result line when the
program's sources are absent, the build fails, or the run fails or times
out.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found (set JAVA_HOME)")
    return exe


def sources():
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(jars):
    """Compile program + benchmark unless the last build saw the same sources."""
    srcs = sources()
    if not any(s.startswith(PROGRAM_SRC + os.sep) for s in srcs):
        fail(f"no program sources under {os.path.relpath(PROGRAM_SRC, ROOT)}")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-cp", cp, "-d", tmp] + srcs
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("build failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)


def run_jvm(jars, main, args, work):
    """Run `main` in its own process group; returns (exit code, stdout lines)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = [java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR"] + opens + [
        "-cp", os.pathsep.join([CLASSES, os.path.join(jars, "*")]), main] + args
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{main} timed out after {RUN_TIMEOUT_S} s")
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["cdc_replica", "curation_ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    jars = spark_jars()
    build(jars)
    work = os.path.join(BUILD, "work", f"{a.workload or 'selftest'}-{os.getpid()}")
    try:
        if a.selftest:
            code, lines = run_jvm(jars, "graft.perfbench.SelfTest", [], work)
            print("\n".join(lines))
            sys.exit(code)
        sidecar = os.path.join(BUILD, "out", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        code, lines = run_jvm(jars, "graft.perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--sidecar", sidecar], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"run exited {code} without a result line")
    print(f"[perfbench] sidecar: {os.path.relpath(sidecar, ROOT)}", file=sys.stderr)
    print(json.dumps(result, separators=(",", ":")))
    sys.exit(code)


if __name__ == "__main__":
    main()
