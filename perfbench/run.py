#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload imdb_etl --seed 1 --seconds 12 --trace 0

Builds the library and the benchmark from source on first use (sbt, into
the checkout's `target/` directories; the runtime classpath is cached in
`.bench_build/`), then runs the benchmark JVM. Its report goes to stdout,
ending in one JSON line; Spark's log goes to `.bench_build/logs/`.

Extra flags: `--scale tiny` runs the smoke-test sizes; `--record-seeds A-B`
runs one pass per seed and writes its output digests to
perfbench/expected.json instead of measuring (README.md, "Output checks").
"""
import argparse
import hashlib
import os
import subprocess
import sys
from pathlib import Path

WORKLOADS = ("imdb_etl", "catalog_short")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (the same list the
# library's build.sbt passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every file the build reads, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    inputs = [root / "build.sbt", root / "perfbench" / "build.sbt"]
    for d in (root / "project", root / "perfbench" / "project"):
        inputs += sorted(p for p in d.glob("*") if p.is_file())
    for d in (root / "src" / "main", root / "perfbench" / "src"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(root, out):
    """Compile with sbt once per source state; returns the classpath."""
    stamp = source_stamp(root)
    cp_file, stamp_file = out / "classpath.txt", out / "stamp.txt"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = out / "logs" / "build.log"
    try:
        done = subprocess.run(
            ["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=root / "perfbench", env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_TIMEOUT_S} s", 3)
    log.write_text(done.stdout)
    lines = [l for l in done.stdout.splitlines() if l.strip()]
    if done.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("".join(done.stdout.splitlines(True)[-40:]))
        fail(f"build failed, see {log}", 3)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=("0", "1"))
    ap.add_argument("--scale", default="full", choices=("full", "tiny"))
    ap.add_argument("--record-seeds")
    args = ap.parse_args()
    if args.record_seeds is None and None in (args.seed, args.seconds, args.trace):
        ap.error("--seed, --seconds and --trace are required")

    root = Path.cwd()
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt", "perfbench/src"):
        if not (root / need).exists():
            fail(f"{need} not found: run from the root of a full checkout")
    out = root / ".bench_build"
    (out / "logs").mkdir(parents=True, exist_ok=True)
    (out / "tmp").mkdir(parents=True, exist_ok=True)
    classpath = build(root, out)

    # A fixed-size heap and the throughput collector: a growing G1 heap
    # made the first timed passes slower by a varying amount.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out / 'tmp'}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath]
    common = ["--workload", args.workload, "--scale", args.scale, "--root", str(root)]
    if args.record_seeds:
        log = out / "logs" / f"{args.workload}-record.log"
        cmd += ["perfbench.Record", "--seeds", args.record_seeds] + common
        timeout = None
    else:
        log = out / "logs" / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
        cmd += ["perfbench.Main", "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", args.trace] + common
        timeout = RUN_TIMEOUT_S
    sys.stdout.flush()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=root, stderr=err, stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s, see {log}", 4)
    if code != 0:
        sys.stderr.write("".join(log.read_text(errors="replace").splitlines(True)[-40:]))
        fail(f"benchmark JVM exited with {code}, see {log}", code)


if __name__ == "__main__":
    main()
