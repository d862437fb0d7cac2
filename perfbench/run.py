#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the program and
the harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Everything the benchmark writes goes
under .bench_build/ in the checkout. The last line of standard output is the
JSON result: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import shutil
import random
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build" / "perfbench"
WORK = OUT / "work"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 175
JVM_HEAP = "4g"
# Each workload: the source tables its input is generated from, and the page
# amplification factor the pipeline runs with.
WORKLOADS = {"build_sf0.001": ("sf0.001", 1), "pages_x64_sf0.001": ("sf0.001", 64)}


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".sbt", ".scala", ".properties"))
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()


def file_split(seed, name):
    """Number of files a table is split into under a seed: 1 to 4."""
    return 1 + random.Random(f"{seed}/{name}/files").randrange(4)


def generate_input(src, out, seed):
    """Copy every table of `src` into `out` with its rows in a seeded order
    and split over a seeded number of files. Table contents are unchanged,
    so the program's outputs must not depend on the seed."""
    for path in sorted(src.glob("*.parquet")):
        name = path.stem
        table = pq.read_table(path)
        order = list(range(table.num_rows))
        random.Random(f"{seed}/{name}").shuffle(order)
        table = table.take(order)
        n = file_split(seed, name)
        dest = out / f"{name}.parquet"
        dest.mkdir(parents=True)
        step = -(-table.num_rows // n)
        for i in range(n):
            pq.write_table(table.slice(i * step, step), dest / f"part-{i:05d}.parquet")


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} did not finish within {timeout}s")
    return proc.returncode, out


def build():
    stamp = source_stamp()
    stamp_file = OUT / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and \
            (OUT / "classpath.txt").exists() and (OUT / "javaopts.txt").exists():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    print("[perfbench] building graft and the harness with sbt", file=sys.stderr)
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=sys.stderr)
    if code != 0:
        fail(f"sbt build failed with exit code {code}")
    stamp_file.write_text(stamp)


def java_command(args, input_dir, gen_s):
    cp = (OUT / "classpath.txt").read_text().strip()
    # The program's own JVM options, minus the heap size and Spark's local
    # directory, which the benchmark pins to stay small and inside the checkout.
    opts = [o for o in (OUT / "javaopts.txt").read_text().split("\n")
            if o and not o.startswith("-Xmx") and not o.startswith("-Dspark.local.dir=")]
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    return ["java", *opts, f"-Xmx{JVM_HEAP}", f"-Dspark.local.dir={tmp / 'spark_local'}",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--mult", str(WORKLOADS[args.workload][1]),
            "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--input", str(input_dir), "--gen-s", repr(gen_s),
            "--work", str(WORK)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft",
                 BENCH / "build.sbt", BENCH / "data"):
        if not need.exists():
            fail(f"{need.relative_to(ROOT)} is missing: run from the root of a graft checkout")
    OUT.mkdir(parents=True, exist_ok=True)
    build()

    shutil.rmtree(WORK, ignore_errors=True)
    # Set-up, part 1: the seeded input copy, made three times into fresh
    # directories (the median time is reported); the last copy is used.
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; known: {', '.join(WORKLOADS)}")
    src = BENCH / "data" / WORKLOADS[args.workload][0]
    gen_times = []
    for i in range(3):
        input_dir = WORK / f"input_{i}"
        t0 = time.perf_counter()
        generate_input(src, input_dir, args.seed)
        gen_times.append(time.perf_counter() - t0)
    code, out = run_group(java_command(args, input_dir, statistics.median(gen_times)),
                          RUN_TIMEOUT_S, cwd=ROOT,
                          stdout=subprocess.PIPE, text=True)
    result = None
    for line in out.splitlines():
        if line.startswith('{"correct"'):
            result = json.loads(line)
        else:
            print(line, file=sys.stderr)
    shutil.rmtree(WORK / "tmp", ignore_errors=True)
    if code != 0 or result is None:
        fail(f"benchmark JVM exited with code {code}" +
             ("" if result else " and printed no result"))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
